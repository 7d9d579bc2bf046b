package graft.query

import java.util.regex.Pattern

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.embed.{Embedder, HashEmbedder}
import graft.expr.TextNorm
import graft.functions.cosine_similarity
import graft.store.VectorStore

/**
 * Query path (SURVEY §3.2), re-expressing
 * `QueryVectorDB.search` (reference `vector_db_query.py:141-263`)
 * for every index as one filter-and-verify pipeline:
 *
 *  1. each query is embedded on the driver (O5/O6/O13);
 *  1. the [[Searcher.Index]] yields per-query candidates `(id, sim)`:
 *     `Flat`, `Lsh` and `Ivf` score the exact cosine over their (pruned)
 *     cells and keep the k best (O15/K1); `Pq` and `Quantized` rank their
 *     narrow code side table and verify their top `max(k, rerank)` ids with
 *     the exact cosine of the stored vectors; `Hnsw` hands over its beam's
 *     similarities;
 *  1. one tail does the rest for every index, on the driver: the cut to k
 *     on the raw similarity in `(sim desc, id)` order (SURVEY §7.4.4), the
 *     threshold AFTER the cut (F5, §4.1), the `id IN (...)` lookup of
 *     text+metadata (J1) with the post-top-k search-term (F6) and
 *     document-type (F7) filters in the same scan, then the clip,
 *     `distance = 1 - sim` and the `(similarity_score desc, id)` order
 *     (O14). The result is a local relation: collecting it runs no job.
 *
 * A single query is a batch of one: its values bind as literals, so a
 * `Flat` search runs three jobs — the parquet schema read of the vectors
 * table, one `TakeOrderedAndProject` top-k scan and the id lookup. A larger
 * batch scores all its queries in one pass over the table and cuts each
 * with a bounded per-query aggregate ([[graft.ops.TopK.perGroup]]), never a
 * window rank. Nothing on the driver scales with the table.
 */
final class Searcher(spark: SparkSession, store: VectorStore) {
  import Searcher._

  /** One query: `(id, text, metadata, similarity_score, distance)`. */
  def search(db: String, query: String, p: Params = Params(),
      index: Index = Flat): DataFrame =
    run(db, Seq(query), None, p, index)

  /** A batch of `(query_id, text)`: the single-query columns after
    * `query_id`, ordered by `query_id`. */
  def search(db: String, queries: Seq[(String, String)], p: Params,
      index: Index): DataFrame =
    run(db, queries.map(_._2), Some(queries.map(_._1).toIndexedSeq), p, index)

  /** `search(db, queries, p, Flat)`. */
  def searchMany(db: String, queries: Seq[(String, String)],
      p: Params = Params()): DataFrame = search(db, queries, p, Flat)

  /** `search(db, queries, p, Ivf(nprobe))`. */
  def searchManyIvf(db: String, queries: Seq[(String, String)],
      p: Params = Params(), nprobe: Int = 2): DataFrame = search(db, queries, p, Ivf(nprobe))

  /** `search(db, queries, p, Hnsw(ef))`. */
  def searchHnswMany(db: String, queries: Seq[(String, String)],
      p: Params = Params(), ef: Int = 50): DataFrame = search(db, queries, p, Hnsw(ef))

  /** `search(db, query, p, Pq(nprobe))`. */
  def searchPq(db: String, query: String, p: Params = Params(),
      nprobe: Int = 2): DataFrame = search(db, query, p, Pq(nprobe))

  private def run(db: String, texts: Seq[String], names: Option[IndexedSeq[String]],
      p: Params, index: Index): DataFrame = {
    val qs = texts.map(embedQuery(_, p)).toIndexedSeq
    val vectors = store.vectors(db)
    val (scope, found) = candidates(db, vectors, qs, p.k, index)
    val kept = found.groupBy(_._1).map { case (q, cs) =>
      q -> cs.sortBy(c => (-c._3, c._2)).take(p.k).filter(_._3 >= p.threshold)
    }
    val ids = kept.values.flatten.map(_._2).toSeq.distinct
    val looked = // §4.1.2: nothing passed, no lookup job
      if (ids.isEmpty) Map.empty[Long, Row]
      else postFilter(scope.filter(col("id").isin(ids: _*)) // pushed to parquet stats
          .select("id", "text", "metadata"), p)
        .collect().map(r => r.getLong(0) -> r).toMap
    val rows = qs.indices.sortBy(q => names.fold("")(_(q))).flatMap { q =>
      kept.getOrElse(q, Nil)
        .flatMap { case (_, id, sim) =>
          // O14: the score is clipped into [0, 1], the distance is not
          looked.get(id).map(r => (r, math.min(1.0, math.max(0.0, sim)), 1.0 - sim))
        }
        .sortBy { case (r, score, _) => (-score, r.getLong(0)) }
        .map { case (r, score, distance) =>
          Row.fromSeq(names.map(_(q)).toSeq ++
            Seq(r.getLong(0), r.getString(1), r.getStruct(2), score, distance))
        }
    }
    spark.createDataFrame(rows.asJava, StructType(
      names.map(_ => StructField("query_id", StringType)).toSeq ++ Seq(
        StructField("id", LongType, nullable = false),
        StructField("text", StringType),
        vectors.schema("metadata"),
        StructField("similarity_score", DoubleType, nullable = false),
        StructField("distance", DoubleType, nullable = false))))
  }

  /** The candidates `(query, id, sim)` of `index` for the queries `qs`, and
    * the frame the tail looks hits up in: the probed cells of a
    * partitioned store, else the whole vectors table. */
  private def candidates(db: String, vectors: DataFrame, qs: IndexedSeq[Array[Float]],
      k: Int, index: Index): (DataFrame, Seq[Cand]) = {
    val exact = cosine_similarity(col("vector"), bind(qs))
    def cells(column: String, probes: IndexedSeq[Seq[Long]]): (DataFrame, Seq[Cand]) =
      (within(vectors, column, probes), best(vectors, qs.length, exact, k, Some(column -> probes)))
    index match {
      case Flat => (vectors, best(vectors, qs.length, exact, k))
      case Lsh(probes) =>
        // the query's own LSH cell plus `probes` 1-bit-flip neighbours
        val (nbits, seed) = store.lshParams(db)
        cells("bucket", qs.map { q =>
          val b = graft.expr.SketchOps.lshBucket(new GenericArrayData(q), nbits, seed)
          (b +: (0 until math.min(probes, nbits)).map(x => b ^ (1 << x))).distinct.map(_.toLong)
        })
      case Ivf(nprobe) =>
        // the `nprobe` learned centroids nearest the query, ranked on the driver
        val cents = store.centroids(db)
        cells("cluster", qs.map(graft.ops.Ivf.probeList(cents, _, nprobe).map(_.toLong)))
      case Pq(nprobe) =>
        // ADC over the `pq_codes` side table of the probed clusters
        val cents = store.centroids(db)
        val books = store.codebooks(db)
        val probes = qs.map(graft.ops.Ivf.probeList(cents, _, nprobe).map(_.toLong))
        val tables = bind(qs.map(graft.ops.Pq.adcTables(_, books).map(_.toArray).toArray))
        val adc = books.indices.map { s =>
          element_at(element_at(tables, s + 1), element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _)
        val scope = within(vectors, "cluster", probes)
        val n = math.max(k, PqRerank)
        (scope, verify(scope, qs, n,
          best(store.pqCodes(db), qs.length, -adc, n, Some("cluster" -> probes))))
      case Quantized(mode, rerank) =>
        // sq8: the rescaled integer dot product; binary: hamming over sign bits
        val rank =
          if (mode == "sq8") {
            val qq = qs.map(graft.ops.Quantize.quantizeQuery)
            graft.ops.Quantize.approxDotCol(col("codes"), col("sc"),
              bind(qq.map(_._1.toArray)), bind(qq.map(_._2)))
          } else -graft.ops.Ann.hammingCol(col("sig"), bind(qs.map(graft.ops.Ann.packWords(_).toArray)))
        val n = math.max(k, rerank)
        (vectors, verify(vectors, qs, n, best(store.quantCodes(db), qs.length, rank, n)))
      case Hnsw(ef) =>
        val (_, maxLevel, buckets) = store.hnswMeta(db)
        val beams = graft.ops.Hnsw.searchMany(store.hnswEdges(db), vectors,
            col("id"), col("vector"), qs.indices.map(q => (q.toLong, qs(q))),
            k, maxLevel, ef, srcBuckets = buckets)
          .collect()
        (vectors, beams.map(r => (r.getLong(0).toInt, r.getLong(2), r.getDouble(3))).toSeq)
    }
  }

  /** The exact cosine of each query's own code-ranked candidates, read
    * from `scope` by id pushdown. */
  private def verify(scope: DataFrame, qs: IndexedSeq[Array[Float]], n: Int,
      ranked: Seq[Cand]): Seq[Cand] =
    if (ranked.isEmpty) Seq.empty
    else {
      val own = qs.indices.map(q => ranked.collect { case (`q`, id, _) => id })
      best(scope, qs.length, cosine_similarity(col("vector"), bind(qs)), n,
        Some("id" -> own))
    }

  /** Per query, the `n` best `(id, score)` rows of `table` by
    * `(score desc, id)`, landed on the driver. With `cells`, each query
    * sees only the rows whose `cells._1` value is one of its own — partition
    * pruning on a clustered store, id pushdown for a refine. A batch of one
    * is one `TakeOrderedAndProject` job; a larger batch joins each row to
    * the queries it belongs to and cuts with one bounded per-query
    * aggregate, so the shuffle carries ≤ partitions × queries × n rows. */
  private def best(table: DataFrame, nq: Int, score: Column, n: Int,
      cells: Option[(String, IndexedSeq[Seq[Long]])] = None): Seq[Cand] = {
    val own = cells.fold(table) { case (c, vs) => within(table, c, vs) }
    if (nq == 1)
      own.select(col("id"), score.cast("double").as("score"))
        .orderBy(col("score").desc, col("id")).limit(n)
        .collect().map(r => (0, r.getLong(0), r.getDouble(1))).toSeq
    else {
      val spark2 = spark
      import spark2.implicits._
      val queries = broadcast((0 until nq).toDF("qi"))
      val scored = cells.fold(own.crossJoin(queries)) { case (c, vs) =>
        own.join(queries, array_contains(bind(vs.map(_.toArray)), col(c).cast("long")))
      }
      graft.ops.TopK.perGroup(scored, Seq(col("qi")), col("id"), score, n)
        .select("qi", "id", "sim").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    }
  }

  /** The rows of `table` whose `column` holds any query's value. */
  private def within(table: DataFrame, column: String, vs: IndexedSeq[Seq[Long]]): DataFrame =
    table.filter(col(column).isin(vs.flatten.distinct: _*))

  /** A per-query value as a column: a batch of one binds it as a literal,
    * a larger batch picks each row's own out of one literal array by the
    * row's query number `qi`. */
  private def bind[T: ClassTag](vs: IndexedSeq[T]): Column =
    if (vs.length == 1) lit(vs.head) else element_at(lit(vs.toArray), col("qi") + 1)

  /** F6/F7: the post-top-k search-term and document-type filters over
    * looked-up `(text, metadata)` rows. F6 is case-insensitive containment
    * via `(?i)`+quote instead of contains(lower(..)) — see T2Queries q19
    * note on Spark 4 lower(). */
  private def postFilter(hits: DataFrame, p: Params): DataFrame = {
    val byTerm = p.searchTerm.filter(_.nonEmpty).fold(hits) { term =>
      hits.filter(col("text").rlike("(?i)" + Pattern.quote(term)))
    }
    p.documentTypeFilter.filter(_.nonEmpty).fold(byTerm) { v =>
      byTerm.filter(col("metadata.document_type") === v)
    }
  }

  /** Query vector of one query (prompt-prefix + normalize, O5/O6/O13). */
  private def embedQuery(query: String, p: Params): Array[Float] = {
    val normalized = TextNorm.normalizeQuery(query)
    p.embedder.embed(p.promptFamily.fold(normalized) { fam =>
      graft.embed.PromptPrefix.applyTo(fam, isQuery = true, normalized)
    })
  }

  /**
   * Hybrid search: reciprocal-rank fusion of the brute-force cosine top
   * `candidates` with BM25 over the store's chunk text for the query's own
   * tokens — lexical recall the embedding-only path misses (exact
   * names/ids) and vice versa. Both candidate lists are bounded BEFORE
   * fusion (TakeOrderedAndProject each side), so the rank windows only see
   * candidate-sized inputs; the text/metadata join touches the fused top-k
   * rows only. Returns hit rows + `hybrid_score` (RRF) with
   * `similarity_score`/`distance` from the cosine side (0/1 when the hit
   * was lexical-only).
   *
   * `p.threshold` applies to the COSINE leg only, after its top-k (the F5
   * §4.1 contract, same as [[search]]): vector candidates below the
   * threshold drop out of the fusion. Lexical candidates are never
   * thresholded — BM25 scores are not similarities — so lexical-only hits
   * still surface (with `similarity_score` 0) at any threshold.
   */
  def searchHybrid(db: String, query: String,
      p: Searcher.Params = Searcher.Params(), candidates: Int = 50,
      k0: Int = 60): DataFrame = {
    val qvec = embedQuery(query, p)
    val terms = TextNorm.normalizeQuery(query).toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq

    val vectors = store.vectors(db)
    val vec = vectors
      .select(col("id"),
        round(cosine_similarity(col("vector"), typedLit(qvec)), 4).as("s"))
      .orderBy(col("s").desc, col("id")).limit(candidates)
      .filter(col("s") >= p.threshold) // F5: threshold after top-k (§4.1)
    val kw = graft.ops.Keyword.bm25(vectors.select(col("id"), col("text")),
        col("id"), col("text"), terms)
      .select(col("id"), round(col("score"), 4).as("s"))
      .orderBy(col("s").desc, col("id")).limit(candidates)

    val fused = graft.ops.Keyword.rrfFuse(kw, col("s"), vec, col("s"), k0)
      .orderBy(col("rrf").desc, col("id")).limit(p.k)
    // k-row fused list and 50-row sim list broadcast; the store-side scan
    // joins them hash-side without shuffling text+metadata
    vectors.select("id", "text", "metadata")
      .join(broadcast(fused), Seq("id"))
      .join(broadcast(vec.withColumnRenamed("s", "sim")), Seq("id"), "left")
      .withColumn("similarity_score",
        least(greatest(coalesce(col("sim"), lit(0.0)), lit(0.0)), lit(1.0)))
      .withColumn("distance", lit(1.0) - col("similarity_score"))
      .select(col("id"), col("text"), col("metadata"),
        col("similarity_score"), col("distance"), col("rrf").as("hybrid_score"))
      .orderBy(col("hybrid_score").desc, col("id"))
  }
}

object Searcher {
  /** Defaults from the reference config (`/root/reference/config.py:28-32`).
    * `promptFamily` opts into the model-family query prefix (O6); the stub
    * embedder path leaves it off (FIXTURES §4). */
  final case class Params(
      k: Int = 6,
      threshold: Double = 0.4,
      searchTerm: Option[String] = None,
      documentTypeFilter: Option[String] = None,
      embedder: Embedder = HashEmbedder(),
      promptFamily: Option[String] = None)

  /** The index a search reads its candidates from. */
  sealed trait Index

  /** Brute-force cosine over the whole vectors table, the reference's FLAT
    * index (SURVEY §2.1 S12). */
  case object Flat extends Index

  /** A sign-LSH clustered store
    * ([[graft.store.VectorStore.writeVectorsClustered]], whose `nbits` and
    * `seed` it reads back): the query's own cell plus `probes` 1-bit-flip
    * neighbours, read by partition pruning. */
  final case class Lsh(probes: Int = 1) extends Index

  /** A learned-centroid store ([[graft.store.VectorStore.writeVectorsIvf]]):
    * the `nprobe` clusters whose centroids are nearest the query, read by
    * partition pruning. With data-adaptive cells the same probe fraction
    * buys more recall than sign-LSH. */
  final case class Ivf(nprobe: Int = 2) extends Index

  /** An IVF-PQ store ([[graft.store.VectorStore.writeVectorsPq]]): the
    * `pq_codes` side table of the `nprobe` nearest clusters — m small ints
    * per row instead of the vector — ranked by the ADC table lookup
    * ([[graft.ops.Pq.adcTables]]); the top `max(k, 50)` are verified by
    * their exact cosine. */
  final case class Pq(nprobe: Int = 2) extends Index

  /** How many ADC-ranked candidates a [[Pq]] search verifies at least:
    * coarse codes misrank near neighbours, so verifying only k of them
    * loses recall. */
  private val PqRerank = 50

  /** The quantized side table
    * ([[graft.store.VectorStore.writeVectorsQuantized]]): int8 codes ranked
    * by the rescaled integer dot product (`mode = "sq8"`) or packed sign
    * bits ranked by hamming (`mode = "binary"`); the top `max(k, rerank)`
    * are verified by their exact cosine. */
  final case class Quantized(mode: String = "sq8", rerank: Int = 50) extends Index {
    require(mode == "sq8" || mode == "binary",
      s"unknown quantized search mode '$mode' (sq8 | binary)")
  }

  /** A persisted HNSW graph ([[graft.store.VectorStore.writeHnsw]]): the
    * `ef`-wide beam descent ([[graft.ops.Hnsw.searchMany]]), one adjacency
    * job per hop for the whole batch; cost is `hops × ef × M` adjacency
    * rows, never a corpus scan. Its similarities are the beam's, rounded
    * to 4 dp. */
  final case class Hnsw(ef: Int = 50) extends Index

  /** A candidate: the query's position in its batch, the id, its similarity. */
  private type Cand = (Int, Long, Double)

  /** S17 side files (`/root/reference/chat_llm.py:34-40`): the contexts of
    * `hits` (`"---"`-separated) and one metadata JSON per line, in the
    * order of `hits`. Meant for a collected, local hit relation, so the
    * side files describe exactly the hits the caller already holds. */
  def writeSearchArtifacts(hits: DataFrame, outDir: String): Unit = {
    val rows = hits.select(col("text"),
      to_json(struct(col("metadata.*"), col("similarity_score"), col("distance")))
        .as("meta_json")).collect()
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("contexts.txt"),
      rows.map(_.getString(0)).mkString("", "\n\n---\n\n", "\n\n---\n\n"))
    java.nio.file.Files.writeString(dir.resolve("metadata.txt"),
      rows.map(_.getString(1)).mkString("", "\n", "\n"))
  }
}
