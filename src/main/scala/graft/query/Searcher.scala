package graft.query

import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.embed.{Embedder, HashEmbedder}
import graft.expr.TextNorm
import graft.functions.cosine_similarity
import graft.store.VectorStore

/**
 * Query path (SURVEY §3.2), re-expressing
 * `QueryVectorDB.search` (`/root/reference/vector_db_query.py:141-263`):
 *
 * embed query on the driver (O13) → brute-force cosine over the vectors
 * table (O15/K1: column-pruned `(id, vector)` scan fused with the cosine
 * expression, planned as `TakeOrderedAndProject` — per-partition heaps, no
 * global sort) → similarity threshold AFTER top-k (F5, §4.1 contract) →
 * `id IN (...)` lookup of text+metadata (J1) with the post-top-k
 * search-term (F6) and document-type (F7) filters in the same scan →
 * score fields injected on the driver (O14).
 *
 * [[search]] runs three jobs: the parquet schema read of the vectors
 * table, the top-k scan and the pushed id lookup. Both scans land ≤ k rows
 * on the driver, which joins them, clips and orders there and returns a
 * local relation — collecting it runs no further job, and nothing on the
 * driver scales with the table.
 */
final class Searcher(spark: SparkSession, store: VectorStore) {

  // Process-cached query state (SURVEY §4.2), the Spark analogue of the
  // reference's thread-local QueryVectorDB cache
  // (`/root/reference/vector_db_query.py:289-317`): repeated queries against
  // the same db reuse one cached vectors DataFrame instead of re-reading
  // parquet footers per query. Opt-in via warm(db).
  private val cachedVectors =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Cache the db's vectors table in memory for repeated queries. */
  def warm(db: String): Unit =
    cachedVectors.getOrElseUpdate(db, store.vectors(db).cache())

  /** Drop the cached table (reference `close()`). */
  def cool(db: String): Unit =
    cachedVectors.remove(db).foreach(_.unpersist())

  private def vectorsOf(db: String): DataFrame =
    cachedVectors.getOrElse(db, store.vectors(db))

  /**
   * Two-phase search, the reference's own shape (§3.2: FLAT scan, then
   * `multi_index[ids]` point lookup):
   *
   * Phase 1 scores `(id, vector)` only — at 100 TB this is the whole read —
   * and lands ≤ k rows on the driver. Empty after threshold → return
   * without a lookup job (§4.1.2 short-circuit). Phase 2 re-reads only
   * `(id, text, metadata)` with an `id IN (...)` predicate pushed into
   * parquet and the post-top-k filters applied in the same scan: the
   * vectors table is written range-partitioned and sorted by id, so
   * row-group min/max stats reduce the lookup to point reads. Its ≤ k rows
   * join the phase-1 sims in a driver map; the clip, `distance` and the
   * `(similarity_score desc, id)` order are computed there and returned as
   * a local relation.
   */
  def search(db: String, query: String, p: Searcher.Params = Searcher.Params()): DataFrame = {
    // O5 + O6 + O13 on the driver; the query vector ships as a literal, so
    // the executor-side scan needs no broadcast variable at all
    val qvec = embedQuery(query, p)
    val vectors = vectorsOf(db)
    val sims = topK(vectors, qvec, p).toMap
    if (sims.isEmpty) return emptyHits(vectors) // §4.1.2: no lookup job

    val hits = postFilter(vectors
      .filter(col("id").isin(sims.keys.toSeq: _*)) // pushed to parquet stats
      .select("id", "text", "metadata"), p)
      .collect()
      .map { r =>
        val sim = sims(r.getLong(0))
        // O14: the score is clipped into [0, 1], the distance is not
        Row(r.getLong(0), r.getString(1), r.getStruct(2),
          math.min(1.0, math.max(0.0, sim)), 1.0 - sim)
      }
      .sortWith { (a, b) =>
        a.getDouble(3) > b.getDouble(3) ||
          (a.getDouble(3) == b.getDouble(3) && a.getLong(0) < b.getLong(0))
      }
    localHits(vectors, hits.toSeq)
  }

  /** Collected `(context, metadata)` pairs formatted as the reference's
    * context blocks (`/root/reference/vector_db_query.py:61-74`). */
  def formattedContexts(db: String, query: String, p: Searcher.Params = Searcher.Params()): String = {
    val rows = search(db, query, p)
      .select(col("text"), col("metadata.file_name").as("file_name")).collect()
    graft.format.ContextFormatter.formatBlocks(
      rows.map(r => (r.getString(0), r.getString(1))).toIndexedSeq)
  }

  /**
   * Batched multi-query search — a Spark-native capability the one-query-
   * at-a-time reference cannot express: all queries score against ONE pass
   * over the vectors table (each row evaluates every query vector from a
   * small broadcast), then per-query top-k via [[graft.ops.TopKAggregator]]
   * — a bounded partial aggregate, NOT a window rank: each scan partition
   * reduces to ≤ k rows per query before the exchange, so the shuffle
   * carries ≤ partitions×queries×k structs and nothing ever sorts the full
   * table (the window formulation funneled every `(query_id, id, sim)`
   * triple into one task per query — the 100 TB killer). Threshold still
   * applies after the per-query top-k (§4.1).
   */
  def searchMany(db: String, queries: Seq[(String, String)],
      p: Searcher.Params = Searcher.Params()): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val qdf = embedMany(queries, p).toDF("query_id", "qvec")
    val vectors = vectorsOf(db)
    val scored = vectors.select(col("id"), col("vector"))
      .crossJoin(broadcast(qdf))
      .select(col("query_id"), col("id"),
        cosine_similarity(col("vector"), col("qvec")).as("sim"))
    manyTail(vectors, scored, p)
  }

  /** Driver-side hits `(id, text, metadata, similarity_score, distance)`
    * as a local relation: collecting it runs no job. */
  private def localHits(vectors: DataFrame, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType),
      vectors.schema("metadata"),
      StructField("similarity_score", DoubleType, nullable = false),
      StructField("distance", DoubleType, nullable = false))))

  /** Schema-correct empty result (the §4.1.2 short-circuit target). */
  private def emptyHits(vectors: DataFrame): DataFrame = localHits(vectors, Seq.empty)

  /** F6/F7: the post-top-k search-term and document-type filters over
    * looked-up `(text, metadata)` rows. F6 is case-insensitive containment
    * via `(?i)`+quote instead of contains(lower(..)) — see T2Queries q19
    * note on Spark 4 lower(). */
  private def postFilter(hits: DataFrame, p: Searcher.Params): DataFrame = {
    val byTerm = p.searchTerm.filter(_.nonEmpty).fold(hits) { term =>
      hits.filter(col("text").rlike("(?i)" + Pattern.quote(term)))
    }
    p.documentTypeFilter.filter(_.nonEmpty).fold(byTerm) { v =>
      byTerm.filter(col("metadata.document_type") === v)
    }
  }

  /** Score columns of a Spark-planned single-query path: clip `sim` into
    * `similarity_score`, `distance = 1 - sim`, best first (O14). */
  private def withScores(hits: DataFrame): DataFrame =
    hits.withColumn("similarity_score", least(greatest(col("sim"), lit(0.0)), lit(1.0)))
      .withColumn("distance", lit(1.0) - col("sim"))
      .drop("sim")
      .orderBy(col("similarity_score").desc, col("id"))

  /** Approximate search over a clustered store
    * ([[graft.store.VectorStore.writeVectorsClustered]]): probes only the
    * query's LSH cell plus `probes` 1-bit-flip neighbors — Spark partition
    * pruning turns the probe list into a directory-level scan reduction.
    * Same two phases and post-top-k filter semantics as [[search]]; the
    * lookup stays a Spark plan over the pruned cells. */
  def searchApprox(db: String, query: String, p: Searcher.Params = Searcher.Params(),
      nbits: Int = 4, seed: Long = 42L, probes: Int = 1): DataFrame = {
    val qvec = embedQuery(query, p)
    val qBucket = graft.expr.SketchOps.lshBucket(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(qvec), nbits, seed)
    val targets = qBucket +: (0 until math.min(probes, nbits)).map(b => qBucket ^ (1 << b))

    val vectors = vectorsOf(db)
    val cells = vectors.filter(col("bucket").isin(targets: _*)) // partition pruning
    val sims = topK(cells, qvec, p)
    if (sims.isEmpty) emptyHits(vectors) else plannedLookup(cells, sims, p)
  }

  /** Approximate search over an IVF store
    * ([[graft.store.VectorStore.writeVectorsIvf]]): rank the learned
    * centroids against the query on the driver (nlist × dim floats), probe
    * the `nprobe` best clusters — partition pruning again turns the probe
    * list into a directory-level scan reduction, but with data-adaptive
    * cells the same probe fraction buys more recall than sign-LSH. Same
    * two phases and post-top-k filter semantics as [[search]]; the lookup
    * stays a Spark plan over the probed clusters. */
  def searchIvf(db: String, query: String, p: Searcher.Params = Searcher.Params(),
      nprobe: Int = 2): DataFrame = {
    val qvec = embedQuery(query, p)
    val probes = graft.ops.Ivf.probeList(store.centroids(db), qvec, nprobe)

    val vectors = vectorsOf(db)
    val cells = vectors.filter(col("cluster").isin(probes: _*)) // partition pruning
    val sims = topK(cells, qvec, p)
    if (sims.isEmpty) emptyHits(vectors) else plannedLookup(cells, sims, p)
  }

  /** Batched [[searchHnsw]] — the `…Many` discipline for the graph
    * path: all queries embed driver-side and share ONE beam descent
    * ([[graft.ops.Hnsw.searchMany]]), so every hop is a single
    * adjacency job for the whole batch instead of per-query pointer
    * chasing; then one broadcast-joined text/metadata lookup for all
    * queries at once. Output matches [[searchManyIvf]]:
    * `(query_id, id, text, metadata, similarity_score, distance)`. */
  def searchHnswMany(db: String, queries: Seq[(String, String)],
      p: Searcher.Params = Searcher.Params(), ef: Int = 50): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val qrows = embedMany(queries, p)
    val names = qrows.map(_._1)
    val (_, maxLevel, buckets) = store.hnswMeta(db)
    val vectors = vectorsOf(db)
    val hits = graft.ops.Hnsw.searchMany(store.hnswEdges(db), vectors,
        col("id"), col("vector"),
        qrows.zipWithIndex.map { case ((_, qv), i) => (i.toLong, qv) },
        p.k, maxLevel, ef, srcBuckets = buckets)
      .filter(col("sim") >= p.threshold)
      .collect()
    val sims = hits.map(r =>
      (names(r.getLong(0).toInt), r.getLong(2), r.getDouble(3))).toSeq
    val simDf = broadcast(sims.toDF("query_id", "id", "sim"))
    val pruned =
      if (sims.isEmpty) vectors.limit(0)
      else vectors.filter(col("id").isin(sims.map(_._2).distinct: _*))
    pruned.select("id", "text", "metadata")
      .join(simDf, Seq("id"))
      .withColumn("similarity_score",
        least(greatest(col("sim"), lit(0.0)), lit(1.0)))
      .withColumn("distance", lit(1.0) - col("sim"))
      .select("query_id", "id", "text", "metadata", "similarity_score",
        "distance")
      .orderBy(col("query_id"), col("similarity_score").desc, col("id"))
  }

  /** Graph-index search over a persisted HNSW layout
    * ([[graft.store.VectorStore.writeHnsw]]): the beam descends the
    * stored layered graph, each hop a directory-pruned point read of
    * the frontier's adjacency buckets, then the k survivors join back
    * to the vectors table for text/metadata exactly like the other
    * store paths, post-top-k filters included. Cost is `hops × ef × M`
    * adjacency rows — never a corpus scan; the accuracy trade lives in
    * `ef`. */
  def searchHnsw(db: String, query: String,
      p: Searcher.Params = Searcher.Params(), ef: Int = 50): DataFrame = {
    val qvec = embedQuery(query, p)
    val (_, maxLevel, buckets) = store.hnswMeta(db)
    val vectors = vectorsOf(db)
    val sims = graft.ops.Hnsw.search(store.hnswEdges(db), vectors,
        col("id"), col("vector"), qvec, p.k, maxLevel, ef,
        srcBuckets = buckets)
      .filter(col("sim") >= p.threshold)
      .collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toSeq
    if (sims.isEmpty) emptyHits(vectors) else plannedLookup(vectors, sims, p)
  }

  /** Approximate search over an IVF-PQ store
    * ([[graft.store.VectorStore.writeVectorsPq]]) with exact re-ranking:
    * the CANDIDATE pass scans the `pq_codes` SIDE TABLE — m small ints per
    * row instead of the dim-float vector — pruned to the probed cluster
    * directories and ranked by the ADC table lookup
    * ([[graft.ops.Pq.adcTables]]); the k survivors are then REFINED with
    * the exact cosine against their stored vectors (an id-pushdown read of
    * k rows — the classic PQ refine step), so `p.threshold` and the
    * returned `similarity_score` keep the exact-path semantics whatever
    * the embedding's norm. Accuracy trade lives entirely in WHICH k
    * candidates the codes surface, never in their scores. The post-top-k
    * filters apply to the refined k, as in [[search]]. */
  def searchPq(db: String, query: String, p: Searcher.Params = Searcher.Params(),
      nprobe: Int = 2): DataFrame = {
    val qvec = embedQuery(query, p)
    val cents = store.centroids(db)
    val books = store.codebooks(db)
    val probes = graft.ops.Ivf.probeList(cents, qvec, nprobe)
    val tables = graft.ops.Pq.adcTables(qvec, books)
    val dist = tables.indices.map { s =>
      element_at(typedLit(tables(s)), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)

    val codes = spark.read.parquet(s"${store.dbDir(db)}/pq_codes")
    val candidates = codes
      .filter(col("cluster").isin(probes: _*)) // directory pruning
      .select(col("id"), dist.as("adc"))
      .orderBy(col("adc").asc, col("id"))
      .limit(p.k)
      .collect().map(_.getLong(0))
    val vectors = vectorsOf(db)
    if (candidates.isEmpty) return emptyHits(vectors)

    // exact refine: k rows, id-pushdown into the pruned partitions
    withScores(postFilter(vectors.filter(col("cluster").isin(probes: _*))
      .filter(col("id").isin(candidates: _*))
      .select(col("id"), col("text"), col("metadata"),
        cosine_similarity(col("vector"), typedLit(qvec)).as("sim"))
      .filter(col("sim") >= p.threshold), p))
  }

  /** Approximate search over the quantized side table
    * ([[graft.store.VectorStore.writeVectorsQuantized]]) with exact
    * re-ranking: the candidate pass scans `quant_codes` only — int8 codes
    * (`mode = "sq8"`, ranked by the rescaled integer dot product) or the
    * packed sign-bit words (`mode = "binary"`, ranked by hamming) — and
    * the top `rerank` candidates refine with exact cosine against their
    * stored vectors (id-pushdown read), keeping `p.threshold` and the
    * returned scores exact-path semantics, same contract as
    * [[searchPq]]. The post-top-k filters apply after the refined top-k
    * cut, so a filtered-out hit is never refilled from the candidates. */
  def searchQuantized(db: String, query: String,
      p: Searcher.Params = Searcher.Params(), mode: String = "sq8",
      rerank: Int = 50): DataFrame = {
    val qvec = embedQuery(query, p)
    val quant = store.quantCodes(db)
    val ranked = mode match {
      case "sq8" =>
        val (qc, qs) = graft.ops.Quantize.quantizeQuery(qvec)
        quant.select(col("id"),
            graft.ops.Quantize.approxDotCol(col("codes"), col("sc"), qc, qs)
              .as("score"))
          .orderBy(col("score").desc, col("id"))
      case "binary" =>
        quant.select(col("id"),
            graft.ops.Ann.hammingCol(col("sig"), graft.ops.Ann.packWords(qvec))
              .as("h"))
          .orderBy(col("h").asc, col("id"))
      case other =>
        throw new IllegalArgumentException(
          s"unknown quantized search mode '$other' (sq8 | binary)")
    }
    val candidates = ranked.limit(rerank).collect().map(_.getLong(0))
    val vectors = vectorsOf(db)
    if (candidates.isEmpty) return emptyHits(vectors)
    postFilter(withScores(vectors.filter(col("id").isin(candidates: _*))
      .select(col("id"), col("text"), col("metadata"),
        cosine_similarity(col("vector"), typedLit(qvec)).as("sim"))
      .filter(col("sim") >= p.threshold))
      .limit(p.k), p)
  }

  /** Query vector of one query (prompt-prefix + normalize, O5/O6/O13). */
  private def embedQuery(query: String, p: Searcher.Params): Array[Float] = {
    val normalized = TextNorm.normalizeQuery(query)
    p.embedder.embed(p.promptFamily.fold(normalized) { fam =>
      graft.embed.PromptPrefix.applyTo(fam, isQuery = true, normalized)
    })
  }

  /** Phase 1 of the single-query paths: the `(id, sim)` of the k best
    * rows of `scan` (deterministic id tie-break, SURVEY §7.4.4), threshold
    * AFTER the cut (F5, §4.1), landed on the driver. */
  private def topK(scan: DataFrame, qvec: Array[Float],
      p: Searcher.Params): Seq[(Long, Double)] =
    scan.select(col("id"), cosine_similarity(col("vector"), typedLit(qvec)).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(p.k)
      .filter(col("sim") >= p.threshold)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq

  /** Phase 2 of the Spark-planned approximate paths: the `id IN (...)`
    * lookup of `scan`, post-filtered, joined to the phase-1 sims. */
  private def plannedLookup(scan: DataFrame, sims: Seq[(Long, Double)],
      p: Searcher.Params): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    withScores(postFilter(scan.filter(col("id").isin(sims.map(_._1): _*))
        .select("id", "text", "metadata"), p)
      .join(broadcast(sims.toDF("id", "sim")), Seq("id")))
  }

  /** Embedded query vectors for a batch (prompt-prefix + normalize, O5/O6). */
  private def embedMany(queries: Seq[(String, String)],
      p: Searcher.Params): Seq[(String, Array[Float])] =
    queries.map { case (qid, text) => (qid, embedQuery(text, p)) }

  /** Shared tail of the batched searches, exact and approximate: per-query bounded
    * top-k over the scored candidates, threshold AFTER top-k (§4.1), then
    * one broadcast-joined text/metadata lookup for all queries at once. */
  private def manyTail(vectors: DataFrame, scored: DataFrame,
      p: Searcher.Params): DataFrame =
    graft.ops.TopK.perGroup(scored, Seq(col("query_id")), col("id"), col("sim"), p.k)
      .filter(col("sim") >= p.threshold)
      .join(vectors.select("id", "text", "metadata"), Seq("id"))
      .withColumn("similarity_score", least(greatest(col("sim"), lit(0.0)), lit(1.0)))
      .withColumn("distance", lit(1.0) - col("sim"))
      .select("query_id", "id", "text", "metadata", "similarity_score", "distance")
      .orderBy(col("query_id"), col("similarity_score").desc, col("id"))

  /** Batched [[searchIvf]]: all queries resolve their probe lists on the
    * driver, the store scans ONCE pruned to the union of probed clusters
    * (partition pruning — non-probed directories are never listed), and
    * each row scores only against the queries probing its cell (the
    * broadcast `array_contains` join). Per-query top-k is the bounded
    * [[graft.ops.TopKAggregator]] — no window rank, shuffle ≤
    * partitions × queries × k. */
  def searchManyIvf(db: String, queries: Seq[(String, String)],
      p: Searcher.Params = Searcher.Params(), nprobe: Int = 2): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val cents = store.centroids(db)
    val qrows = embedMany(queries, p).map { case (qid, qv) =>
      (qid, qv.toVector, graft.ops.Ivf.probeList(cents, qv, nprobe).toVector)
    }
    val unionProbes = qrows.flatMap(_._3).distinct
    val qdf = broadcast(qrows.toDF("query_id", "qvec", "probes"))
    val vectors = vectorsOf(db)
    val scored = vectors
      .filter(col("cluster").isin(unionProbes: _*)) // partition pruning
      .join(qdf, array_contains(col("probes"), col("cluster")))
      .select(col("query_id"), col("id"),
        cosine_similarity(col("vector"), col("qvec")).as("sim"))
    manyTail(vectors, scored, p)
  }

  /** Batched [[searchApprox]] over a sign-LSH clustered store: per-query
    * target buckets (own cell + 1-bit-flip neighbors) resolve driver-side;
    * one scan pruned to the bucket union; same broadcast probe join and
    * bounded per-query top-k as [[searchManyIvf]]. */
  def searchManyApprox(db: String, queries: Seq[(String, String)],
      p: Searcher.Params = Searcher.Params(), nbits: Int = 4,
      seed: Long = 42L, probes: Int = 1): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val qrows = embedMany(queries, p).map { case (qid, qv) =>
      val b = graft.expr.SketchOps.lshBucket(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(qv), nbits, seed)
      val targets = b +: (0 until math.min(probes, nbits)).map(x => b ^ (1 << x))
      (qid, qv.toVector, targets.distinct.toVector)
    }
    val unionBuckets = qrows.flatMap(_._3).distinct
    val qdf = broadcast(qrows.toDF("query_id", "qvec", "targets"))
    val vectors = vectorsOf(db)
    val scored = vectors
      .filter(col("bucket").isin(unionBuckets: _*)) // partition pruning
      .join(qdf, array_contains(col("targets"), col("bucket")))
      .select(col("query_id"), col("id"),
        cosine_similarity(col("vector"), col("qvec")).as("sim"))
    manyTail(vectors, scored, p)
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

    val vectors = vectorsOf(db)
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
