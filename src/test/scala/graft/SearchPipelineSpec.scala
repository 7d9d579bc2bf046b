package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.Embedder
import graft.query.Searcher
import graft.store.VectorStore

/** Queries enter the searcher by name: each name embeds to its own point. */
final case class PointEmbedder(points: Map[String, Array[Float]]) extends Embedder {
  val dim: Int = points.values.head.length
  def embed(text: String): Array[Float] = points(text)
}

/** The one search pipeline: at exhaustive settings every index returns
  * FLAT's rows, and every index's batch returns its single-query rows,
  * query by query, for both k cuts, both thresholds and the post-filters. */
class SearchPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // at most 50 rows, so a PQ search, which verifies max(k, 50) candidates,
  // is exhaustive at every k
  private val N = 48
  private val Dim = 16
  private lazy val store =
    new VectorStore(spark, Files.createTempDirectory("graft-pipeline").toString)
  private lazy val searcher = new Searcher(spark, store)

  // a seeded mixture of 4 clusters, so similarities spread over [-1, 1]
  // and a 0.3 threshold cuts inside the top-k
  private val rnd = new scala.util.Random(7)
  private def gauss(): Array[Float] = Array.fill(Dim)(rnd.nextGaussian().toFloat)
  private val centers = Vector.fill(4)(gauss())
  private val points = Vector.tabulate(N) { i =>
    centers(i % 4).zip(gauss()).map { case (c, e) => c + 0.7f * e }
  }
  // "away" points against every cluster: nearly all its similarities are
  // negative
  private val away = centers.transpose.map(c => -c.sum)
  private val embedder = PointEmbedder(Map("near" -> centers(0), "away" -> away.toArray))
  private val queries = Seq("a" -> "near", "b" -> "away")

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    import s.implicits._
    val vectors = points.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("id", "vector")
      .select(col("id"), col("vector"),
        concat(lit("doc "), col("id"),
          when(col("id") % 3 === 0, lit(" Alpha")).otherwise(lit(" beta"))).as("text"),
        struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
          lit("x.txt").as("file_name"), lit("t").as("creation_date"),
          lit("t").as("modification_date"), lit("h").as("hash"),
          when(col("id") % 2 === 0, lit("document")).otherwise(lit("image"))
            .as("document_type"),
          lit(null).cast("int").as("page_number")).as("metadata"))
      .localCheckpoint(true)
    store.writeVectors("flat", vectors)
    store.writeVectorsQuantized("flat")
    store.writeHnsw("flat", vectors, m = 6, maxLevel = 1, buckets = 4)
    store.writeVectorsIvf("ivf", vectors, nlist = 4)
    store.writeVectorsClustered("lsh", vectors, nbits = 1)
    store.writeVectorsPq("pq", vectors, nlist = 4, m = 4, ksub = 8)
  }

  override def afterAll(): Unit = spark.stop()

  /** Every index at its exhaustive setting, with the store it reads. */
  private val indexes = Seq[(String, Searcher.Index)](
    "flat" -> Searcher.Flat,
    "ivf" -> Searcher.Ivf(nprobe = 4),
    "lsh" -> Searcher.Lsh(probes = 1),
    "pq" -> Searcher.Pq(nprobe = 4),
    "flat" -> Searcher.Quantized("sq8", rerank = N),
    "flat" -> Searcher.Quantized("binary", rerank = N),
    "flat" -> Searcher.Hnsw(ef = N))

  private val settings = for {
    k <- Seq(5, N)
    threshold <- Seq(-1.0, 0.3)
    (term, docType) <- Seq(None -> None, Some("alpha") -> None, None -> Some("document"))
  } yield Searcher.Params(k = k, threshold = threshold, searchTerm = term,
    documentTypeFilter = docType, embedder = embedder)

  private type Hit = (Long, String, String, Double, Double)

  /** `(id, text, document_type, similarity_score, distance)` per hit. */
  private def hits(rows: Seq[Row]): Seq[Hit] =
    rows.map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
      r.getAs[Row]("metadata").getAs[String]("document_type"),
      r.getAs[Double]("similarity_score"), r.getAs[Double]("distance")))

  /** One run of a setting and an index: per query, its single-query hits
    * and its rows of the batch. */
  private case class Run(p: Searcher.Params, index: Searcher.Index,
      single: Map[String, Seq[Hit]], batch: Map[String, Seq[Hit]]) {
    def what(q: String): String = s"$index $q k=${p.k} t=${p.threshold} " +
      s"${p.searchTerm} ${p.documentTypeFilter}"
  }

  private lazy val runs: Seq[Run] = for (p <- settings; (db, index) <- indexes) yield {
    val batch = searcher.search(db, queries, p, index).collect().toSeq
    assert(batch.map(_.getAs[String]("query_id")) ==
      batch.map(_.getAs[String]("query_id")).sorted)
    Run(p, index,
      queries.map { case (_, q) => q -> hits(searcher.search(db, q, p, index).collect().toSeq) }.toMap,
      queries.map { case (id, q) =>
        q -> hits(batch.filter(_.getAs[String]("query_id") == id)) }.toMap)
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("every index at exhaustive settings returns FLAT's rows") {
    val flat = runs.filter(_.index == Searcher.Flat).map(r => r.p -> r.single).toMap
    for (run <- runs; (_, q) <- queries) {
      val want = flat(run.p)(q)
      val got = run.single(q)
      assert(want.map(_._4) == want.map(_._4).sorted.reverse)
      run.index match {
        case _: Searcher.Hnsw =>
          // the beam serves its similarities rounded to 4 dp
          assert(got.map(_._1).sorted == want.map(_._1).sorted, run.what(q))
          val exact = want.map(h => h._1 -> h._4).toMap
          assert(got.forall(h => h._4 == round4(exact(h._1))), run.what(q))
        case _ => assert(got == want, run.what(q))
      }
    }
    // the fixture exercises both hits and empty results
    val sizes = flat.values.flatMap(_.values.map(_.length)).toSeq
    assert(sizes.contains(0) && sizes.contains(N) && sizes.exists(n => n > 0 && n < 5))
  }

  test("the cut to k is on the raw similarity, the threshold after it") {
    val p = Searcher.Params(k = N, threshold = -1.0, embedder = embedder)
    val all = hits(searcher.search("flat", "away", p).collect().toSeq)
    assert(all.length == N)
    // fewer than 5 similarities are positive, so the top 5 reach into the
    // negative ones: their scores clip to 0 and order by id, and only the
    // raw similarity (kept in the distance) picks which of them are cut
    val top5 = all.sortBy(h => (h._5, h._1)).take(5)
    val clipped = top5.filter(_._4 == 0.0)
    assert(clipped.nonEmpty && clipped.forall(_._5 > 1.0))
    assert(clipped.map(_._1) != all.filter(_._4 == 0.0).take(clipped.length).map(_._1))
    for (run <- runs if run.p == p.copy(k = 5) && !run.index.isInstanceOf[Searcher.Hnsw])
      assert(run.single("away").map(_._1).toSet == top5.map(_._1).toSet, run.what("away"))
  }

  test("every index's batch equals its single-query results, query by query") {
    for (run <- runs; (_, q) <- queries)
      assert(run.batch(q) == run.single(q), run.what(q))
  }

  test("a quantized search with k above its rerank verifies k candidates") {
    val p = Searcher.Params(k = N, threshold = -1.0, embedder = embedder)
    for ((_, q) <- queries) {
      val want = hits(searcher.search("flat", q, p).collect().toSeq)
      assert(want.length == N)
      for (mode <- Seq("sq8", "binary")) {
        val index = Searcher.Quantized(mode, rerank = 5)
        assert(hits(searcher.search("flat", q, p, index).collect().toSeq) == want, s"$index $q")
        val batch = searcher.search("flat", queries, p, index).collect().toSeq
          .filter(_.getAs[String]("query_id") == queries.toMap.map(_.swap).apply(q))
        assert(hits(batch) == want, s"$index batch $q")
      }
    }
  }
}
