package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.IngestJob
import graft.query.Searcher
import graft.rag.RagChat
import graft.store.VectorStore

/** Job-count pins of the query path: a FLAT search is the schema read,
  * the top-k scan and the id lookup, finished on the driver; a RAG turn
  * adds no job to its search; every index's single query and batch stay at
  * or under their pinned counts. Counted with a listener on a drained bus. */
class SearchJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = Files.createTempDirectory("graft-jobs").toString
  private lazy val store = new VectorStore(spark, s"$work/wh")
  private lazy val searcher = new Searcher(spark, store)
  private val jobs = new AtomicInteger()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))
    put("vectors.txt", (1 to 12).map(i =>
      s"cosine similarity vector search embeddings nearest neighbor run$i").mkString(" "))
    put("cooking.txt", (1 to 12).map(i =>
      s"whisk eggs sugar flour bake oven golden crust step$i").mkString(" "))
    IngestJob.run(spark, docsDir, s"$work/wh", "jdb",
      IngestJob.Config(chunkSize = 120, chunkOverlap = 30))
    // the index stores re-key the chunks by their text: ingest ids hash
    // the file path, and the HNSW graph (so its hop count) follows the ids
    val v = store.vectors("jdb")
      .select(row_number().over(Window.orderBy("text")).cast("long").as("id"),
        col("vector"), col("text"), col("metadata"))
      .localCheckpoint(true)
    store.writeVectors("jflat", v)
    store.writeVectorsClustered("jlsh", v, nbits = 2)
    store.writeVectorsIvf("jivf", v, nlist = 2)
    store.writeVectorsPq("jpq", v, nlist = 2, m = 4, ksub = 4)
    store.writeVectorsQuantized("jflat")
    store.writeHnsw("jflat", v, m = 4, maxLevel = 1, buckets = 4)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
  }

  override def afterAll(): Unit = spark.stop()

  /** `f`'s result and the Spark jobs it started. */
  private def counted[T](f: => T): (T, Int) = {
    GraftBus.drain(spark.sparkContext)
    val before = jobs.get()
    val out = f
    GraftBus.drain(spark.sparkContext)
    (out, jobs.get() - before)
  }

  private val query = "cosine vector search embeddings"

  test("search: at most three jobs, and its frame collects with none") {
    val p = Searcher.Params(k = 4, threshold = 0.0)
    val (rows, n) = counted(searcher.search("jdb", query, p).collect())
    assert(rows.length == 4)
    assert(n <= 3, s"search took $n jobs")

    val hits = searcher.search("jdb", query, p)
    val (again, m) = counted(hits.collect())
    assert(m == 0, s"collecting a search result took $m jobs")
    assert(again.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq)

    // the post-filters ride the lookup scan: still three jobs
    val (filtered, f) = counted(searcher.search("jdb", query,
      p.copy(searchTerm = Some("nearest"))).collect())
    assert(filtered.nonEmpty && filtered.forall(_.getString(1).contains("nearest")))
    assert(f <= 3, s"post-filtered search took $f jobs")
  }

  test("search: a threshold nothing passes skips the lookup") {
    val (hits, n) = counted {
      val df = searcher.search("jdb", query, Searcher.Params(k = 4, threshold = 1.0))
      (df, df.collect())
    }
    assert(hits._2.isEmpty)
    assert(n <= 2, s"empty search took $n jobs")
    assert(hits._1.columns.toSeq ==
      Seq("id", "text", "metadata", "similarity_score", "distance"))
    assert(hits._1.schema("metadata").dataType.simpleString.contains("document_type"))
  }

  test("rag turn: at most three jobs, side files included") {
    val (answer, n) = counted(RagChat.ask(searcher, "jdb", query,
      Searcher.Params(k = 4, threshold = 0.0), artifactsDir = Some(s"$work/artifacts")))
    assert(answer.contexts.length == 4 && answer.citations.nonEmpty)
    assert(Files.exists(Paths.get(s"$work/artifacts/contexts.txt")))
    assert(n <= 3, s"a turn took $n jobs")
  }

  test("every index: jobs per single query and per batch stay at their pins") {
    val p = Searcher.Params(k = 4, threshold = 0.0)
    val batch = Seq("a" -> query, "b" -> "whisk eggs sugar", "c" -> "golden crust")
    // (store, index, jobs of one query, jobs of the three-query batch)
    val pins = Seq[(String, Searcher.Index, Int, Int)](
      ("jflat", Searcher.Flat, 3, 5),
      ("jlsh", Searcher.Lsh(probes = 1), 3, 5),
      ("jivf", Searcher.Ivf(nprobe = 1), 4, 6),
      ("jpq", Searcher.Pq(nprobe = 1), 6, 10),
      ("jflat", Searcher.Quantized("sq8"), 4, 8),
      ("jflat", Searcher.Quantized("binary"), 4, 8),
      ("jflat", Searcher.Hnsw(), 32, 32))
    for ((db, index, one, many) <- pins) {
      val (rows, n) = counted(searcher.search(db, query, p, index).collect())
      assert(rows.nonEmpty && n <= one, s"$index: one query took $n jobs")
      val (hits, m) = counted(searcher.search(db, batch, p, index).collect())
      assert(hits.nonEmpty && m <= many, s"$index: a batch took $m jobs")
    }
  }
}
