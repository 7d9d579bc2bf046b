package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.{Embedder, HashEmbedder}
import graft.ingest.IngestJob
import graft.store.VectorStore
import graft.streaming.StreamingIngest

/** The hash embedding, counting every text it embeds (per JVM: the
  * counter is a module static, so it sees executor calls in local mode). */
final class CountingEmbedder extends Embedder {
  private val inner = HashEmbedder()
  override def dim: Int = inner.dim
  override def embed(text: String): Array[Float] = {
    CountingEmbedder.calls.incrementAndGet()
    inner.embed(text)
  }
}
object CountingEmbedder {
  val calls = new AtomicInteger()
}

/** The one ingest sink: batch `run` stays within its job pin, batch and
  * streaming embed each chunk once, and one folder written by either
  * gives the same store. Jobs are counted with a listener on a drained
  * bus. */
class IngestSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = Files.createTempDirectory("graft-sink").toString
  private lazy val docsDir = s"$work/docs"
  private lazy val store = new VectorStore(spark, s"$work/wh")
  private val jobs = new AtomicInteger()
  private val cfg = IngestJob.Config(chunkSize = 120, chunkOverlap = 30)

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))
    put("vectors.txt", (1 to 12).map(i =>
      s"cosine similarity vector search embeddings nearest neighbor run$i").mkString(" "))
    put("cooking.txt", (1 to 12).map(i =>
      s"whisk eggs sugar flour bake oven golden crust step$i").mkString(" "))
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

  /** One micro-batch of the whole folder into `db`. */
  private def stream(db: String, c: IngestJob.Config): Unit = {
    val q = StreamingIngest.start(spark, docsDir, s"$work/wh", db, c)
    q.awaitTermination(60000)
    q.exception.foreach(e => throw e)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("run: at most five jobs, nothing re-read or recounted") {
    val (res, n) = counted(IngestJob.run(spark, docsDir, s"$work/wh", "jobs", cfg))
    assert(res.documents == 2 && res.filesMatched == 2 && res.chunks > 2)
    assert(n <= 5, s"run took $n jobs")
  }

  test("embedding: once per chunk, in run and in a streaming micro-batch") {
    val counting = cfg.copy(embedder = Some(new CountingEmbedder))
    CountingEmbedder.calls.set(0)
    val res = IngestJob.run(spark, docsDir, s"$work/wh", "embedrun", counting)
    assert(CountingEmbedder.calls.get() == res.chunks)

    CountingEmbedder.calls.set(0)
    stream("embedstream", counting)
    assert(CountingEmbedder.calls.get() == store.vectors("embedstream").count())
    assert(store.vectors("embedstream").count() == res.chunks)
  }

  test("batch and stream parity: one folder gives the same store both ways") {
    val res = IngestJob.run(spark, docsDir, s"$work/wh", "pbatch", cfg)
    stream("pstream", cfg)
    assert(rows(store.vectors("pbatch")) == rows(store.vectors("pstream")))
    assert(rows(store.documents("pbatch")) == rows(store.documents("pstream")))
    assert(rows(store.chunkDocMap("pbatch")) == rows(store.chunkDocMap("pstream")))
    assert(store.indexMetadata("pstream").num_vectors == res.chunks)
    assert(store.indexMetadata("pbatch") == store.indexMetadata("pstream"))
  }
}
