package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.IngestJob
import graft.query.Searcher
import graft.store.VectorStore
import graft.streaming.{StreamingIngest, StreamingOps}

/** Structured Streaming: incremental file ingest appends through the same
  * operators as batch; watermarked windowed aggregation over an event
  * stream matches its batch formulation. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("incremental file ingest: two micro-batches append consistently") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-stream").toString
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))

    put("first.txt", "streaming ingest document number one " * 10)
    val cfg = IngestJob.Config(chunkSize = 100, chunkOverlap = 0)
    val q1 = StreamingIngest.start(spark, docsDir, s"$work/wh", "sdb", cfg)
    q1.awaitTermination(60000)

    val store = new VectorStore(spark, s"$work/wh")
    val afterFirst = store.vectors("sdb").count()
    assert(afterFirst > 0)
    assert(store.indexMetadata("sdb").num_vectors == afterFirst)

    put("second.txt", "a later file arrives with fresh content " * 10)
    val q2 = StreamingIngest.start(spark, docsDir, s"$work/wh", "sdb", cfg)
    q2.awaitTermination(60000)

    val afterSecond = store.vectors("sdb").count()
    assert(afterSecond > afterFirst) // only the new file was processed
    assert(store.indexMetadata("sdb").num_vectors == afterSecond)
    assert(store.documents("sdb").count() == 2)

    // the count is INCREMENTAL, not a per-batch table recount: seed the
    // metadata with a sentinel offset — a recount would erase it, the
    // running count carries it forward (+ the new batch's chunks)
    store.writeIndexMetadata("sdb",
      store.indexMetadata("sdb").copy(num_vectors = afterSecond + 1000))
    put("third.txt", "yet another distinct document body arrives " * 10)
    val q3 = StreamingIngest.start(spark, docsDir, s"$work/wh", "sdb", cfg)
    q3.awaitTermination(60000)
    val afterThird = store.vectors("sdb").count()
    assert(afterThird > afterSecond)
    assert(store.indexMetadata("sdb").num_vectors ==
      afterSecond + 1000 + (afterThird - afterSecond),
      "metadata count must advance incrementally, never by recounting the table")
    // restore the true count for the remaining assertions
    store.writeIndexMetadata("sdb",
      store.indexMetadata("sdb").copy(num_vectors = afterThird))
    // searchable through the normal query path
    val searcher = new graft.query.Searcher(spark, store)
    val hits = searcher.search("sdb", "fresh content arrives",
      Searcher.Params(k = 3, threshold = 0.0))
    assert(hits.count() == 3)

    // compaction rewrites the fragmented append files; content unchanged
    val filesBefore = new java.io.File(s"$work/wh/sdb/vectors")
      .listFiles().count(_.getName.endsWith(".parquet"))
    store.compactVectors("sdb", targetPartitions = 1)
    val filesAfter = new java.io.File(s"$work/wh/sdb/vectors")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter <= filesBefore && filesAfter == 1)
    assert(store.vectors("sdb").count() == afterThird)
    assert(searcher.search("sdb", "fresh content arrives",
      Searcher.Params(k = 3, threshold = 0.0)).count() == 3)
  }

  test("streaming IVF maintenance: batches append under cluster directories") {
    val work = Files.createTempDirectory("graft-sivf").toString
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))
    val store = new VectorStore(spark, s"$work/wh")
    val cfg = IngestJob.Config(chunkSize = 100, chunkOverlap = 0)

    // create the store with learned centroids from a seed corpus
    put("seed.txt", "the initial corpus trains the coarse cells " * 20)
    val seed = IngestJob.vectorize(IngestJob.extract(spark, docsDir), cfg)
    store.writeVectorsIvf("ivfs", seed, nlist = 4, iters = 1)
    val centsBefore = store.centroids("ivfs")

    // stream a new file: its vectors must land under cluster= dirs,
    // assigned against the FIXED centroids (no retraining)
    put("later.txt", "a streamed document joins the clustered index " * 20)
    val q = StreamingIngest.start(spark, docsDir, s"$work/wh", "ivfs", cfg)
    q.awaitTermination(60000)
    assert(store.centroids("ivfs") == centsBefore) // untouched
    val vecs = store.vectors("ivfs")
    assert(vecs.columns.contains("cluster"))
    assert(vecs.count() > seed.count()) // both batches present
    assert(vecs.filter(col("cluster").isNull).count() == 0)
    assert(store.indexMetadata("ivfs").index_type == "IVF")
    // searchable through the pruned IVF path
    val searcher = new graft.query.Searcher(spark, store)
    val hits = searcher.search("ivfs", "streamed document",
      Searcher.Params(k = 3, threshold = -1.0), Searcher.Ivf(nprobe = 4))
    assert(hits.count() > 0)
  }

  test("streaming HNSW maintenance: appended batches are searchable " +
      "without a graph rebuild") {
    val work = Files.createTempDirectory("graft-shnsw").toString
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))
    val store = new VectorStore(spark, s"$work/wh")
    val cfg = IngestJob.Config(chunkSize = 100, chunkOverlap = 0)

    // create the store + layered graph from a seed corpus
    put("seed.txt", "the graph seeds from the very first corpus here " * 20)
    val seed = IngestJob.vectorize(IngestJob.extract(spark, docsDir), cfg)
    store.writeVectors("hdb", seed)
    store.writeHnsw("hdb", seed, m = 4, maxLevel = 1, buckets = 4)
    val seedIds = store.hnswEdges("hdb").select("id").distinct()
      .collect().map(_.getLong(0)).toSet

    // stream a new file: its vectors must be LINKED into the standing
    // graph (append path), not trigger a rebuild of the seed edges
    put("later.txt", "a streamed document joins the navigable graph " * 20)
    val q = StreamingIngest.start(spark, docsDir, s"$work/wh", "hdb", cfg)
    q.awaitTermination(60000)
    val edges = store.hnswEdges("hdb")
    val idsAfter = edges.select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(seedIds.subsetOf(idsAfter) && idsAfter.size > seedIds.size,
      s"new nodes missing: before ${seedIds.size}, after ${idsAfter.size}")
    // graph-level invariants survive the append
    assert(edges.filter(col("id") === col("nbr")).count() == 0)
    assert(edges.filter(col("rnk") > 4).count() == 0)
    // the appended content is reachable through the beam search
    val searcher = new graft.query.Searcher(spark, store)
    val hits = searcher.search("hdb", "streamed document navigable",
      Searcher.Params(k = 3, threshold = -1.0), Searcher.Hnsw(ef = 30))
    assert(hits.count() == 3)
  }

  test("streaming dedup: re-delivered content under a new path adds no vectors") {
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-sdedup").toString
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))

    val cfg = IngestJob.Config(chunkSize = 100, chunkOverlap = 0)
    put("orig.txt", "identical content delivered twice " * 10)
    val q1 = StreamingIngest.start(spark, docsDir, s"$work/wh", "ddb", cfg)
    q1.awaitTermination(60000)
    val store = new VectorStore(spark, s"$work/wh")
    val afterFirst = store.vectors("ddb").count()
    assert(afterFirst > 0)

    // same bytes, new path (copy re-drop) + one genuinely new doc
    put("copy.txt", "identical content delivered twice " * 10)
    put("fresh.txt", "completely new material this time " * 10)
    val q2 = StreamingIngest.start(spark, docsDir, s"$work/wh", "ddb", cfg)
    q2.awaitTermination(60000)

    val vecs = store.vectors("ddb")
    // the copy contributed nothing: every vector id is unique and only the
    // two distinct contents are present
    assert(vecs.select("id").distinct().count() == vecs.count())
    assert(vecs.select(col("metadata.hash")).distinct().count() == 2)
    assert(store.vectors("ddb").count() == afterFirst * 2) // same-size docs

    // control: with dedupe disabled (fresh db + checkpoint — a restart
    // cannot drop a stateful operator), the copy IS ingested
    val q3 = StreamingIngest.start(spark, docsDir, s"$work/wh", "ddb2", cfg,
      dedupeWatermark = None)
    q3.awaitTermination(60000)
    // orig + copy + fresh all land: 3 docs' worth of vectors
    assert(store.vectors("ddb2").count() == afterFirst * 3)
  }

  test("sessionize: inactivity gap closes sessions, state times out") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")

    val sessions = StreamingOps.sessionize(events, gapMs = 10 * 60 * 1000L,
      watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()

    def t(s: String) = Timestamp.valueOf(s)
    // user 1: two bursts 30 min apart (gap 10 min -> two sessions)
    input.addData(
      (t("2024-01-01 09:00:00"), 1L, 1.0),
      (t("2024-01-01 09:05:00"), 1L, 2.0),
      (t("2024-01-01 09:35:00"), 1L, 4.0))
    q.processAllAvailable()
    // advance watermark far past the last session's timeout
    input.addData((t("2024-01-01 12:00:00"), 2L, 9.0))
    q.processAllAvailable()
    input.addData((t("2024-01-01 15:00:00"), 2L, 1.0))
    q.processAllAvailable()

    val got = spark.sql(
      "SELECT user_id, n_events, value_sum FROM sessions ORDER BY user_id, n_events DESC")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // user 1's both sessions closed by watermark advance; first has 2 events
    assert(got.contains((1L, 2L, 3.0)))
    assert(got.contains((1L, 1L, 4.0)))
    q.stop()
  }

  test("streamingLatestSnapshot: winner updates across batches, " +
      "out-of-order recrawl absorbed, batch-twin parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String)]
    val snap = StreamingOps.streamingLatestSnapshot(
      input.toDF().toDF("key", "ver", "id", "text"))
    val q = snap.writeStream.outputMode("update")
      .format("memory").queryName("snap").start()

    input.addData(("k1", 1L, 10L, "v1"), ("k2", 5L, 20L, "only"))
    q.processAllAvailable()
    input.addData(("k1", 3L, 11L, "v3"))          // newer → emits
    q.processAllAvailable()
    input.addData(("k1", 2L, 12L, "stale"))       // out-of-order → silent
    q.processAllAvailable()
    input.addData(("k1", 3L, 9L, "tie-lower-id")) // same ver, smaller id → emits
    q.processAllAvailable()

    val emitted = spark.sql("SELECT key, ver, id, text FROM snap")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(emitted.count(_._1 == "k1") == 3) // v1, v3, tie — never "stale"
    assert(!emitted.exists(_._4 == "stale"))
    // final state parity with the batch twin over the same rows
    val all = Seq(("k1", 1L, 10L, "v1"), ("k2", 5L, 20L, "only"),
      ("k1", 3L, 11L, "v3"), ("k1", 2L, 12L, "stale"),
      ("k1", 3L, 9L, "tie-lower-id")).toDF("key", "ver", "id", "text")
    val batchWinners = graft.ops.Dedup.latestSnapshot(all,
        Seq(org.apache.spark.sql.functions.col("key")),
        org.apache.spark.sql.functions.col("ver"),
        org.apache.spark.sql.functions.col("id"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    val lastEmitted = emitted.groupBy(_._1).view
      .mapValues(_.last._4).toMap
    assert(lastEmitted == batchWinners)
    q.stop()
  }

  test("stream-stream interval join: bounded state matches the window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long)]
    val views = MemoryStream[(Timestamp, Long)]
    val joined = StreamingOps.intervalJoin(
      purchases.toDF().toDF("ts", "user_id"),
      views.toDF().toDF("ts", "user_id"),
      key = "user_id", windowMs = 30 * 60 * 1000L, watermark = "0 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivj").start()

    def t(s: String) = Timestamp.valueOf(s)
    views.addData(
      (t("2024-01-01 09:00:00"), 1L), // in window for the 09:20 purchase
      (t("2024-01-01 08:00:00"), 1L), // too old (> 30 min before)
      (t("2024-01-01 09:10:00"), 2L)) // other user
    purchases.addData((t("2024-01-01 09:20:00"), 1L))
    q.processAllAvailable()

    val got = spark.sql("SELECT user_id, l_ts, r_ts FROM ivj").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2)))
    assert(got.toSeq == Seq((1L, t("2024-01-01 09:00:00"))))
    q.stop()
  }

  test("streaming decontamination: row-local flag, stateless append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq("the quick brown fox").toDF("text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")

    val flagged = StreamingOps.decontaminate(docs, col("text"),
      bench, col("text"), n = 3)
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("decon").start()

    input.addData(
      (1L, "the quick brown fox jumps"), // 2 shared trigrams
      (2L, "totally unrelated words here"))
    q.processAllAvailable()
    input.addData((3L, "again the quick brown fox here")) // across batches too
    q.processAllAvailable()

    val got = spark.sql("SELECT doc_id, n_shared FROM decon ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 0, 3L -> 2))
    q.stop()
  }

  test("streaming curation: quality gate + mixture sampling, stateless append") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "lang", "text")
    // both ops are row-local projections/explodes: they compose onto an
    // unbounded stream with no state, no watermark, no output-mode caveats
    val curated = graft.ops.Curation.mixtureSample(
      docs.filter(graft.ops.TextAnalysis.qualityScore(col("text")) >= 0.25),
      col("doc_id"), col("lang"), Map("en" -> 2.0, "de" -> 1.0))
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curate").start()
    val good = ("the data in is that good sentence. " * 3).trim
    input.addData((1L, "en", good), (2L, "de", good), (3L, "en", "x"),
      (4L, "fr", good))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, copy FROM curate ORDER BY doc_id, copy")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // doc 1 (en, w=2.0): copies 1,2; doc 2 (de, w=1.0): copy 1;
    // doc 3 fails the gate; doc 4 (fr) unlisted -> dropped
    assert(got.toSeq == Seq((1L, 1), (1L, 2), (2L, 1)))
    q.stop()
  }

  test("streaming line scrub against a persisted frequent-line table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "NAV BAR\na"), (2L, "NAV BAR\nb"), (3L, "NAV BAR"))
      .toDF("id", "text")
    val freq = graft.ops.Dedup.frequentLines(corpus, col("id"), col("text"),
      minDocs = 3)
    val input = MemoryStream[(Long, String)]
    val scrubbed = graft.ops.Dedup.lineDedupAgainst(
      input.toDF().toDF("id", "text"), col("id"), col("text"), freq)
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("scrub").start()
    input.addData((10L, "NAV BAR\nreal content"), (11L, "only real"))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, n_removed, text FROM scrub ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((10L, 1L, "real content"), (11L, 0L, "only real")))
    q.stop()
  }

  test("streaming span scrub against a persisted repeated-gram table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boiler = "click here to subscribe now"
    val corpus = Seq(
      (1L, boiler + " article one body"),
      (2L, "prefix words " + boiler),
      (3L, "independent body text with no overlap")).toDF("id", "text")
    val grams = graft.ops.Dedup.repeatedGrams(corpus, col("id"), col("text"),
      k = 5, minDocs = 2)
    val input = MemoryStream[(Long, String)]
    val scrubbed = graft.ops.Dedup.spanScrubAgainst(
      input.toDF().toDF("id", "text"), col("id"), col("text"), grams, k = 5)
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("spanscrub").start()
    input.addData(
      (10L, boiler + " fresh reporting here"),
      (11L, "no boilerplate at all"))
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT id, n_tokens, n_removed, text FROM spanscrub ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (10L, 8L, 5L, "fresh reporting here"),
      (11L, 4L, 0L, "no boilerplate at all")))
    q.stop()
  }

  test("streaming CDC block scrub against a persisted duplicate-chunk table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boiler = (0 until 40).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, boiler + " tail one"), (2L, boiler + " other end"))
      .toDF("id", "text")
    val chunks = graft.ops.Dedup.cdcChunks(corpus, col("id"), col("text"))
    val dup = chunks.select(col("h"), col("id")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val batch = Seq((10L, boiler + " fresh reporting"),
      (11L, "untouched words entirely"))
    val input = MemoryStream[(Long, String)]
    val scrubbed = graft.ops.Dedup.cdcScrubAgainst(
      input.toDF().toDF("id", "text"), col("id"), col("text"), dup)
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("cdcscrub").start()
    input.addData(batch: _*)
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT id, n_chunks, n_removed, text FROM cdcscrub ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // the stream answers exactly like the batch twin on the same rows
    val twin = graft.ops.Dedup.cdcScrubAgainst(batch.toDF("id", "text"),
        col("id"), col("text"), dup)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.sameElements(twin))
    // shared-prefix blocks scrub; the novel tail and disjoint doc survive
    assert(got(0)._3 >= 1 && got(0)._4.endsWith("fresh reporting"))
    assert(got(1)._3 == 0L && got(1)._4 == "untouched words entirely")
    q.stop()
  }

  test("streaming winnow-overlap gate against a persisted fingerprint index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq((1L, shared + " closing words"),
      (2L, "one two three four five six seven eight")).toDF("id", "text")
    val fp = graft.ops.TextAnalysis.winnowFingerprintTable(
      corpus, col("id"), col("text"))
    val batch = Seq((10L, shared + " novel tail"),
      (11L, "totally different words compose this unrelated sentence"))
    val input = MemoryStream[(Long, String)]
    val gate = graft.ops.TextAnalysis.winnowOverlapAgainst(
      input.toDF().toDF("id", "text"), col("id"), col("text"), fp,
      minShared = 1)
    val q = gate.writeStream.outputMode("append")
      .format("memory").queryName("winnowgate").start()
    input.addData(batch: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT id, ref_id, n_shared FROM winnowgate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    // the stream answers exactly like the batch twin on the same rows
    val twin = graft.ops.TextAnalysis.winnowOverlapAgainst(
        batch.toDF("id", "text"), col("id"), col("text"), fp, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(got == twin)
    // the ≥ w+k-1 token shared run guarantees a fingerprint hit on doc 1
    // only; the disjoint incoming doc matches nothing
    assert(got.map(t => (t._1, t._2)) == Seq((10L, 1L)) && got.head._3 >= 1)
    q.stop()
  }

  test("streaming substring audit: AC automaton counts on micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val audited = graft.ops.TextAnalysis.substringCounts(
      input.toDF().toDF("id", "text"), col("id"), col("text"),
      Seq("spark", "data"))
    val q = audited.writeStream.outputMode("append")
      .format("memory").queryName("subaudit").start()
    input.addData((1L, "spark streams data and more data"), (2L, "nothing here"))
    q.processAllAvailable()
    input.addData((3L, "spark spark"))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, pattern, n_hits FROM subaudit")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, "spark") -> 1L, (1L, "data") -> 2L,
      (3L, "spark") -> 2L))
    q.stop()
  }

  test("streaming classification: broadcast NB model scores micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "ham", "home call home"),
      (2L, "spam", "free win free")).toDF("id", "label", "text")
    val model = graft.ops.Classify.nbFit(corpus, col("label"), col("text"))
    val input = MemoryStream[(Long, String)]
    val scored = graft.ops.Classify.nbPredict(
      input.toDF().toDF("id", "text"), col("id"), col("text"), model)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("nbstream").start()
    input.addData((10L, "free win"), (11L, "home call"))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, pred FROM nbstream ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((10L, "spam"), (11L, "ham")))
    q.stop()
  }

  test("streaming Bloom decontamination: stateless filter, no watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq((0L, "the quick brown fox jumps over")).toDF("id", "text")
    val input = MemoryStream[(Long, String)]
    val flagged = graft.ops.QualitySignals.bloomContamination(
      input.toDF().toDF("id", "text"), col("id"), col("text"),
      bench, col("text"))
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("bloomscrub").start()
    input.addData(
      (10L, "intro words the quick brown fox tail"), // 2 shared grams
      (11L, "nothing in common with that benchmark"))
    q.processAllAvailable()
    val got = spark.sql("SELECT id, n_flagged FROM bloomscrub ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 2L)))
    q.stop()
  }

  test("watermarked tumbling window matches batch formulation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val agg = StreamingOps.windowedEventStats(events, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()

    def t(s: String) = Timestamp.valueOf(s)
    input.addData(
      (t("2024-01-01 10:05:00"), "click", 1.0),
      (t("2024-01-01 10:45:00"), "click", 2.0),
      (t("2024-01-01 11:05:00"), "view", 5.0),
      (t("2024-01-01 10:59:00"), "view", 3.0))
    q.processAllAvailable()

    val got = spark.sql(
      "SELECT h, event_type, n, s FROM winagg ORDER BY h, event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 10:00:00.0", "view", 1L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
    q.stop()
  }

  test("streamingLatestSnapshotTtl: idle keys evict with tombstones, " +
      "refreshed keys live, recreation after eviction is fresh") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String)]
    val snap = StreamingOps.streamingLatestSnapshotTtl(
      input.toDF().toDF("key", "ver", "id", "text"), ttlMs = 5000L)
    val q = snap.writeStream.outputMode("update")
      .format("memory").queryName("snapttl").start()

    def tombstones() = spark.sql(
      "SELECT key FROM snapttl WHERE ver = -1").collect()
      .map(_.getString(0)).toSet

    // timeouts fire as soon as the watermark passes them: each batch's
    // watermark advance triggers a trailing no-data micro-batch that
    // processes evictions within the same processAllAvailable call
    input.addData(("k1", 1000L, 1L, "a"), ("k2", 1000L, 2L, "b"))
    q.processAllAvailable() // watermark → 1000; both alive (timeout 6000)
    assert(tombstones() == Set.empty[String])
    input.addData(("k1", 100000L, 3L, "c")) // refreshes k1; k2 idles
    q.processAllAvailable() // watermark → 100000 ⇒ k2 (timeout 6000) evicts
    assert(tombstones() == Set("k2"))
    input.addData(("k3", 200000L, 4L, "d"))
    q.processAllAvailable() // watermark → 200000 ⇒ k1 (timeout 105000) evicts
    assert(tombstones() == Set("k1", "k2"))
    input.addData(("k2", 310000L, 9L, "z")) // re-created as fresh → emits
    q.processAllAvailable()
    val k2rows = spark.sql(
      "SELECT ver FROM snapttl WHERE key = 'k2' AND ver >= 0")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(k2rows == Seq(1000L, 310000L))
    q.stop()
  }

  test("streaming funnel: cross-batch state matches the batch " +
      "funnelSteps frame under in-order delivery") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val all = Seq(
      (1L, "a", ts("2024-01-01 10:00:00")),
      (1L, "b", ts("2024-01-01 11:00:00")),
      (1L, "c", ts("2024-01-01 12:00:00")),
      (2L, "b", ts("2024-01-01 09:00:00")),
      (2L, "a", ts("2024-01-01 10:00:00")),
      (3L, "a", ts("2024-01-01 10:00:00")),
      (3L, "c", ts("2024-01-01 11:00:00")),
      (4L, "a", ts("2024-01-01 10:00:00")),
      (4L, "b", ts("2024-01-01 10:00:00")),
      (4L, "c", ts("2024-01-01 10:00:00")))
    val (batch1, batch2) = all.partition(_._3.getTime <=
      ts("2024-01-01 10:00:00").getTime)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val fs = StreamingOps.streamingFunnelSteps(
      input.toDF().toDF("user_id", "event_type", "ts"), Seq("a", "b", "c"))
    val q = fs.writeStream.outputMode("update")
      .format("memory").queryName("sfunnel").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    val afterB1 = spark.sql("SELECT * FROM sfunnel").count()
    input.addData(batch2: _*)
    q.processAllAvailable()
    // latest emission per (k, step) is the live frame
    val rows = spark.sql("SELECT * FROM sfunnel").collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (r.getString(2), r.getTimestamp(3))))
    val latest = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (key, g) =>
        val (step, at) = g.maxBy(_._2)._1._2
        (key._1, key._2.toLong, step, at) }
      .toSet
    val batchFrame = graft.ops.Temporal.funnelSteps(all.toDF("u", "tp", "t"),
        col("u"), col("tp"), col("t"), Seq("a", "b", "c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3))).toSet
    assert(latest == batchFrame, s"stream $latest vs batch $batchFrame")
    // updates actually spanned both batches (u1's b/c arrived late)
    assert(afterB1 < rows.length)
    q.stop()
  }

  test("streamingHeavyHitters: cross-batch counts, batch-sketch parity, " +
      "bounded state under small capacity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // exact regime: capacity far above the vocab → counts are exact
    val input = MemoryStream[String]
    val hh = StreamingOps.streamingHeavyHitters(
      input.toDF().toDF("text"), capacity = 100, nShards = 4)
    val q = hh.writeStream.outputMode("update")
      .format("memory").queryName("hh").start()
    input.addData("a a b")
    q.processAllAvailable()
    input.addData("a c c", "c")
    q.processAllAvailable()
    // update-mode memory sink accumulates; the FINAL count per term is
    // its max (counts only grow in the exact regime)
    val got = spark.sql(
      "SELECT term, max(est) FROM hh GROUP BY term").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 3L))
    // parity with the batch sketch over the union of both batches
    val batch = graft.ops.Scale.heavyHittersSketch(
      Seq("a a b", "a c c", "c").toDF("text"),
      org.apache.spark.sql.functions.col("text"), capacity = 100, topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch == got)
    q.stop()

    // sketch regime: capacity 2, one shard — the dominant term survives
    // with the MG bound and the emitted candidate set stays ≤ capacity
    val in2 = MemoryStream[String]
    val hh2 = StreamingOps.streamingHeavyHitters(
      in2.toDF().toDF("text"), capacity = 2, nShards = 1)
    val q2 = hh2.writeStream.outputMode("update")
      .format("memory").queryName("hh2").start()
    in2.addData("x x x y", "x z x w")
    q2.processAllAvailable()
    val before = spark.sql("SELECT * FROM hh2").count()
    in2.addData("x x x v")
    q2.processAllAvailable()
    val rows2 = spark.sql("SELECT term, est FROM hh2").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val lastEmission = rows2.drop(before.toInt)
    // candidates bounded at capacity; tombstones add ≤ the evicted terms
    assert(lastEmission.count(_._2 >= 0) <= 2)
    val xEst = lastEmission.toMap.getOrElse("x", 0L)
    // 9 occurrences of x over 12 tokens, capacity 2: est ≥ 9 − 12/2
    assert(xEst >= 3L && xEst <= 9L, s"x estimate $xEst")
    // 'w' survived batch 1's sketch but batch 2's 'v' decremented it
    // out — the retraction must arrive as an est = -1 tombstone so the
    // latest-emission snapshot stops surfacing its stale estimate
    assert(rows2.take(before.toInt).exists(r => r._1 == "w" && r._2 >= 0))
    assert(lastEmission.contains(("w", -1L)))
    // the documented consumer read: latest emission per term, est >= 0
    val latest = rows2.zipWithIndex.groupBy(_._1._1)
      .map { case (t, g) => t -> g.maxBy(_._2)._1._2 }
    assert(latest.filter(_._2 >= 0).keySet == Set("x"))
    q2.stop()
  }

  test("streamingKmvDistinct: k-smallest-hash state merges across " +
      "batches; final estimate equals the batch sketch on the union") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = (0 until 300).map(i => ("g", s"v$i"))
    val b2 = (200 until 500).map(i => ("g", s"v$i")) // 200 overlap
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.streamingKmvDistinct(
        input.toDF().toDF("grp", "v"), k = 32)
      .writeStream.outputMode("update")
      .format("memory").queryName("kmvs").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val emissions = spark.sql("SELECT n_kept, est_distinct FROM kmvs")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(emissions.length == 2)
    val batch = graft.ops.Scale.kmvDistinct(
        (b1 ++ b2).toDF("grp", "v"), Seq("grp"),
        org.apache.spark.sql.functions.col("v"), k = 32)
      .head()
    assert(emissions.last._2 ==
      batch.getDouble(batch.fieldIndex("est_distinct")),
      s"streaming ${emissions.last} vs batch $batch")
    // under-k group stays exact
    val in2 = MemoryStream[(String, String)]
    val q2 = StreamingOps.streamingKmvDistinct(
        in2.toDF().toDF("grp", "v"), k = 32)
      .writeStream.outputMode("update")
      .format("memory").queryName("kmvs2").start()
    in2.addData(("s", "a"), ("s", "b"), ("s", "a")); q2.processAllAvailable()
    val r2 = spark.sql("SELECT n_kept, est_distinct FROM kmvs2").collect()
    assert(r2.head.getLong(0) == 2L && r2.head.getDouble(1) == 2.0)
    q.stop(); q2.stop()
  }

  test("streamingPostingLists: bounded per-term state; final emissions " +
      "equal the batch index on the union of batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, "a b a"), (2L, "a c"))
    val b2 = Seq((3L, "b a"), (4L, "c c d"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingPostingLists(
        input.toDF().toDF("id", "text"), cap = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("posts").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    // latest emission per term (batch ordinal via monotonic row set:
    // group max df/tf is the latest because state only grows)
    val last = spark.sql(
        """SELECT term, max_by(df, tf_total) AS df, max(tf_total) AS tf,
           max_by(postings, tf_total) AS postings
           FROM posts GROUP BY term""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3))).sortBy(_._1)
    val batch = graft.ops.Keyword.postingLists(
        (b1 ++ b2).toDF("id", "text"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("text"), minDf = 1, cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3))).sortBy(_._1)
    assert(last.toSeq == batch.toSeq,
      s"streaming ${last.toSeq} vs batch ${batch.toSeq}")
    // the posting state is bounded: term 'a' has 3 docs but cap 2 kept
    assert(last.find(_._1 == "a").get._4 == Seq(1L, 2L))
    q.stop()
  }

  test("streamingProportionTest: running z equals the batch test on " +
      "every unit fed so far") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("e", 0, 0L), ("e", 0, 1L), ("e", 1, 1L))
    val b2 = Seq(("e", 0, 0L), ("e", 1, 1L), ("e", 1, 0L))
    val input = MemoryStream[(String, Int, Long)]
    val q = StreamingOps.streamingProportionTest(
        input.toDF().toDF("exp", "arm", "c"))
      .writeStream.outputMode("update")
      .format("memory").queryName("props").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val emissions = spark.sql(
        "SELECT n_a, n_b, p_a, p_b, z FROM props ORDER BY n_a + n_b")
      .collect()
    assert(emissions.length == 2)
    val last = emissions.last
    val batch = graft.ops.Experiment.proportionTest(
        (b1 ++ b2).toDF("exp", "arm", "c"),
        org.apache.spark.sql.functions.col("arm"),
        org.apache.spark.sql.functions.col("c"))
      .head()
    assert(last.getLong(0) == batch.getAs[Long]("n_a"))
    assert(last.getDouble(2) == batch.getAs[Double]("p_a"))
    assert(last.getDouble(3) == batch.getAs[Double]("p_b"))
    assert(last.getDouble(4) == batch.getAs[Double]("z"))
    q.stop()
  }

  test("streamingSpearman: counted-cell state replays the batch " +
      "tie-corrected midrank rho across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // discretized metric with ties in both columns, split mid-stream
    val b1 = Seq(("A", 1.0, 2.0), ("A", 1.0, 3.0), ("A", 2.0, 3.0),
      ("A", 3.0, 1.0))
    val b2 = Seq(("A", 2.0, 2.0), ("A", 4.0, 5.0), ("A", 1.0, 2.0))
    val input = MemoryStream[(String, Double, Double)]
    val q = StreamingOps.streamingSpearman(
        input.toDF().toDF("k", "x", "y"))
      .writeStream.outputMode("update")
      .format("memory").queryName("spear").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql("SELECT * FROM spear ORDER BY n DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Experiment.spearmanCorr(
        (b1 ++ b2).toDF("k", "x", "y"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y")).head()
    assert(last.getAs[Long]("n") == batch.getAs[Long]("n"))
    assert(last.getAs[Double]("rho") == batch.getAs[Double]("rho"))
    // constant column nulls the rho, streaming and batch alike
    val input2 = MemoryStream[(String, Double, Double)]
    val q2 = StreamingOps.streamingSpearman(
        input2.toDF().toDF("k", "x", "y"))
      .writeStream.outputMode("update")
      .format("memory").queryName("spear2").start()
    input2.addData(Seq(("B", 1.0, 2.0), ("B", 1.0, 9.0)): _*)
    q2.processAllAvailable()
    val r2 = spark.sql("SELECT * FROM spear2").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("rho")))
    q.stop(); q2.stop()
  }

  test("streamingBootstrapMean: per-replicate counter pairs replay " +
      "the batch Poisson-bootstrap interval") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = (1L to 60L).map(i => ("A", i, (i % 7).toDouble))
    val b2 = (61L to 120L).map(i => ("A", i, (i % 7).toDouble))
    val input = MemoryStream[(String, Long, Double)]
    val q = StreamingOps.streamingBootstrapMean(
        input.toDF().toDF("k", "id", "v"), nBoot = 40)
      .writeStream.outputMode("update")
      .format("memory").queryName("boot").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql("SELECT * FROM boot ORDER BY n DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Experiment.bootstrapMeanCI(
        (b1 ++ b2).map(t => (t._2, t._3)).toDF("id", "v"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("v"), nBoot = 40).head()
    assert(last.getAs[Long]("n") == batch.getAs[Long]("n"))
    // addition order may differ from the batch shuffle's — tolerance
    // covers the <= 1-ulp drift
    assert(math.abs(last.getAs[Double]("mean") -
      batch.getAs[Double]("mean")) < 1e-9)
    assert(math.abs(last.getAs[Double]("lo") -
      batch.getAs[Double]("lo")) < 1e-9)
    assert(math.abs(last.getAs[Double]("hi") -
      batch.getAs[Double]("hi")) < 1e-9)
    assert(last.getAs[Double]("lo") <= last.getAs[Double]("mean") &&
      last.getAs[Double]("mean") <= last.getAs[Double]("hi"))
    q.stop()
  }

  test("streamingModularityDrift: frozen-assignment counters replay " +
      "the batch modularity numerator across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // frozen: the two-triangle partition; batch 2 adds cross edges
    // (drift) and an unassigned node 7 (singleton default)
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "cm")
    val b1 = Seq(("G", 1L, 2L), ("G", 2L, 3L), ("G", 1L, 3L),
      ("G", 4L, 5L), ("G", 5L, 6L), ("G", 4L, 6L))
    val b2 = Seq(("G", 3L, 4L), ("G", 1L, 7L))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingModularityDrift(
        input.toDF().toDF("k", "a", "b"), asg,
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("cm"))
      .writeStream.outputMode("update")
      .format("memory").queryName("drift").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    // latest row per community, then the Q readout from the counters
    val rows = spark.sql(
        """SELECT cm, tot, inn FROM (
             SELECT cm, tot, inn, row_number() OVER (
               PARTITION BY cm ORDER BY tot DESC) AS rn FROM drift)
           WHERE rn = 1""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val twoM = rows.map(_._2).sum
    val qNum = rows.map { case (_, tot, inn) =>
      2L * twoM * inn - tot * tot }.sum
    val batch = graft.ops.Graph.modularityNumerator(
      (b1 ++ b2).map(t => (t._2, t._3)).toDF("a", "b"),
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"), asg,
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("cm")).head()
    assert(twoM == batch.getAs[Long]("two_m"), s"2m $twoM vs $batch")
    // batch q_num is decimal(38,0) since round 13 (lifted Long cap)
    assert(BigInt(qNum) == BigInt(batch
      .getAs[java.math.BigDecimal]("q_num").toBigIntegerExact),
      s"qnum $qNum vs $batch")
    // and the drift direction is visible: Q after the cross edges is
    // below the clean two-triangle optimum (72 over 2m=12)
    assert(twoM == 16L && qNum < (72.0 / 144) * twoM * twoM)
    q.stop()
  }

  test("streamingModularityDrift: within-batch duplicate edges are " +
      "dropped and counted; counters match the batch op on the " +
      "deduped feed") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cm")
    // batch 1 repeats (1,2) twice and once REVERSED — 2 batch-local
    // duplicates of the canonical pair; batch 2 repeats (2,3) once
    val b1 = Seq(("G", 1L, 2L), ("G", 1L, 2L), ("G", 2L, 1L),
      ("G", 2L, 3L))
    val b2 = Seq(("G", 2L, 3L), ("G", 2L, 3L), ("G", 1L, 3L))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingModularityDrift(
        input.toDF().toDF("k", "a", "b"), asg,
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("cm"))
      .writeStream.outputMode("update")
      .format("memory").queryName("driftdup").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql(
        """SELECT cm, tot, inn, dup_dropped FROM (
             SELECT *, row_number() OVER (
               PARTITION BY cm ORDER BY tot DESC) AS rn FROM driftdup)
           WHERE rn = 1""")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 2 dups in batch 1 + 1 in batch 2 (cross-batch (2,3) repeat is
    // the documented caveat: batch 2's FIRST (2,3) counts again)
    assert(last.forall(_._4 == 3L), last.mkString(","))
    // counters = batch op over the batch-deduped feed:
    // batch 1 dedup {(1,2),(2,3)} ++ batch 2 dedup {(2,3),(1,3)}
    val fed = Seq((1L, 2L), (2L, 3L), (2L, 3L), (1L, 3L))
    val rows = last.map(t => (t._1, t._2, t._3))
    val twoM = rows.map(_._2).sum
    assert(twoM == 8L, s"2m $twoM") // 4 fed edges, all intra
    assert(rows.toSet == Set((1L, 8L, 4L)), rows.mkString(","))
    // and the batch op on the deduped-within-batch feed (distinct
    // collapses the cross-batch repeat; the drift twin documents that
    // divergence — here the assertion targets the dup counter)
    val batch = graft.ops.Graph.modularityNumerator(
      fed.toDF("a", "b"),
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"), asg,
      org.apache.spark.sql.functions.col("id"),
      org.apache.spark.sql.functions.col("cm")).head()
    assert(batch.getAs[Long]("two_m") == 6L) // distinct: 3 edges
    q.stop()
  }

  test("streamingModularityDrift: negative ids fail loudly (driver " +
      "side on the frozen assignment; per-row on the stream)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val badAsg = Seq((-2L, 1L)).toDF("id", "cm")
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.streamingModularityDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        badAsg, org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("cm"))
    }
    assert(ex.getMessage.contains("negative node id or community"),
      ex.getMessage)
    val asg = Seq((1L, 1L)).toDF("id", "cm")
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingModularityDrift(
        input.toDF().toDF("k", "a", "b"), asg,
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("cm"))
      .writeStream.outputMode("update")
      .format("memory").queryName("driftneg").start()
    input.addData(("G", -1L, 2L))
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(ex2).contains("negative node id"), chain(ex2))
    q.stop()
  }

  test("streamingAssortativityDrift: integer moment counters replay " +
      "the batch formula; the snapshot's own edges reproduce " +
      "degreeAssortativity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c}
    // a star (hub 1) + a triangle tail — non-degenerate degrees
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L),
      (4L, 6L))
    val und = edges.toDF("a", "b")
    val deg = und.select(c("a").as("id"))
      .unionAll(und.select(c("b").as("id")))
      .groupBy("id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("d"))
    val (b1, b2) = edges.map(t => ("G", t._1, t._2)).splitAt(3)
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingAssortativityDrift(
        input.toDF().toDF("k", "a", "b"), deg, c("id"), c("d"))
      .writeStream.outputMode("update")
      .format("memory").queryName("assort").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql(
        "SELECT * FROM assort ORDER BY n_e DESC LIMIT 1").collect()(0)
    // batch counters over the same frozen degrees — exact integers
    val dmap = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val xs = edges.map { case (a, b) => (dmap(a), dmap(b)) }
    assert(last.getAs[Long]("n_e") == xs.size.toLong)
    assert(last.getAs[Long]("s_xy") == xs.map(t => t._1 * t._2).sum)
    assert(last.getAs[Long]("s_x") == xs.map(t => t._1 + t._2).sum)
    assert(last.getAs[Long]("s_x2") ==
      xs.map(t => t._1 * t._1 + t._2 * t._2).sum)
    // readout r == the batch op's r on the same graph (4dp)
    val nE = last.getAs[Long]("n_e").toDouble
    val sxy = last.getAs[Long]("s_xy").toDouble
    val sx = last.getAs[Long]("s_x").toDouble
    val sx2 = last.getAs[Long]("s_x2").toDouble
    val r = (2 * nE * 2 * sxy - sx * sx) / (2 * nE * sx2 - sx * sx)
    val batchR = graft.ops.Graph.degreeAssortativity(und, c("a"), c("b"))
      .head().getAs[Double]("r")
    assert(math.abs(math.rint(r * 1e4) / 1e4 - batchR) <= 1e-4,
      s"stream $r vs batch $batchR")
    q.stop()
  }

  test("streamingWedgeClosure: closing counts replay the batch " +
      "common-neighbor formula against the frozen snapshot") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c}
    // frozen: path 1-2-3 plus 3-4 → distance-2 pairs {1,3},{2,4}
    val frozen = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    // arrivals: (1,3) closes, (3,1) closes (canonicalized), (2,4)
    // closes, (1,4) does not, (4,5) does not (5 unknown)
    val b1 = Seq(("G", 1L, 3L), ("G", 3L, 1L), ("G", 1L, 4L))
    val b2 = Seq(("G", 2L, 4L), ("G", 4L, 5L))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingWedgeClosure(
        input.toDF().toDF("k", "a", "b"), frozen, c("a"), c("b"))
      .writeStream.outputMode("update")
      .format("memory").queryName("wedge").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql(
        "SELECT * FROM wedge ORDER BY n_e DESC LIMIT 1").collect()(0)
    assert(last.getAs[Long]("n_e") == 5L)
    assert(last.getAs[Long]("n_closing") == 3L, s"$last")
    q.stop()
  }

  test("streamingGraphDrift: the consolidated emitter matches all " +
      "three single drift ops on the same replayed batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit}
    // frozen graph: triangle 1-2-3 + tail 3-4; assignment covers the
    // triangle, node 4 stays an unassigned singleton
    val frozen = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val deg = frozen.select(c("a").as("id"))
      .unionAll(frozen.select(c("b").as("id")))
      .groupBy("id").agg(cnt(lit(1)).as("d"))
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cm")
    // arrivals: a reversed duplicate (modularity dedups, the other two
    // count it), an unknown endpoint 5 (assortativity drops, wedge
    // keeps), a loop (all three drop), and a closing cross edge
    val b1 = Seq(("G", 1L, 2L), ("G", 2L, 1L), ("G", 3L, 4L),
      ("G", 1L, 5L))
    val b2 = Seq(("G", 2L, 4L), ("G", 3L, 3L))
    def feed[T](ds: org.apache.spark.sql.Dataset[T], name: String,
        input: MemoryStream[(String, Long, Long)]): Unit = {
      val q = ds.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      q.stop()
    }
    val inG = MemoryStream[(String, Long, Long)]
    feed(StreamingOps.streamingGraphDrift(
      inG.toDF().toDF("k", "a", "b"), asg, c("id"), c("cm"),
      deg, c("id"), c("d"), frozen, c("a"), c("b")), "gdrift", inG)
    val last = spark.sql(
        """SELECT cm, tot, inn, dup_dropped, n_e, n_deg_e, s_xy, s_x,
             s_x2, n_closing FROM (
             SELECT *, row_number() OVER (
               PARTITION BY cm ORDER BY tot DESC, n_e DESC) AS rn
             FROM gdrift) WHERE rn = 1""").collect()
    // hand-computed: cells (1: tot 5, inn 1), (−5: 2, 0), (−6: 1, 0)
    val cells = last.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(cells == Set((1L, 5L, 1L), (-5L, 2L, 0L), (-6L, 1L, 0L)),
      cells.mkString(","))
    assert(last.forall(_.getLong(3) == 1L)) // one reversed dup
    assert(last.forall(r => r.getLong(4) == 5L && r.getLong(9) == 3L),
      last.mkString(",")) // wedge: 5 arrivals, 3 close
    assert(last.forall(r => r.getLong(5) == 4L && r.getLong(6) == 13L &&
      r.getLong(7) == 15L && r.getLong(8) == 31L), last.mkString(","))
    // parity vs the three singles on the SAME batches
    val inM = MemoryStream[(String, Long, Long)]
    feed(StreamingOps.streamingModularityDrift(
      inM.toDF().toDF("k", "a", "b"), asg, c("id"), c("cm")),
      "gdriftm", inM)
    val mRows = spark.sql(
        """SELECT cm, tot, inn, dup_dropped FROM (
             SELECT *, row_number() OVER (
               PARTITION BY cm ORDER BY tot DESC) AS rn FROM gdriftm)
           WHERE rn = 1""").collect()
    assert(mRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == cells)
    assert(mRows.forall(_.getLong(3) == 1L))
    val inA = MemoryStream[(String, Long, Long)]
    feed(StreamingOps.streamingAssortativityDrift(
        inA.toDF().toDF("k", "a", "b"), deg, c("id"), c("d"))
      .as[(String, Long, Long, Long, Long)], "gdrifta", inA)
    val aRow = spark.sql(
      "SELECT n_e, s_xy, s_x, s_x2 FROM gdrifta ORDER BY n_e DESC " +
        "LIMIT 1").collect()(0)
    assert((aRow.getLong(0), aRow.getLong(1), aRow.getLong(2),
      aRow.getLong(3)) == (4L, 13L, 15L, 31L), aRow.toString)
    val inW = MemoryStream[(String, Long, Long)]
    feed(StreamingOps.streamingWedgeClosure(
        inW.toDF().toDF("k", "a", "b"), frozen, c("a"), c("b"))
      .as[(String, Long, Long)], "gdriftw", inW)
    val wRow = spark.sql(
      "SELECT n_e, n_closing FROM gdriftw ORDER BY n_e DESC LIMIT 1")
      .collect()(0)
    assert((wRow.getLong(0), wRow.getLong(1)) == (5L, 3L), wRow.toString)
  }

  test("streamingGraphDrift: oversized frozen pair set fails loudly " +
      "with the sizing formula; negative assignment ids fail driver-" +
      "side") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit}
    // a 5-node star has C(4,2) = 6 distance-2 pairs > cap 5
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val deg = star.select(c("a").as("id"))
      .unionAll(star.select(c("b").as("id")))
      .groupBy("id").agg(cnt(lit(1)).as("d"))
    val asg = Seq((0L, 0L)).toDF("id", "cm")
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.streamingGraphDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        asg, c("id"), c("cm"), deg, c("id"), c("d"), star, c("a"),
        c("b"), maxFrozenPairs = 5L)
    }
    assert(ex.getMessage.contains("maxFrozenPairs") &&
      ex.getMessage.contains("GiB"), ex.getMessage)
    val badAsg = Seq((-2L, 1L)).toDF("id", "cm")
    val ex2 = intercept[IllegalArgumentException] {
      StreamingOps.streamingGraphDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        badAsg, c("id"), c("cm"), deg, c("id"), c("d"), star, c("a"),
        c("b"))
    }
    assert(ex2.getMessage.contains("negative node id or community"),
      ex2.getMessage)
  }

  test("drift twins: oversized frozen assignment/degree tables fail " +
      "loudly BEFORE the driver collect, naming the batch equi-join " +
      "alternative (round-13 verdict ask #1)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c, count => cnt, lit}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val deg = edges.select(c("a").as("id"))
      .unionAll(edges.select(c("b").as("id")))
      .groupBy("id").agg(cnt(lit(1)).as("d"))             // 4 nodes
    val asg = (1L to 4L).map(i => (i, 1L)).toDF("id", "cm") // 4 entries
    // modularity drift: assignment of 4 entries > cap 3
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.streamingModularityDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        asg, c("id"), c("cm"), maxAssignEntries = 3L)
    }
    assert(ex.getMessage.contains("maxAssignEntries") &&
      ex.getMessage.contains("frozen assignment") &&
      ex.getMessage.contains("equi-join") &&
      ex.getMessage.contains("GiB"), ex.getMessage)
    // consolidated emitter: same cap trips on the assignment first…
    val ex2 = intercept[IllegalArgumentException] {
      StreamingOps.streamingGraphDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        asg, c("id"), c("cm"), deg, c("id"), c("d"), edges, c("a"),
        c("b"), maxAssignEntries = 3L)
    }
    assert(ex2.getMessage.contains("streamingGraphDrift") &&
      ex2.getMessage.contains("frozen assignment"), ex2.getMessage)
    // …and on the degree snapshot when the assignment fits (1 entry)
    val ex3 = intercept[IllegalArgumentException] {
      StreamingOps.streamingGraphDrift(
        MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
        Seq((1L, 1L)).toDF("id", "cm"), c("id"), c("cm"), deg, c("id"),
        c("d"), edges, c("a"), c("b"), maxAssignEntries = 3L)
    }
    assert(ex3.getMessage.contains("frozen degree snapshot"),
      ex3.getMessage)
    // at the default knob the small fixtures still run (guard is loud,
    // not lossy): the consolidated emitter constructs fine
    StreamingOps.streamingGraphDrift(
      MemoryStream[(String, Long, Long)].toDF().toDF("k", "a", "b"),
      asg, c("id"), c("cm"), deg, c("id"), c("d"), edges, c("a"), c("b"))
  }

  test("bootstrap empty-rank contracts: the batch diff CI " +
      "raise_errors while the streaming twin emits None bounds on " +
      "the same one-arm feed (the documented divergence, pinned)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // every row in arm x: no replicate ever has both arms' weight > 0,
    // so the CI ranks select nothing — the empty-rank edge
    val feed = (1L to 20L).map(i => ("A", i, "x", i.toDouble))
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    val ex = intercept[Exception] {
      graft.ops.Experiment.bootstrapDiffCI(
        feed.map(t => (t._2, t._3, t._4)).toDF("id", "arm", "v"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("arm"),
        org.apache.spark.sql.functions.col("v"),
        armA = "x", armB = "y", nBoot = 20).head()
    }
    assert(chain(ex).contains("bootstrapDiffCI"), chain(ex))
    val input = MemoryStream[(String, Long, String, Double)]
    val q = StreamingOps.streamingBootstrapDiff(
        input.toDF().toDF("k", "id", "arm", "v"), armA = "x",
        armB = "y", nBoot = 20)
      .writeStream.outputMode("update")
      .format("memory").queryName("bootnone").start()
    input.addData(feed: _*); q.processAllAvailable()
    val last = spark.sql(
        "SELECT * FROM bootnone ORDER BY n_a DESC LIMIT 1").collect()(0)
    assert(last.getAs[Long]("n_a") == 20L &&
      last.getAs[Long]("n_b") == 0L)
    // the live readout keeps emitting, with None (null) bounds
    assert(last.isNullAt(last.fieldIndex("lo")) &&
      last.isNullAt(last.fieldIndex("hi")) &&
      last.isNullAt(last.fieldIndex("diff")), s"$last")
    q.stop()
  }

  test("streamingBootstrapDiff: two-arm counter pairs replay the " +
      "batch A/B Poisson-bootstrap diff interval") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ids globally unique across arms — the one-md5-stream contract
    val b1 = (1L to 60L).map(i =>
      ("A", i, if (i % 2 == 0) "x" else "y",
        (i % 7).toDouble + (if (i % 2 == 0) 2.0 else 0.0)))
    val b2 = (61L to 120L).map(i =>
      ("A", i, if (i % 2 == 0) "x" else "y",
        (i % 7).toDouble + (if (i % 2 == 0) 2.0 else 0.0)))
    val input = MemoryStream[(String, Long, String, Double)]
    val q = StreamingOps.streamingBootstrapDiff(
        input.toDF().toDF("k", "id", "arm", "v"), armA = "x",
        armB = "y", nBoot = 40)
      .writeStream.outputMode("update")
      .format("memory").queryName("bootd").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql(
        "SELECT * FROM bootd ORDER BY n_a + n_b DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Experiment.bootstrapDiffCI(
        (b1 ++ b2).map(t => (t._2, t._3, t._4)).toDF("id", "arm", "v"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("arm"),
        org.apache.spark.sql.functions.col("v"),
        armA = "x", armB = "y", nBoot = 40).head()
    assert(last.getAs[Long]("n_a") == batch.getAs[Long]("n_a") &&
      last.getAs[Long]("n_b") == batch.getAs[Long]("n_b"))
    assert(math.abs(last.getAs[Double]("diff") -
      batch.getAs[Double]("diff")) < 1e-9)
    assert(math.abs(last.getAs[Double]("lo") -
      batch.getAs[Double]("lo")) < 1e-9)
    assert(math.abs(last.getAs[Double]("hi") -
      batch.getAs[Double]("hi")) < 1e-9)
    assert(last.getAs[Double]("lo") <= last.getAs[Double]("hi"))
    // the arm-lift fixture really separates: CI excludes zero
    assert(last.getAs[Double]("lo") > 0.0)
    q.stop()
  }

  test("streamingKendall: counted-cell state replays the batch tau-b " +
      "across batches, integer C/D exact") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("A", 1.0, 2.0), ("A", 1.0, 3.0), ("A", 2.0, 3.0),
      ("A", 3.0, 1.0))
    val b2 = Seq(("A", 2.0, 2.0), ("A", 4.0, 5.0), ("A", 1.0, 2.0))
    val input = MemoryStream[(String, Double, Double)]
    val q = StreamingOps.streamingKendall(
        input.toDF().toDF("k", "x", "y"))
      .writeStream.outputMode("update")
      .format("memory").queryName("kend").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql("SELECT * FROM kend ORDER BY n DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Experiment.kendallTau(
        (b1 ++ b2).toDF("k", "x", "y"),
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y")).head()
    assert(last.getAs[Long]("n") == batch.getAs[Long]("n"))
    assert(last.getAs[Long]("concordant") ==
      batch.getAs[Long]("concordant"))
    assert(last.getAs[Long]("discordant") ==
      batch.getAs[Long]("discordant"))
    assert(last.getAs[Double]("tau_b") == batch.getAs[Double]("tau_b"))
    q.stop()
  }

  test("streamingKappa: contingency state replays the batch kappa; " +
      "disjoint label sets give pe = 0, kappa = po") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("A", "x", "x"), ("A", "x", "y"), ("A", "y", "y"))
    val b2 = Seq(("A", "y", "x"), ("A", "x", "x"), ("A", "y", "y"))
    val input = MemoryStream[(String, String, String)]
    val q = StreamingOps.streamingKappa(input.toDF().toDF("k", "a", "b"))
      .writeStream.outputMode("update")
      .format("memory").queryName("kap").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql("SELECT * FROM kap ORDER BY n DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Experiment.cohensKappa(
        (b1 ++ b2).toDF("k", "a", "b"),
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).head()
    assert(last.getAs[Long]("n") == batch.getAs[Long]("n"))
    assert(last.getAs[Double]("po") == batch.getAs[Double]("po"))
    assert(last.getAs[Double]("pe") == batch.getAs[Double]("pe"))
    assert(last.getAs[Double]("kappa") == batch.getAs[Double]("kappa"))
    // disjoint labelings: raters never use the same vocabulary
    val input2 = MemoryStream[(String, String, String)]
    val q2 = StreamingOps.streamingKappa(input2.toDF().toDF("k", "a", "b"))
      .writeStream.outputMode("update")
      .format("memory").queryName("kap2").start()
    input2.addData(Seq(("B", "u", "v"), ("B", "w", "v")): _*)
    q2.processAllAvailable()
    val r2 = spark.sql("SELECT * FROM kap2").collect()(0)
    val batch2 = graft.ops.Experiment.cohensKappa(
        Seq(("B", "u", "v"), ("B", "w", "v")).toDF("k", "a", "b"),
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).head()
    assert(r2.getAs[Double]("pe") == 0.0 &&
      batch2.getAs[Double]("pe") == 0.0)
    assert(r2.getAs[Double]("kappa") == r2.getAs[Double]("po"))
    assert(batch2.getAs[Double]("kappa") == batch2.getAs[Double]("po"))
    q.stop(); q2.stop()
  }

  test("streamingSprt: the Wald crossing lands mid-stream and the " +
      "decision stays frozen; final row equals the batch test") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 10 successes per batch: upper = ln16 ≈ 2.7726, each success adds
    // ≈ 0.2007 → the crossing (n = 14) happens inside batch 2
    val b1 = (1 to 10).map(i => ("A", i.toLong, i.toLong, 1))
    val b2 = (11 to 20).map(i => ("A", i.toLong, i.toLong, 1))
    val input = MemoryStream[(String, Long, Long, Int)]
    val q = StreamingOps.streamingSprt(
        input.toDF().toDF("k", "t", "tb", "x"),
        p0 = 0.45, p1 = 0.55, alpha = 0.05, beta = 0.2)
      .writeStream.outputMode("update")
      .format("memory").queryName("sprt").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sprt ORDER BY n").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("decision") == "continue" &&
      rows(0).isNullAt(rows(0).fieldIndex("n_at_decision")))
    val last = rows(1)
    val batch = graft.ops.Experiment.sprtTest(
        (b1 ++ b2).toDF("k", "t", "tb", "x"),
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("t"),
        org.apache.spark.sql.functions.col("tb"),
        org.apache.spark.sql.functions.col("x"),
        p0 = 0.45, p1 = 0.55, alpha = 0.05, beta = 0.2)
      .head()
    assert(last.getAs[String]("decision") ==
      batch.getAs[String]("decision"))
    assert(last.getAs[Long]("n_at_decision") == 14L &&
      batch.getAs[Long]("n_at_decision") == 14L)
    assert(last.getAs[Double]("llr_final") ==
      batch.getAs[Double]("llr_final"))
    q.stop()
  }

  test("streamingHoltWinters: O(m) state replays the batch recurrence " +
      "on in-order feeds") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, 1L, 1L, 10.0), (1L, 2L, 2L, 20.0))
    val b2 = Seq((1L, 3L, 3L, 30.0), (1L, 4L, 4L, 40.0))
    val input = MemoryStream[(Long, Long, Long, Double)]
    val q = StreamingOps.streamingHoltWinters(
        input.toDF().toDF("k", "t", "tb", "y"),
        alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2, horizon = 1)
      .writeStream.outputMode("update")
      .format("memory").queryName("hw").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    val last = spark.sql("SELECT * FROM hw ORDER BY n DESC LIMIT 1")
      .collect()(0)
    val batch = graft.ops.Temporal.holtWintersSmooth(
        (b1 ++ b2).toDF("k", "t", "tb", "y"),
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("t"),
        org.apache.spark.sql.functions.col("tb"),
        org.apache.spark.sql.functions.col("y"),
        alpha = 0.5, beta = 0.5, gamma = 0.5, period = 2, horizon = 1)
      .collect()(0)
    assert(last.getAs[Long]("n") == batch.getAs[Long]("n"))
    assert(last.getAs[Double]("level") == batch.getAs[Double]("level"))
    assert(last.getAs[Double]("trend") == batch.getAs[Double]("trend"))
    assert(last.getAs[Double]("forecast") ==
      batch.getAs[Double]("forecast"))
    q.stop()
  }

  test("streamingScd2: open-interval state matches the batch history on " +
      "in-order feeds; stale rows drop") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (1L, ts("2024-01-02 00:00:00"), 2L, "A"),
      (1L, ts("2024-01-03 00:00:00"), 3L, "B"),
      (2L, ts("2024-01-01 12:00:00"), 4L, "X"))
    val b2 = Seq((1L, ts("2024-01-04 00:00:00"), 5L, "A"),
      (2L, ts("2024-01-05 00:00:00"), 6L, "Y"),
      // older than key 2's OPEN interval start: dropped by contract
      (2L, ts("2024-01-02 00:00:00"), 7L, "Z"))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = StreamingOps.streamingScd2(
        input.toDF().toDF("k", "t", "tb", "state"))
      .writeStream.outputMode("update")
      .format("memory").queryName("scd2s").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2.take(2): _*); q.processAllAvailable()
    input.addData(b2.drop(2): _*); q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM scd2s").collect().zipWithIndex
    // latest emission per (k, version)
    val latest = rows.groupBy(r => (r._1.getLong(0), r._1.getLong(1)))
      .map { case (_, g) => g.maxBy(_._2)._1 }
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4), r.getString(5))).toSet
    // the batch twin over the in-order union (the dropped Z row is
    // stale history the streaming contract excludes)
    val batchIn = (b1 ++ b2.take(2)).toDF("k", "t", "tb", "state")
    val batch = graft.ops.Warehouse.scd2(batchIn,
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.col("t"),
        org.apache.spark.sql.functions.col("tb"),
        Seq("state" -> org.apache.spark.sql.functions.col("state")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime * 1000L,
        Option(r.getTimestamp(3)).map(_.getTime * 1000L),
        r.getLong(4), r.getString(5))).toSet
    assert(latest == batch, s"latest=$latest\nbatch=$batch")
    q.stop()
  }

  test("streamingHeavyHittersDecay: counters halve on the batch clock, " +
      "faded terms tombstone out") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val hh = StreamingOps.streamingHeavyHittersDecay(
      input.toDF().toDF("text"), capacity = 100, nShards = 1,
      decayEveryBatches = 1)
    val q = hh.writeStream.outputMode("update")
      .format("memory").queryName("hhd").start()
    def emitted(since: Long): Seq[(String, Long)] = {
      val all = spark.sql("SELECT term, est FROM hhd").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      all.drop(since.toInt)
    }
    input.addData("a a a a"); q.processAllAvailable()
    val c1 = spark.sql("SELECT * FROM hhd").count()
    assert(emitted(0) == Seq(("a", 4L)))
    input.addData("b b"); q.processAllAvailable()
    val c2 = spark.sql("SELECT * FROM hhd").count()
    // a decayed 4 → 2 before b's insert; tie orders by term
    assert(emitted(c1).toSet == Set(("a", 2L), ("b", 2L)))
    input.addData("c"); q.processAllAvailable()
    val c3 = spark.sql("SELECT * FROM hhd").count()
    assert(emitted(c2).toSet == Set(("a", 1L), ("b", 1L), ("c", 1L)))
    // one more silent batch for a/b/c: counters hit zero, drop from
    // state, and retract via tombstones — the stream forgets
    input.addData("d"); q.processAllAvailable()
    assert(emitted(c3).toSet ==
      Set(("d", 1L), ("a", -1L), ("b", -1L), ("c", -1L)))
    q.stop()
  }

  test("streamingAnomalies: cross-batch ring state matches the batch " +
      "scorer under in-order delivery; spike flags fire") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two keys, stable baselines with one spike each; key 1's spike
    // lands in batch 2 so its priors MUST carry across the batch
    // boundary through the ring state
    val all = (1 to 8).map(i =>
        (1L, i.toLong, ts(f"2024-01-01 10:0$i%02d:00"),
          if (i == 7) 50.0 else 10.0 + (i % 3))) ++
      (1 to 6).map(i =>
        (2L, 100L + i, ts(f"2024-01-01 10:0$i%02d:00"),
          if (i == 5) -40.0 else 5.0 + (i % 2)))
    val (batch1, batch2) = all.partition(_._3.getTime <=
      ts("2024-01-01 10:04:00").getTime)
    val input = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val sa = StreamingOps.streamingAnomalies(
      input.toDF().toDF("user_id", "event_id", "ts", "value"),
      nRows = 4, minPrior = 3, threshold = 1.5)
    val q = sa.writeStream.outputMode("update")
      .format("memory").queryName("sanom").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    // append-shaped: exactly one row per event, never revised
    val rows = spark.sql("SELECT * FROM sanom").collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4), r.getLong(5)))
    assert(rows.length == all.length)
    val batchFrame = graft.ops.Temporal.anomalies(
        all.toDF("user_id", "event_id", "ts", "value"), col("event_id"),
        Seq("user_id"), col("ts"), col("value"), nRows = 4, minPrior = 3,
        threshold = 1.5)
      .select("id", "user_id", "value", "n_prior", "z", "is_anomaly")
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4), r.getLong(5)))
    def key(t: (Long, Long, Double, Long, Double, Long)) = (t._1, t._2)
    def canon(t: (Long, Long, Double, Long, Double, Long)) =
      (t._1, t._2, t._3, t._4,
        if (t._5.isNaN) "null" else f"${t._5}%.4f", t._6)
    assert(rows.map(canon).sortBy(r => (r._1, r._2)).toSeq ==
      batchFrame.map(canon).sortBy(r => (r._1, r._2)).toSeq)
    // the cross-batch case really exercised state: key 1's spike (id 7)
    // scored in batch 2 against priors from both batches, and flagged
    val spike = rows.find(r => key(r) == (1L, 7L)).get
    assert(spike._4 == 4L && spike._6 == 1L && spike._5 > 1.5)
    val dip = rows.find(r => key(r) == (2L, 105L)).get
    assert(dip._6 == 1L && dip._5 < -1.5)
    // warmup rows (fewer than minPrior priors) never flag, z null
    assert(rows.filter(_._4 < 3).forall(r => r._5.isNaN && r._6 == 0L))
    q.stop()
  }

  test("streamingModularityDrift counters determine live per-" +
      "community CONDUCTANCE: phi derived from the emitted (tot, inn) " +
      "equals batch communityConductance on replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two triangles + one bridge (the Wave11Spec conductance fixture)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L))
    val asg = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "cm")
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamingOps.streamingModularityDrift(
        input.toDF().toDF("k", "a", "b"), asg, col("id"), col("cm"))
      .writeStream.outputMode("update")
      .format("memory").queryName("cphi").start()
    input.addData(edges.map { case (a, b) => ("g", a, b) }: _*)
    q.processAllAvailable()
    val cells = spark.sql(
        "SELECT cm, max(tot) AS tot, max(inn) AS inn FROM cphi " +
          "GROUP BY cm")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val twoM = cells.values.map(_._1).sum // Σ tot ≡ 2m
    val live = cells.map { case (cm, (tot, inn)) =>
      val cut = tot - 2 * inn
      cm -> (tot, inn, cut,
        BigDecimal(cut.toDouble / math.min(tot, twoM - tot))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val batch = graft.ops.Graph.communityConductance(
        edges.toDF("a", "b"), col("a"), col("b"), asg, col("id"),
        col("cm"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(live == batch, s"live $live vs batch $batch")
    q.stop()
  }

  test("streamingKAnonymity: live release gate — flags match the " +
      "batch audit on the union, counts saturate at l (bounded " +
      "state), and a violating group flips compliant as data lands") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.streamingKAnonymity(
        input.toDF().toDF("grp", "sv"), k = 3, l = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("kanon").start()
    // batch 1: A has 2 rows / 1 sensitive -> under both
    input.addData(("A", "x"), ("A", "x"), ("B", "x"), ("B", "y"),
      ("B", "z"))
    q.processAllAvailable()
    val b1 = spark.sql("SELECT * FROM kanon").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toMap
    assert(b1("A") == ((2L, 1L, true, true)), b1.toString)
    assert(b1("B") == ((3L, 2L, false, false)), b1.toString) // saturated at l=2 (true distinct 3)
    // batch 2: A clears both thresholds -> the gate's signal
    input.addData(("A", "y"), ("A", "x"))
    q.processAllAvailable()
    val last = spark.sql(
        "SELECT * FROM kanon WHERE grp = 'A' ORDER BY n DESC").collect()
      .head
    assert(last.getLong(1) == 4L && last.getLong(2) == 2L &&
      !last.getBoolean(3) && !last.getBoolean(4), last.toString)
    // flags agree with the batch audit on the union (A/B both clear
    // -> batch report is empty; a still-violating C would appear)
    val batch = graft.ops.Curation.kAnonymityReport(
      Seq(("A", "x"), ("A", "x"), ("B", "x"), ("B", "y"), ("B", "z"),
        ("A", "y"), ("A", "x")).toDF("g", "sv"),
      Seq("g" -> col("g")), col("sv"), k = 3, l = 2)
    assert(batch.count() == 0L)
    q.stop()
  }

  test("streamingAmsF2: sign-sum state merges across batches; final " +
      "emission equals the batch sketch on the union (unconditional " +
      "parity — no arrival-order caveat)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = (0 until 150).map(i => ("g", s"key${i % 5}"))
    val b2 = (0 until 130).map(i => ("g", s"key${i % 9}"))
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.streamingAmsF2(
        input.toDF().toDF("grp", "v"), k = 4)
      .writeStream.outputMode("update")
      .format("memory").queryName("ams").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2.reverse: _*); q.processAllAvailable() // any order
    val emissions = spark.sql("SELECT n_rows, k, f2_sum FROM ams")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(emissions.length == 2 && emissions.last._1 == 280L &&
      emissions.last._2 == 4L)
    val batch = graft.ops.Scale.amsF2((b1 ++ b2).map(_._2).toDF("v"),
      col("v"), k = 4).head()
    assert(emissions.last._3 ==
      batch.getDecimal(batch.fieldIndex("f2_sum")).longValueExact(),
      s"streaming ${emissions.last} vs batch $batch")
    q.stop()
  }

  test("streamingResidualDw: five-Long state folds across batches " +
      "(unsorted within a batch); final DW equals the batch " +
      "residualDiagnostics; cross-batch time regression is loud") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vs = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L)
    val pts = vs.zipWithIndex.map { case (v, i) => (7L, i.toLong, v) }
    val input = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.streamingResidualDw(
        input.toDF().toDF("k", "t", "v"))
      .writeStream.outputMode("update")
      .format("memory").queryName("dwtwin").start()
    input.addData(pts.take(6).reverse: _*) // in-batch order is sorted
    q.processAllAvailable()
    input.addData(pts.drop(6): _*)
    q.processAllAvailable()
    val em = spark.sql("SELECT n, dw FROM dwtwin WHERE key = 7")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(em.map(_._1).toSeq == Seq(6L, 10L), s"emissions: ${em.toSeq}")
    val batch = graft.ops.Temporal.residualDiagnostics(
        pts.toDF("k", "t", "v"), col("k"), col("t"), col("v"))
      .head()
    assert(em.last._2 == batch.getDouble(batch.fieldIndex("dw")),
      s"streaming ${em.last} vs batch $batch")
    // a point at-or-before the last seen t must fail loudly
    input.addData((7L, 3L, 2L))
    val ex = intercept[Exception] { q.processAllAvailable() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + chain(t.getCause)
    assert(chain(ex).contains("cannot reorder history"), chain(ex))
    q.stop()
  }

  test("streamingCcf: O(maxLag) ring state folds across batches — " +
      "including a grid gap — and every lag's r equals the batch " +
      "crossCorrelation on the union") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // t = 8 is missing: gapped grids must pair by grid distance,
    // exactly like the batch equi-join
    val xs = Seq(3L, 2L, 5L, 4L, 6L, 7L, 1L, 9L, 8L)
    val ys = Seq(1L, 3L, 2L, 5L, 4L, 6L, 7L, 2L, 5L)
    val ts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L, 10L)
    val pts = ts.indices.map(i => (3L, ts(i), xs(i), ys(i)))
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = StreamingOps.streamingCcf(
        input.toDF().toDF("k", "t", "x", "y"), maxLag = 3)
      .writeStream.outputMode("update")
      .format("memory").queryName("ccftwin").start()
    input.addData(pts.take(5): _*); q.processAllAvailable()
    input.addData(pts.drop(5): _*); q.processAllAvailable()
    val em = spark.sql(
        "SELECT lag, n, r FROM ccftwin WHERE key = 3").collect()
      .groupBy(_.getLong(0)).map { case (lag, rows) =>
        val last = rows.maxBy(_.getLong(1)) // n only grows: final state
        lag -> ((last.getLong(1),
          if (last.isNullAt(2)) None else Some(last.getDouble(2))))
      }
    val batch = graft.ops.Temporal.crossCorrelation(
        pts.toDF("k", "t", "x", "y"), col("t"), col("x"), col("y"),
        maxLag = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(em == batch, s"streaming $em\nvs batch $batch")
    q.stop()
  }
}
