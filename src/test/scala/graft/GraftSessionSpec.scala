package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.IngestJob
import graft.model.{Chunk, SearchHit}
import graft.query.Searcher

/** Typed public API (SURVEY §1.3): Dataset[Chunk]/Dataset[SearchHit] views
  * over the engine, and SQL access to the registered tables. */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = Files.createTempDirectory("graft-sess").toString

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    Files.write(Paths.get(docsDir, "a.txt"),
      ("vector search cosine embeddings " * 20).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(docsDir, "b.txt"),
      ("completely different cooking recipe text " * 20).getBytes(StandardCharsets.UTF_8))
    // back-date mtime so creation (birth) and modification stats diverge on
    // filesystems that keep birth time (document_processor.py:61-62 parity)
    Files.setLastModifiedTime(Paths.get(docsDir, "b.txt"),
      java.nio.file.attribute.FileTime.from(
        java.time.Instant.now().minusSeconds(86400)))
    IngestJob.run(spark, docsDir, s"$work/wh", "tdb",
      IngestJob.Config(chunkSize = 150, chunkOverlap = 50))
  }

  override def afterAll(): Unit = spark.stop()

  test("Dataset[Chunk]: typed fields round-trip") {
    val sess = new GraftSession(spark, s"$work/wh")
    val cs: Seq[Chunk] = sess.chunks("tdb").collect().toIndexedSeq
    assert(cs.nonEmpty)
    assert(cs.forall(_.vector.length == 64))
    assert(cs.forall(c => c.metadata.file_name.endsWith(".txt")))
    assert(cs.forall(c => c.metadata.page_number.isEmpty)) // no [[pageN]]
    assert(cs.map(_.id).distinct.length == cs.length)
  }

  test("Dataset[SearchHit]: typed search with scores") {
    val sess = new GraftSession(spark, s"$work/wh")
    val hits: Seq[SearchHit] = sess.search("tdb", "cosine vector search",
      Searcher.Params(k = 3, threshold = 0.0)).collect().toIndexedSeq
    assert(hits.length == 3)
    assert(hits.forall(h => h.similarity_score >= 0.0 && h.similarity_score <= 1.0))
    assert(hits.forall(h => math.abs(h.distance - (1.0 - h.similarity_score)) < 1e-9))
    assert(hits.head.metadata.file_name == "a.txt") // the vector-y doc wins
    // any index through the same typed search: a full-rerank quantized
    // search verifies every row, so it returns the FLAT hits
    sess.store.writeVectorsQuantized("tdb")
    assert(sess.search("tdb", "cosine vector search", Searcher.Params(k = 3, threshold = 0.0),
      Searcher.Quantized("sq8", rerank = 10000)).collect().toSeq == hits)
  }

  test("creation_date records the file's own stat (S-metadata fidelity)") {
    val sess = new GraftSession(spark, s"$work/wh")
    val b = sess.chunks("tdb").collect()
      .filter(_.metadata.file_name == "b.txt").head.metadata
    val attrs = Files.readAttributes(Paths.get(s"$work/docs", "b.txt"),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    def iso(t: java.nio.file.attribute.FileTime): String =
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    val expectedCreation =
      if (attrs.creationTime().toMillis <= 0) iso(attrs.lastModifiedTime())
      else iso(attrs.creationTime())
    assert(b.creation_date == expectedCreation)
    assert(b.modification_date == iso(attrs.lastModifiedTime()))
    // mtime was back-dated a day; if this fs keeps birth time the two differ
    if (attrs.creationTime() != attrs.lastModifiedTime())
      assert(b.creation_date != b.modification_date)
  }

  test("pdf ingests end-to-end with page_number provenance (S2)") {
    val dir = s"$work/pdfdocs"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "doc.pdf"), PdfFixtures.mkPdf(Seq(
      "BT (vector engines score cosine similarity over parquet) Tj ET",
      "BT (second page speaks of shuffles and partitions) Tj ET"),
      flate = true))
    IngestJob.run(spark, dir, s"$work/wh", "pdfdb",
      IngestJob.Config(chunkSize = 40, chunkOverlap = 10))
    val sess = new GraftSession(spark, s"$work/wh")
    val cs = sess.chunks("pdfdb").collect()
    assert(cs.nonEmpty)
    assert(cs.forall(_.metadata.file_name == "doc.pdf"))
    assert(cs.forall(_.metadata.page_number.nonEmpty))
    assert(cs.map(_.metadata.page_number.get).distinct.sorted.toSeq == Seq(1, 2))
  }

  test("hybrid search: lexical match surfaces beside vector hits") {
    val sess = new GraftSession(spark, s"$work/wh")
    val hits = sess.searchHybrid("tdb", "cooking recipe",
      Searcher.Params(k = 2, threshold = 0.0)).collect()
    assert(hits.nonEmpty)
    // the recipe document must rank first: its tokens match lexically even
    // if the hash-embedding space happens to favor the other doc
    assert(hits.head.metadata.file_name == "b.txt")
    val scored = sess.searcher.searchHybrid("tdb", "cooking recipe",
      Searcher.Params(k = 2, threshold = 0.0)).collect()
    assert(scored.forall(_.getAs[Double]("hybrid_score") > 0))
  }

  test("hybrid threshold: vector leg thresholded, lexical-only hits survive (F5)") {
    val sess = new GraftSession(spark, s"$work/wh")
    val all = sess.searcher.searchHybrid("tdb", "cooking recipe",
      Searcher.Params(k = 5, threshold = 0.0)).collect()
    val maxSim = all.map(_.getAs[Double]("similarity_score")).max
    assert(maxSim > 0.0) // sanity: the vector leg contributed at threshold 0
    // a threshold above every cosine candidate empties the vector leg;
    // lexical candidates are never thresholded, so hits still surface
    val strict = sess.searcher.searchHybrid("tdb", "cooking recipe",
      Searcher.Params(k = 5, threshold = math.min(1.0, maxSim + 0.005))).collect()
    assert(strict.nonEmpty)
    assert(strict.head.getAs[Row]("metadata").getAs[String]("file_name") == "b.txt")
    assert(strict.forall(_.getAs[Double]("similarity_score") == 0.0))
    assert(strict.forall(_.getAs[Double]("distance") == 1.0))
    // the fused score lost the vector-rank contribution: no strict score
    // may exceed its threshold-0 counterpart for the same id
    val byId = all.map(r => r.getAs[String]("id") -> r.getAs[Double]("hybrid_score")).toMap
    strict.foreach { r =>
      byId.get(r.getAs[String]("id")).foreach { full =>
        assert(r.getAs[Double]("hybrid_score") <= full + 1e-12)
      }
    }
  }

  test("open(db) registers SQL views + functions") {
    val sess = new GraftSession(spark, s"$work/wh")
    sess.open("tdb")
    val n = spark.sql(
      """SELECT count(*) FROM tdb_vectors v
         JOIN tdb_chunk_doc_map m ON v.id = m.chunk_id""").collect()(0).getLong(0)
    assert(n > 0)
    val top = spark.sql(
      """SELECT id, round(cosine_similarity(vector, hash_embed('cosine vector search')), 4) AS sim
         FROM tdb_vectors ORDER BY sim DESC, id LIMIT 2""").collect()
    assert(top.length == 2)
  }

  test("typed curation facade: split/curriculum/triplets/epoch agree " +
      "with the object methods and carry typed fields") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel", 0.9),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotels", 0.1), // near-dup of 1
      (3L, "kilo lima mike november oscar papa quebec", 0.5),
      (4L, "romeo sierra tango uniform victor whiskey xray", 0.7))
      .toDF("doc_id", "body", "difficulty")

    val split = sess.leakageSafeSplit(docs, "doc_id", "body", 0.5).collect()
    assert(split.length == 4)
    val byId = split.map(s => s.id -> s).toMap
    // the near-dup pair shares a cluster and therefore a split
    assert(byId(1L).cluster_id == byId(2L).cluster_id)
    assert(byId(1L).split == byId(2L).split)
    assert(split.forall(s => Set("train", "val", "test").contains(s.split)))

    val cur = sess.curriculumOrder(docs, "doc_id", "difficulty",
      nBins = 2, epoch = 1).collect().sortBy(_.ord)
    assert(cur.map(_.ord).toSeq == (1L to 4L))
    assert(cur.map(_.bin).toSeq.sorted == cur.map(_.bin).toSeq) // easy bins first

    val edges = graft.ops.Ann.knnGraph(
      docs.select(col("doc_id"),
        graft.functions.hash_embed(col("body")).as("vector")),
      col("doc_id"), col("vector"), k = 2)
    val trip = sess.contrastiveTriplets(docs, "doc_id", "body", edges, 0.5)
      .collect()
    assert(trip.nonEmpty)
    // positives are verified cluster mates; negatives never in-cluster
    trip.foreach { t =>
      assert(Set(t.anchor_id, t.pos_id) == Set(1L, 2L))
      assert(t.neg_id != 1L && t.neg_id != 2L)
    }

    val e1 = sess.epochShuffle(docs, "doc_id", epoch = 1).collect()
    val e1b = sess.epochShuffle(docs, "doc_id", epoch = 1).collect()
    val e2 = sess.epochShuffle(docs, "doc_id", epoch = 2).collect()
    assert(e1.sortBy(_.ord).map(_.id).toSeq == e1b.sortBy(_.ord).map(_.id).toSeq)
    assert(e1.sortBy(_.ord).map(_.id).toSeq != e2.sortBy(_.ord).map(_.id).toSeq)
    // both are permutations of the corpus
    assert(e1.map(_.id).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(e2.map(_.id).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("typed round-7 facade: preference pairs, FIM, span corruption, " +
      "domain gate, bitext — typed fields agree with the object methods") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val docs = Seq(
      ("p1", 1L, "alpha bravo charlie delta echo foxtrot golf hotel", 9.0, "s1"),
      ("p1", 2L, "india juliet kilo lima", 1.0, "s1"),
      ("p2", 3L, "mike november oscar papa", 5.0, "s2"))
      .toDF("prompt", "doc_id", "body", "score", "src")

    val pairs = sess.preferencePairs(docs, "prompt", "doc_id", "score")
      .collect()
    assert(pairs.length == 1 && pairs(0).chosen_id == 1L
      && pairs(0).rejected_id == 2L && pairs(0).margin == 8.0)

    val fim = sess.fimTransform(docs, "doc_id", "body", rate = 1.0).collect()
    assert(fim.forall(_.fim) && fim.forall(_.out_text.startsWith("<PRE>")))

    val sc = sess.spanCorruption(docs, "doc_id", "body", stride = 4,
      spanLen = 2).collect().map(c => c.id -> c).toMap
    assert(sc(1L).n_spans == 2 && sc(1L).input.contains("<extra_id_0>"))

    val verdicts = sess.domainRollup(docs, "src", "score",
      minMean = 4.0, lowFloor = 2.0, maxLowShare = 0.4).collect()
      .map(v => v.source -> v.keep).toMap
    assert(verdicts == Map("s1" -> false, "s2" -> true)) // s1: low_share 0.5

    val a = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    val b = Seq((10L, Seq(1f, 0.1f)), (11L, Seq(0.1f, 1f))).toDF("id", "v")
    val bt = sess.bitextMine(a, "id", "v", b, "id", "v", k = 2,
      threshold = 0.0).collect().map(p => p.a_id -> p).toMap
    assert(bt(1L).b_id == 10L && bt(1L).mutual)
    assert(bt(2L).b_id == 11L && bt(2L).mutual)
  }

  test("typed third-wave facade: conversations, reweighting, temperature, " +
      "retrieval metrics, logistic scoring") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")

    val turns = Seq((1L, 1L, "user", "hi"), (1L, 2L, "assistant", "yo"))
      .toDF("conv", "o", "role", "txt")
    val convs = sess.assembleConversations(turns, "conv", "role", "txt",
      "o", "o").collect()
    assert(convs.length == 1 && convs(0).valid && convs(0).n_turns == 2)

    val dw = sess.domainReweight(
      Seq(("a", 1.0), ("b", 3.0)).toDF("src", "l"), "src", "l",
      Map("a" -> 0.5, "b" -> 0.5), eta = 1.0).collect()
      .map(v => v.source -> v.w_new).toMap
    assert(dw("b") > dw("a"))

    val ts = sess.temperatureSample(
      (1L to 100L).map(i => (i, if (i <= 80) "big" else "small"))
        .toDF("id", "st"), "id", "st", 2.0)
    assert(ts.count() < 100 && ts.count() > 20)

    val truth = Seq(("q", 1, 1L)).toDF("query_id", "rnk", "id")
    val system = Seq(("q", 1, 1L)).toDF("query_id", "rnk", "id")
    val rm = sess.retrievalMetrics(system, truth, 1).collect()
    assert(rm.length == 1 && rm(0).recall == 1.0 && rm(0).ndcg == 1.0)

    val docs = (1 to 40).map(i =>
      (i.toLong, i % 2 == 0, s"w$i ${if (i % 2 == 0) "pos" else "neg"}"))
      .toDF("id", "y", "text")
    val model = graft.ops.Classify.logisticTrain(docs, col("y"),
      col("text"), dim = 16, iters = 10, lr = 8.0, binary = true)
    val scored = sess.logisticScore(docs, "id", "text", model,
      binary = true).collect()
    // dim=16 hash collisions can flip a boundary doc; the learning
    // quality contract lives in ClassifySpec — this checks the plumbing
    assert(scored.count(s => s.pred == (s.id % 2 == 0)) >= 36)
  }

  test("session scrubGate: name-based daily gate over persisted artifacts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val frozen = Seq(
      (1L, "one two three\nCOMMON FOOTER LINE"),
      (2L, "four five six\nCOMMON FOOTER LINE")).toDF("doc_id", "body")
    val line = graft.ops.FrequentLineScrub(minDocs = 2)
    sess.store.writeScrubArtifact("tdb", line, frozen, col("doc_id"), col("body"))
    val out = sess.scrubGate("tdb", Seq(line),
        Seq((9L, "fresh words\nCOMMON FOOTER LINE")).toDF("id", "text"))
      .collect()
    assert(out.length == 1 && out(0).getString(1) == "fresh words")
  }

  test("session temporal joins: as-of and range with name-based columns") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "k", "t")
    val r = Seq((5L, 7L, ts("2024-01-01 09:30:00"), 2.5))
      .toDF("rid", "k", "t", "v")
    val a = sess.asofJoin(l, r, Seq("k"), "t", Seq("rid", "v"), "rid")
      .select("event_id", "asof_rid").head()
    assert(a.getLong(0) == 1L && a.getLong(1) == 5L)
    val rj = sess.rangeJoin(l, "event_id", "t",
      r.select(col("rid"), col("t").as("s"),
        (col("t") + expr("INTERVAL 2 HOURS")).as("e")),
      "rid", "s", "e", 3600000000L).head()
    assert(rj.getLong(0) == 1L && rj.getLong(1) == 5L)
    // round-9 surfaces: forward direction, nearest, interval overlap,
    // the per-key funnel frame
    val fwd = sess.asofJoin(
        Seq((1L, 7L, ts("2024-01-01 09:00:00"))).toDF("event_id", "k", "t"),
        r, Seq("k"), "t", Seq("rid"), "rid", direction = "forward")
      .select("asof_rid").head()
    assert(fwd.getLong(0) == 5L)
    val near = sess.asofJoinNearest(l, r, Seq("k"), "t", Seq("rid"), "rid")
      .select("asof_rid").head()
    assert(near.getLong(0) == 5L)
    val ov = sess.intervalOverlapJoin(
      r.select(col("rid"), col("t").as("s"),
        (col("t") + expr("INTERVAL 1 HOUR")).as("e")),
      "rid", "s", "e",
      r.select((col("rid") + 100).as("rid2"), col("t").as("s"),
        (col("t") + expr("INTERVAL 2 HOURS")).as("e")),
      "rid2", "s", "e", 900000000L).head()
    assert(ov.getLong(0) == 5L && ov.getLong(1) == 105L)
    val fs = sess.funnelSteps(
      Seq((7L, "a", ts("2024-01-01 10:00:00"))).toDF("u", "tp", "t"),
      "u", "tp", "t", Seq("a", "b")).collect()
    assert(fs.length == 1 && fs(0).getLong(1) == 1L)
  }

  test("session curation/mining facade: typed ICT, pack, distill, " +
      "outlier, diverse, hnsw surfaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val docs = (0L until 30L)
      .map(i => (i, (0 until 12).map(j => s"w${(i * 7 + j) % 19}").mkString(" ")))
      .toDF("doc_id", "text")
    val ict = sess.ictPairs(docs, "doc_id", "text").collect()
    assert(ict.length == 30 && ict.forall(p => p.n_units == 3))
    val slots = sess.packAssign(docs, "doc_id", Seq("doc_id"), "doc_id", 10)
      .collect()
    assert(slots.length == 30)
    val cands = Seq((1L, "q", 2L, "dd"), (1L, "q", 3L, "d"))
      .toDF("qid", "qt", "did", "dt")
    val kd = sess.distillationPairs(cands, "qid", "qt", "did", "dt",
      graft.ops.HashCrossScorer(), 1, 1).collect()
    assert(kd.length == 2 && kd.count(_.is_pos) == 1)
    val emb = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(j =>
        ((graft.expr.PortableHash.hex15(s"e:$i:$j") % 1000L) / 500.0 - 1.0).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val outl = sess.embeddingOutliers(emb, "vec_id", "embedding",
      tau = 0.99, nlist = 4).collect()
    assert(outl.length == 40 && outl.exists(_.outlier))
    val picks = sess.diverseSample(emb, "vec_id", "embedding", 8, nlist = 4)
      .collect()
    assert(picks.length == 8 && picks.map(_.id).distinct.length == 8)
    val edges = sess.hnswBuild(emb, "vec_id", "embedding", m = 4,
      maxLevel = 1)
    val top = sess.hnswSearch(edges.toDF(), emb, "vec_id", "embedding",
      Array.fill(8)(0.3f), k = 3, maxLevel = 1, ef = 20).collect()
    assert(top.length == 3 && top.map(_.getLong(1)).distinct.length == 3)
  }

  test("session round-10 facade: dq checks, scd2, linkage, survival, " +
      "affinity, holt, skew, kmv, mann-whitney") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sess = new GraftSession(spark, s"$work/wh")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val li = Seq((1L, 1, 5.0), (1L, 1, -1.0), (2L, 2, 3.0))
      .toDF("ok", "ln", "qty")
    val parent = Seq(1L).toDF("pk")
    val checks = sess.dqChecks(li,
        rules = Seq("qty_pos" -> (col("qty") > 0)),
        uniqueKeys = Seq("pk" -> Seq("ok", "ln")),
        refChecks = Seq(("fk", "ok", parent, "pk")))
      .collect().map(c => c.rule -> c.violations).toMap
    assert(checks == Map("qty_pos" -> 1L, "pk" -> 2L, "fk" -> 1L))
    val hist = sess.scd2(Seq((1L, ts("2024-01-01 00:00:00"), 1L, "A"),
        (1L, ts("2024-01-02 00:00:00"), 2L, "B"))
        .toDF("k", "t", "id", "state"),
      "k", "t", "id", Seq("state")).collect()
    assert(hist.length == 2)
    val snm = sess.sortedNeighborhood(
      Seq((1L, "abc"), (2L, "abd"), (3L, "zzz")).toDF("id", "nm"),
      "id", "nm", "nm", window = 2, minSim = 0.8).collect()
    assert(snm.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
    val km = sess.kaplanMeier(
      Seq((5L, true), (7L, false)).toDF("dur", "obs"), "dur", "obs")
      .collect()
    assert(km.length == 1 && km.head.survival == 0.5)
    val rules = sess.associationRules(
      Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("bk", "it"),
      "bk", "it", minPairs = 2).collect()
    assert(rules.length == 2 && rules.forall(_.confidence == 1.0))
    val holt = sess.holtSmooth(
      Seq((1L, ts("2024-01-01 00:00:00"), 1L, 2.0)).toDF("k", "t", "id", "y"),
      "k", "t", "id", "y", alpha = 0.5, beta = 0.5).collect()
    assert(holt.head.level == 2.0 && holt.head.trend == 0.0)
    val wf = sess.funnelStepsWindowed(
      Seq((1L, "a", ts("2024-01-01 00:00:00")),
        (1L, "b", ts("2024-01-01 02:00:00"))).toDF("k", "tp", "t"),
      "k", "tp", "t", Seq("a", "b"), windowMicros = 3600L * 1000000L)
      .collect()
    assert(wf.length == 1) // b is past the 1 h deadline
    val mr = sess.maximalRepeats(
      Seq((1L, "x a b y"), (2L, "z a b w"), (3L, "q a b r"))
        .toDF("id", "text"), "id", "text", 1, 2).collect()
    assert(mr.map(_.gram).toSeq == Seq("a b"))
    val skew = sess.skewReport(Seq("a", "a", "b").toDF("k"), "k").head()
    assert(skew.getAs[Long]("max_count") == 2L)
    val kmv = sess.kmvDistinct(Seq(("g", "x"), ("g", "y")).toDF("grp", "v"),
      Seq("grp"), "v", k = 8).head()
    assert(kmv.getAs[Double]("est_distinct") == 2.0)
    val mw = sess.mannWhitney(
      Seq((0, 1.0), (0, 2.0), (1, 3.0), (1, 4.0)).toDF("arm", "m"),
      "arm", "m").head()
    assert(mw.getAs[Double]("u") == 4.0) // complete separation: n1·n2
  }

  test("session wave-5/6/7 facade: stats tests, graph ops, index, " +
      "sampling, sketch algebra, pca") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val pt = sess.proportionTest(
      Seq((0, 0), (0, 1), (1, 1), (1, 1)).toDF("arm", "c"), "arm", "c")
      .head()
    assert(pt.getAs[Double]("p_b") == 1.0)
    val wt = sess.welchTTest(
      Seq((0, 1.0), (0, 2.0), (1, 3.0), (1, 5.0)).toDF("arm", "m"),
      "arm", "m").head()
    assert(wt.getAs[Double]("lift") == 2.5)
    val kw = sess.kruskalWallis(
      Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)).toDF("arm", "m"),
      "arm", "m").head()
    assert(kw.getAs[Long]("k_arms") == 2L)
    val chi = sess.chiSquareIndependence(
      Seq(("x", 0), ("x", 1), ("y", 0), ("y", 1)).toDF("a", "b"), "a", "b")
      .head()
    assert(chi.getAs[Double]("chi2") == 0.0)
    val acf = sess.autocorrelation(
      (1 to 4).map(i => ("k", i.toLong, i.toDouble)).toDF("g", "t", "v"),
      "t", Seq("g"), "t", "v", maxLag = 1).head()
    assert(acf.getAs[Double]("acf") == 0.25)
    val cu = sess.cusumChangepoint(
      Seq(("k", 1L, 0.0), ("k", 2L, 0.0), ("k", 3L, 4.0), ("k", 4L, 4.0))
        .toDF("g", "t", "v"), "t", Seq("g"), "t", "v", threshold = 1.0)
      .head()
    assert(cu.getAs[Boolean]("shifted"))
    val tsn = sess.theilSen(
      Seq(("k", 1.0, 2.0), ("k", 2.0, 4.0), ("k", 3.0, 6.0))
        .toDF("g", "x", "y"), Seq("g"), "x", "y").head()
    assert(tsn.getAs[Double]("slope") == 2.0)
    val pl = sess.postingLists(
      Seq((1L, "a b"), (2L, "a")).toDF("id", "text"), "id", "text",
      minDf = 2, cap = 5).collect()
    assert(pl.length == 1 && pl.head.term == "a" &&
      pl.head.postings == Seq(1L, 2L))
    val core = sess.kCore(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b"),
      "a", "b", k = 2).collect()
    assert(core.map(_.id).sorted.toSeq == Seq(1L, 2L, 3L))
    val bfs = sess.bfsDistances(
      Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b",
      Seq(1L).toDF("id"), "id", maxDepth = 3).collect()
    assert(bfs.map(d => d.id -> d.dist).toMap == Map(1L -> 0L, 2L -> 1L,
      3L -> 2L))
    val hh = sess.hits(Seq((10L, 1L), (10L, 2L)).toDF("s", "t"), "s", "t",
      iters = 1).collect()
    assert(hh.find(_.id == 10L).get.hub_micro == 1000000L)
    val sys = sess.systematicSample(
      (1 to 6).map(i => Tuple1(i.toLong)).toDF("id"), Seq("id"), step = 2)
      .collect()
    assert(sys.length == 3)
    val so = sess.kmvSetOps(
      (Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")))
        .toDF("g", "w"), "g", "w", k = 8).head()
    assert(so.getAs[Double]("jaccard_est") == 1.0)
    val pca = sess.pcaProject(
      Seq((1L, Seq(1f, 0f)), (2L, Seq(3f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 2, nComponents = 1, sweeps = 10)
      .orderBy("id").collect()
    assert(pca.map(_.getDouble(1)).toSeq == Seq(-1.0, 1.0))
  }

  test("session wave-8 facade: eval/calibration, feature engineering, " +
      "time series, sequential test, graph, clustering, keyphrases") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val iso = sess.isotonicCalibrate(
      Seq((1L, 0L), (1L, 1L), (2L, 1L), (2L, 1L)).toDF("bin", "y"),
      "bin", "y").orderBy("bin").collect()
    assert(iso.map(_.getDouble(4)).toSeq == Seq(0.5, 1.0))
    val auc = sess.rocAuc(
      Seq((1.0, 0L), (2.0, 1L)).toDF("m", "y"), "m", "y").head()
    assert(auc.getAs[Double]("auc") == 1.0)
    val ece = sess.calibrationError(
      Seq((0.95, 1)).toDF("p", "y"), "p", "y").head()
    assert(ece.getAs[Double]("ece") == 0.05)
    val lift = sess.liftTable(
      (1 to 4).map(i => (i.toDouble, (i > 2).compare(false).toLong))
        .toDF("m", "y"), "m", "y", k = 2).orderBy("decile").collect()
    assert(lift.map(_.getAs[Long]("responders")).toSeq == Seq(2L, 0L))
    val te = sess.targetEncode(
      Seq((1L, "A", 1L, 0L), (2L, "A", 0L, 1L)).toDF("id", "c", "y", "f"),
      "id", "c", "y", "f", smoothing = 1.0).orderBy("id").collect()
    assert(te.head.getAs[Double]("encoded") == 0.25) // (0 + .5)/(1 + 1)
    val qn = sess.quantileNormalize(
      Seq((1L, "a", 5.0), (2L, "b", 9.0)).toDF("id", "g", "v"),
      "id", "g", "v").orderBy("id").collect()
    assert(qn.map(_.getAs[Double]("qnorm")).toSeq == Seq(7.0, 7.0))
    val mi = sess.mutualInformation(
      Seq(("x", "x"), ("y", "y")).toDF("a", "b"), "a", "b").head()
    assert(mi.getAs[Double]("nmi") == 1.0)
    val sg = sess.sgnsPairs(Seq("a b").toDF("text"), "text",
      window = 1, minCount = 1, negatives = 1).collect()
    assert(sg.length == 2 && sg.forall(r => Set("a", "b")(r.getString(4))))
    val hw = sess.holtWintersMultiplicative(
      (1 to 4).map(i => (0L, i.toLong, 3.0)).toDF("k", "t", "y"),
      "k", "t", "t", "y", 0.5, 0.3, 0.4, period = 2).head()
    assert(hw.getAs[Double]("forecast") == 3.0)
    val pc = sess.pacf(
      (1 to 4).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "t", "v"),
      "t", Seq("g"), "t", "v", maxLag = 1).head()
    assert(pc.getAs[Double]("pacf") == 0.25)
    val sp = sess.sprtTest(
      (1 to 20).map(i => ("A", i.toLong, 1)).toDF("k", "t", "x"),
      "k", "t", "t", "x", p0 = 0.45, p1 = 0.55).head()
    assert(sp.getAs[String]("decision") == "accept_h1")
    val kt = sess.kTruss(
      Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b"), "a", "b", k = 3)
      .count()
    assert(kt == 3L)
    val ss = sess.ssspBellmanFord(
      Seq((1L, 2L, 5.0)).toDF("s", "t", "w"), "s", "t", "w",
      Seq(Tuple1(1L)).toDF("id"), "id", rounds = 2).orderBy("id")
      .collect()
    assert(ss.map(_.getDouble(1)).toSeq == Seq(0.0, 5.0))
    val db = sess.dbscan(
      Seq((1L, 0.0, 0.0), (2L, 0.01, 0.0), (3L, 9.0, 9.0))
        .toDF("id", "x", "y"), "id", "x", "y", eps = 0.1, minPts = 2)
      .orderBy("id").collect()
    assert(db.map(_.getLong(2)).toSeq == Seq(1L, 1L, -1L))
    val rk = sess.rakeKeywords(
      Seq((1L, "big data of small data")).toDF("id", "text"),
      "id", "text", stopwords = Seq("of")).orderBy("rank").collect()
    assert(rk.head.getAs[String]("phrase") == "big data")
  }

  test("round-13 third-wave facade: graph quality, trend/survival " +
      "inference, sketch, decomposition, privacy wrappers plumb " +
      "name-based columns through") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("a", "b")
    val asg = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "cm")
    assert(sess.communityConductance(edges, "a", "b", asg, "id", "cm")
      .count() == 2)
    assert(sess.coreNumbers(edges, "a", "b", rounds = 6)
      .filter(col("core") === 2).count() == 6)
    assert(sess.refineConnectivity(edges, "a", "b", asg, "id", "cm")
      .select("community").distinct().count() == 2)
    assert(sess.harmonicCentrality(edges, "a", "b",
      Seq(1L).toDF("s"), "s", maxDepth = 3).count() >= 4)
    assert(sess.linkPredictionScores(edges, "a", "b", minCommon = 1)
      .count() >= 1)
    val series = Seq(("k", 1L, 1.0), ("k", 2L, 2.0), ("k", 3L, 3.0),
      ("k", 4L, 4.0)).toDF("g", "o", "v")
    assert(sess.mannKendall(series, "g", "o", "v").head().getLong(2)
      == 6L)
    assert(sess.seasonalMannKendall(
      series.withColumn("ph", col("o") % 2), "g", "o", "ph", "v")
      .head().getLong(1) == 4L)
    val subj = Seq((1L, true, false), (2L, true, true)).toDF("d", "o", "g")
    assert(sess.logRankTest(subj, "d", "o", "g").count() == 1)
    val units = Seq((1, true, true), (1, true, false), (1, false, true),
      (1, false, false)).toDF("st", "t", "s")
    assert(sess.cmhTest(units, "st", "t", "s").head().getLong(0) == 1L)
    val did = Seq((false, false, 1.0), (false, true, 2.0),
      (true, false, 3.0), (true, true, 5.0)).toDF("g", "p", "v")
    assert(sess.didEstimate(did, "g", "p", "v").head()
      .getDouble(8) == 1.0)
    val daily = (0L to 8L).map(t => (t, t + 1)).toDF("t", "v")
    assert(sess.seasonalDecompose(daily, "t", "v", period = 3)
      .count() == 9)
    assert(sess.changePointSplit(daily, "t", "v").count() == 1)
    assert(sess.amsF2(daily, "v", k = 2).head().getLong(0) == 9L)
    assert(sess.kAnonymityReport(
      Seq(("q", "s1"), ("q", "s2")).toDF("q1", "sv"),
      Seq("q1"), "sv", k = 3, l = 1).head().getBoolean(3))
  }

  test("round-14 facade: paired/blocked/exact tests, series " +
      "diagnostics, graph generators, survivorship") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val sess = new GraftSession(spark, s"$work/wh")

    val pairs = Seq((1, 3), (2, 5), (4, 1)).toDF("pre", "post")
    assert(sess.wilcoxonSignedRank(pairs, "pre", "post")
      .head().getLong(0) == 3L)
    val units = (Seq.fill(3)((true, true)) ++ Seq((true, false)) ++
      Seq((false, true)) ++ Seq.fill(3)((false, false)))
      .toDF("a", "b")
    assert(math.abs(sess.fisherExact(units, "a", "b")
      .head().getDouble(5) - 34.0 / 70) < 1e-6)
    assert(math.abs(sess.enrichmentTest(
        units.withColumn("k", lit("x")), "k", "a", "b")
      .head().getDouble(6) - 17.0 / 70) < 1e-6)
    val cells = Seq(("b1", "t1", 1.0), ("b1", "t2", 2.0),
      ("b2", "t1", 3.0), ("b2", "t2", 4.0)).toDF("blk", "trt", "v")
    assert(sess.friedmanTest(cells, "blk", "trt", "v")
      .head().getLong(0) == 2L)
    assert(sess.cochranQ(
        cells.withColumn("x", (col("v") > 2.0).cast("long")),
        "blk", "trt", "x")
      .head().getLong(0) == 2L)
    assert(sess.jonckheereTerpstra(
        Seq((1L, 1.0), (1L, 2.0), (2L, 3.0), (2L, 4.0)).toDF("g", "m"),
        "g", "m")
      .head().getDouble(2) == 4.0)

    val grid = Seq((1L, 2L, 3L), (2L, 4L, 2L), (3L, 6L, 5L),
      (4L, 8L, 7L)).toDF("t", "x", "y")
    assert(sess.crossCorrelation(grid, "t", "x", "y", maxLag = 1)
      .count() == 3L)
    assert(sess.residualDiagnostics(
        grid.withColumn("k", lit(1L)), "k", "t", "x")
      .head().getLong(1) == 4L)

    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("a", "b")
    assert(sess.linkPredictionWeighted(edges, "a", "b", minCommon = 2)
      .count() == 2L)
    assert(sess.randomWalks(edges, "a", "b", steps = 2)
      .count() == 12L) // 4 starts x steps 0..2
    assert(sess.diameterDoubleSweep(edges, "a", "b", maxDepth = 8)
      .head().getLong(3) == 2L)
    assert(sess.bipartiteCheck(edges, "a", "b", maxDepth = 8)
      .head().getBoolean(4))
    assert(sess.maximalMatching(edges, "a", "b", rounds = 6)
      .count() == 2L)

    val recs = Seq((1L, 1L, 5L, "en"), (1L, 2L, 9L, "fr"))
      .toDF("cluster", "id", "len", "lang")
    val sm = sess.survivorshipMerge(recs, "cluster", "id",
      rankCols = Seq("len"), voteCols = Seq("lang")).head()
    assert(sm.getLong(2) == 1L) // rank ASC on len: shortest wins
  }
}
