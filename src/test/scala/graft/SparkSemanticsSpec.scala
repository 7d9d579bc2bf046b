package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.IngestJob
import graft.ops.{Ann, Dedup}
import graft.query.Searcher
import graft.store.VectorStore

/** Spark-level semantics pins (FIXTURES.md §5): filter-AFTER-top-k
  * contracts, tie-breaks, citation grouping, SQL function registration,
  * and LSH recall — one shared local session. */
class SparkSemanticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val work = Files.createTempDirectory("graft-spec").toString
  private lazy val store = new VectorStore(spark, s"$work/warehouse")
  private lazy val searcher = new Searcher(spark, store)

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val docsDir = s"$work/docs"
    Files.createDirectories(Paths.get(docsDir))
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(docsDir, name), content.getBytes(StandardCharsets.UTF_8))
    put("vectors.txt", (1 to 12).map(i =>
      s"cosine similarity vector search embeddings nearest neighbor run$i distinct$i").mkString(" "))
    put("cooking.txt", (1 to 12).map(i =>
      s"whisk eggs sugar flour bake oven golden crust step$i").mkString(" "))
    put("dup_a.txt", "identical chunk of text for tie breaking")
    put("dup_b.txt", "identical chunk of text for tie breaking")
    put("paged.pdf.txt",
      "[[page2]]vector engines store embeddings " + ("filler words here " * 20) +
        "[[page3]]cosine scoring pages " + ("more filler text " * 20) +
        "[[page5]]final page vector cosine")
    IngestJob.run(spark, docsDir, s"$work/warehouse", "specdb",
      IngestJob.Config(chunkSize = 120, chunkOverlap = 60))
  }

  override def afterAll(): Unit = spark.stop()

  private def params(k: Int = 6, threshold: Double = 0.0) =
    Searcher.Params(k = k, threshold = threshold)

  test("threshold-after-topk: result is the passing subset of top-k") {
    val all = searcher.search("specdb", "cosine vector embeddings", params(k = 6))
      .select("similarity_score").collect().map(_.getDouble(0))
    assert(all.length == 6)
    // threshold between two distinct score values: only the passing subset
    // of the SAME top-6 returns (not k rows re-filled from below)
    val distinct = all.distinct.sorted.reverse
    assert(distinct.length >= 2, s"need score spread, got ${all.toSeq}")
    val cut = (distinct(0) + distinct(1)) / 2
    val got = searcher.search("specdb", "cosine vector embeddings",
      params(k = 6, threshold = cut))
    val expected = all.count(_ >= cut)
    assert(expected < 6)
    assert(got.count() == expected)
  }

  test("term-filter-after-topk: term outside top-k yields empty, not refill") {
    // 'whisk' exists in the corpus but not among the vector-y top-2
    val got = searcher.search("specdb", "cosine vector embeddings",
      params(k = 2).copy(searchTerm = Some("whisk")))
    assert(got.count() == 0)
  }

  test("doc-type mismatch yields empty") {
    val got = searcher.search("specdb", "cosine vector embeddings",
      params(k = 6).copy(documentTypeFilter = Some("image")))
    assert(got.count() == 0)
  }

  test("no-pass-threshold yields empty") {
    assert(searcher.search("specdb", "cosine vector embeddings",
      params(k = 6, threshold = 1.0)).count() == 0)
  }

  test("identical chunks tie-break ascending by id") {
    val got = searcher.search("specdb", "identical chunk of text for tie breaking",
      params(k = 2)).select("id", "similarity_score").collect()
    assert(got.length == 2)
    assert(got(0).getDouble(1) == got(1).getDouble(1)) // same score
    assert(got(0).getLong(0) <= got(1).getLong(0)) // id ascending
  }

  test("citations: pdf pages coalesce, ordered by min score (FIXTURES §5)") {
    // 3 hits from 2 files, one PDF with pages {2,3,5}
    import spark.implicits._
    val hits = Seq(
      ("/w/a.pdf", ".pdf", "a.pdf", Some(2), 0.9),
      ("/w/a.pdf", ".pdf", "a.pdf", Some(3), 0.7),
      ("/w/a.pdf", ".pdf", "a.pdf", Some(5), 0.8),
      ("/w/b.txt", ".txt", "b.txt", None, 0.95))
      .toDF("file_path", "file_type", "file_name", "page_number", "similarity_score")
      .select(struct(col("file_path"), col("file_type"), col("file_name"),
        col("page_number")).as("metadata"), col("similarity_score"))
    val cits = graft.format.Citations.citations(hits)
    assert(cits.map(_.file_name) == Seq("a.pdf", "b.txt")) // min-score order
    val pdf = cits.head
    assert(pdf.pages == "2-3, 5")
    assert(pdf.score_range == "0.7000-0.9000")
    assert(cits(1).pages == "")
    assert(cits(1).score_range == "0.9500")
  }

  test("SQL registration: custom expressions usable from spark.sql") {
    graft.functions.registerAll(spark)
    val row = spark.sql(
      """SELECT round(cosine_similarity(array(1.0, 0.0), array(1.0, 0.0)), 4) AS c,
                l2_norm(l2_normalize(array(3.0, 4.0))) AS n,
                normalize_text('  a   b  ') AS t,
                simhash64('x y z') AS sh
      """).collect()(0)
    assert(row.getDouble(0) == 1.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-6)
    assert(row.getString(2) == "a b")
    val gen = spark.sql(
      "SELECT chunk_document('abcdefgh', 4, 0)").collect()
    assert(gen.length == 2) // two chunk rows from the generator
    assert(gen.map(_.getString(0)).toSeq == Seq("abcd", "efgh"))
  }

  test("ingest sinks: skip counters, metadata tables, catalog entry, context blocks") {
    val dir = Files.createTempDirectory("graft-sinks").toString
    def put(name: String, content: String): Unit =
      Files.write(Paths.get(dir, name), content.getBytes(StandardCharsets.UTF_8))
    put("notes.txt", "vector search over parquet files " * 20)
    put("blank.txt", "   \n\t  ")
    put("skipme.xyz", "unsupported extension")
    val cfg = IngestJob.Config(chunkSize = 200, chunkOverlap = 100)
    val res = IngestJob.run(spark, dir, s"$work/warehouse", "sinkdb", cfg)
    // F1: `.xyz` never matches; F2/A7: the blank file matches, is dropped
    // and counted
    assert(res.filesMatched == 2 && res.filesSkipped == 1 && res.documents == 1)
    assert(res.filesUnsupported == 1) // skipme.xyz is counted, not lost
    val docs = store.documents("sinkdb").collect()
    assert(docs.length == 1 && docs.head.getAs[String]("file_name") == "notes.txt")
    val map = store.chunkDocMap("sinkdb").collect()
    assert(map.length == res.chunks && res.chunks > 1)
    assert(map.forall(_.getAs[String]("hash") == docs.head.getAs[String]("hash")))
    assert(store.indexMetadata("sinkdb").num_vectors == res.chunks)
    // S18/J3: the catalog entry round-trips beside the other databases
    assert(store.catalog("sinkdb") ==
      graft.model.DatabaseInfo(cfg.model, cfg.chunkSize, cfg.chunkOverlap))
    assert(store.catalog.contains("specdb"))
    // O10: numbered banner blocks of cleaned contexts
    val blocks = graft.format.ContextFormatter.formatBlocks(
      Seq("a\n  \n\n\nb" -> "x.txt", "c" -> null))
    assert(blocks.contains("CONTEXT 1 | x.txt") && blocks.contains("CONTEXT 2 | Unknown"))
    assert(blocks.contains("a\n\nb\n") && !blocks.contains("a\n  "))
  }

  test("searchMany: batched queries match per-query search") {
    val batch = searcher.searchMany("specdb",
      Seq("qa" -> "cosine vector embeddings", "qb" -> "whisk eggs sugar"),
      params(k = 3))
      .select("query_id", "id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val singleA = searcher.search("specdb", "cosine vector embeddings", params(k = 3))
      .select("id").collect().map(_.getLong(0)).toSeq
    val singleB = searcher.search("specdb", "whisk eggs sugar", params(k = 3))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(batch("qa") == singleA)
    assert(batch("qb") == singleB)
  }

  test("LSH ANN recall vs brute force at sf0.001") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 20)
      .select("id").collect().map(_.getLong(0)).toSet
    val approx = Ann.lshTopK(emb, col("vec_id"), col("embedding"), q, 20,
      nbits = 2, probes = 2).select("id").collect().map(_.getLong(0)).toSet
    // 2 bits + 2 probes scans ~3/4 of the space; require real overlap
    assert(approx.intersect(exact).size >= 8)
  }

  test("matryoshka: full-width prefix is exact; truncated recall is real") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // d = 64 with refine >= corpus is just brute force — must match exactly
    val full = Ann.matryoshkaTopK(emb, col("vec_id"), col("embedding"), q,
      d = 64, k = 10, refine = 10_000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == exact.toSeq)
    // these are RANDOM vectors (no MRL training), so the 16-dim prefix
    // carries ~1/4 of the signal: refine = 100 of 500 recovers most of
    // top-10 (measured 8; a trained MRL embedder concentrates far more)
    val mrl = Ann.matryoshkaTopK(emb, col("vec_id"), col("embedding"), q,
      d = 16, k = 10, refine = 100)
      .collect().map(_.getLong(0)).toSet
    assert(mrl.intersect(exact.map(_._1).toSet).size >= 6)
    // reranked sims are the FULL-dim sims for whatever ids survive
    val exactSims = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Ann.matryoshkaTopK(emb, col("vec_id"), col("embedding"), q,
      d = 16, k = 10, refine = 100).collect()
      .foreach(r => assert(r.getDouble(1) == exactSims(r.getLong(0))))
  }

  test("grouped top-k: k = 0 yields empty, k larger than group yields all") {
    import spark.implicits._
    val scored = Seq(("a", 1L, 0.9), ("a", 2L, 0.8), ("b", 3L, 0.7))
      .toDF("query_id", "id", "sim")
    val empty = graft.ops.TopK.perGroup(scored, Seq(col("query_id")),
      col("id"), col("sim"), 0)
    assert(empty.count() == 0) // was an ArrayIndexOutOfBounds before the guard
    val all = graft.ops.TopK.perGroup(scored, Seq(col("query_id")),
      col("id"), col("sim"), 10)
    assert(all.count() == 3)
  }

  test("IVF recall >= sign-LSH at equal probe fraction (learned centroids)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val exact = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 10)
      .select("id").collect().map(_.getLong(0)).toSet
    // equal probe fraction: LSH nbits=4 → 16 cells, 3 probed (18.75%);
    // IVF nlist=16, nprobe=3 (18.75%)
    val lsh = Ann.lshTopK(emb, col("vec_id"), col("embedding"), q, 10,
      nbits = 4, probes = 2).select("id").collect().map(_.getLong(0)).toSet
    val ivf = graft.ops.Ivf.ivfTopK(emb, col("vec_id"), col("embedding"), q,
      k = 10, nlist = 16, iters = 2, nprobe = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    val rLsh = lsh.intersect(exact).size
    val rIvf = ivf.intersect(exact).size
    // learned cells follow the data's density: at the same scan fraction
    // IVF must not lose to the data-oblivious hyperplanes
    assert(rIvf >= rLsh, s"ivf recall $rIvf < lsh recall $rLsh")
    assert(rIvf >= 5, s"ivf recall $rIvf/10 too low")
  }

  test("pq: ADC ranking matches a driver-side reference computation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val m = 4; val d = 16
    val books = graft.ops.Pq.trainCodebooks(emb, col("vec_id"),
      col("embedding"), 64, m, ksub = 8, iters = 2, sampleFraction = 50)
    val tables = graft.ops.Pq.adcTables(q, books)
    // reference: same cosine-argmax code assignment + table sum, in plain
    // Scala over the collected vectors
    def cos(a: Seq[Float], c: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * c(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += c(i).toDouble * c(i).toDouble
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val expect = rows.map { case (id, v) =>
      val dist = (0 until m).map { s =>
        val sub = v.slice(s * d, (s + 1) * d)
        val code = books(s).sortBy(_._1)
          .map { case (cid, c) => (cid, cos(sub, c)) }
          .maxBy { case (cid, sim) => (sim, -cid) }._1
        tables(s)(code)
      }.sum
      (id, BigDecimal(dist).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, dist) => (dist, id) }.take(6).toSeq
    val got = graft.ops.Pq.pqTopK(emb, col("vec_id"), col("embedding"), q,
        k = 6, m = m, ksub = 8, iters = 2, sampleFraction = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
  }

  test("ivf-pq: pruning composes — results are probed-cell rows ranked by ADC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val coarse = graft.ops.Ivf.trainCentroids(emb, col("vec_id"),
      col("embedding"), 8, iters = 2, sampleFraction = 50)
    val probes = graft.ops.Ivf.probeList(coarse, q, 2).toSet
    val cells = graft.ops.Ivf.assignClusters(
        emb.select(col("vec_id").as("id"), col("embedding").as("v")),
        col("id"), col("v"), coarse)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val got = graft.ops.Pq.ivfPqTopK(emb, col("vec_id"), col("embedding"), q,
        k = 6, nlist = 8, nprobe = 2, m = 4, ksub = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // every hit comes from a probed cell…
    assert(got.forall { case (id, _) => probes.contains(cells(id)) })
    // …and matches the unpruned PQ ranking restricted to those cells
    val pqAll = graft.ops.Pq.pqTopK(emb, col("vec_id"), col("embedding"), q,
        k = emb.count().toInt, m = 4, ksub = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expect = pqAll.filter { case (id, _) => probes.contains(cells(id)) }
      .sortBy { case (id, dist) => (dist, id) }.take(6).toSeq
    assert(got.toSeq == expect)
  }

  test("minhash LSH recall vs exact jaccard at sf0.001") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100)
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.7, 1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashDuplicates(docs, col("doc_id"), col("text"), 0.7,
      shingleSize = 1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact verification -> no false positives
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.9)
  }

  test("duplicateClusters: min-label fixpoint over chains, triangles, pairs") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3, needs >1 round), triangle
    // 10-11-12, pair 20-21; edge order and direction must not matter
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (21L, 20L)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs, col("a_id"), col("b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // maxIters caps propagation: one round = neighbor-min + one path-halving
    // hop, so after one round the 4-chain's far end holds its
    // grandparent's label (2), not yet the component min (1) — a capped
    // run is not a clustering and fails loudly
    val ex = intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, col("a_id"), col("b_id"), maxIters = 1)
    }
    assert(ex.getMessage.startsWith(
      "duplicateClusters: not converged within its cap of 1 rounds"),
      ex.getMessage)
  }

  test("incremental dedup equals the full run's cross slice") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100)
    val full = Dedup.minHashDuplicates(docs, col("doc_id"), col("text"), 0.7,
        shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = docs.filter(col("doc_id") < 60)
    val batch = docs.filter(col("doc_id") >= 60)
    val bt = Dedup.bandTable(corpus, col("doc_id"), col("text"), shingleSize = 1)
    val inc = Dedup.incrementalDuplicates(batch, col("doc_id"), col("text"),
        bt, corpus, col("doc_id"), col("text"), 0.7, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = full.filter { case (a, b) => a < 60 && b >= 60 }
    assert(inc == expect)
  }

  test("dedupCorpus: survivors = per-cluster min id + untouched singletons") {
    import spark.implicits._
    // 1≈2≈3 near-identical (unigram jaccard 1.0 or high); 7 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "beta alpha gamma delta epsilon"), // same unigram set
      (7L, "unrelated totally different words here")).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, col("doc_id"), col("text"), 0.7,
      shingleSize = 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 7L))
  }

  test("semanticDedup: within-cluster near-identical vectors drop larger id") {
    import spark.implicits._
    // two duplicate groups on orthogonal axes + one isolated vector;
    // IDENTICAL vectors argmax to the same centroid whatever k-means
    // learns, so the groups cannot split across clusters, and orthogonal
    // cross-pairs can never reach the threshold
    def v(axis: Int): Seq[Float] = Seq.tabulate(4)(i => if (i == axis) 1f else 0f)
    val emb = Seq(
      (1L, v(0)), (2L, v(0)), (3L, v(0)), // group A
      (10L, v(1)), (11L, v(1)), // group B
      (20L, v(2))) // isolated
      .toDF("id", "vec")
    val got = Dedup.semanticDedup(emb, col("id"), col("vec"),
        threshold = 0.99, nlist = 2, iters = 2, sampleFraction = 100)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 20L))
    assert(got(1L)) // smallest id of group A survives
    assert(!got(2L) && !got(3L)) // near-identical larger ids drop
    assert(got(20L)) // isolated survives regardless of its cluster
    // group B: whichever cluster it shares, 10 < 11 and cos(10,11) ≈ 1
    assert(got(10L) && !got(11L))
  }

  test("semanticDedup: auto nlist = ceil(sqrt(n)) bounds per-cluster blocks") {
    import spark.implicits._
    // 256 vectors spread over 16 well-separated directions (64-dim basis
    // axes with deterministic per-vector jitter): auto nlist = 16, which
    // the fixed old default of 8 could never reach
    val emb = (0 until 256).map { i =>
      val axis = i % 16
      val vec = Seq.tabulate(64) { j =>
        val jitter = (((i * 37 + j * 101) % 13) - 6) / 200.0f
        (if (j == axis * 4) 1f else 0f) + jitter
      }
      (i.toLong, vec)
    }.toDF("id", "vec")
    val out = Dedup.semanticDedup(emb, col("id"), col("vec"),
        threshold = 0.999, iters = 2, sampleFraction = 100)
      .select(col("cluster")).collect().map(_.getInt(0))
    val sizes = out.groupBy(identity).map(_._2.length)
    // auto-scaling engaged: more clusters than the old fixed default
    assert(out.distinct.length > 8,
      s"expected >8 clusters from auto nlist=16, got ${out.distinct.length}")
    // blocks stay bounded — no cluster swallows the corpus
    assert(sizes.max <= 64,
      s"largest cluster ${sizes.max} of 256 — blocks not bounded")
  }

  test("corpusDiff: all four statuses; text never decides, the hash does") {
    import spark.implicits._
    val v1 = Seq((1L, "same"), (2L, "old text"), (3L, "gone")).toDF("id", "text")
    val v2 = Seq((1L, "same"), (2L, "new text"), (4L, "fresh")).toDF("id", "text")
    val got = graft.ops.Curation.corpusDiff(v1, col("id"), col("text"),
        v2, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // swapping the sides flips added/removed and nothing else
    val rev = graft.ops.Curation.corpusDiff(v2, col("id"), col("text"),
        v1, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "added", 4L -> "removed"))
  }

  test("substringSearch: aligned-gram certification, overlaps, absent patterns") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d x"),
      (2L, "p q a b c d y a b c d x"),
      (3L, "a b a b a b"),
      (4L, "short")).toDF("id", "text")
    def search(pats: Seq[String], k: Int) =
      graft.ops.Dedup.substringSearch(docs, col("id"), col("text"), pats, k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // 4-token pattern with k=3: BOTH aligned grams must land — "a b c d x"
    // appears in docs 1 and 2 (pos 7), while doc 2's "a b c d y" shares
    // the first gram only and must NOT certify
    assert(search(Seq("a b c d x"), 3) ==
      Set(("a b c d x", 1L, 0L), ("a b c d x", 2L, 7L)))
    // overlapping occurrences all surface (k = L: single-gram case)
    assert(search(Seq("a b a"), 3) ==
      Set(("a b a", 3L, 0L), ("a b a", 3L, 2L)))
    // duplicate grams INSIDE a pattern certify correctly (k=2 over
    // "a b a b a": grams ab/ba/ab/ba at offsets 0..3)
    assert(search(Seq("a b a b a"), 2) == Set(("a b a b a", 3L, 0L)))
    // absent pattern and too-short docs yield nothing
    assert(search(Seq("c d q"), 3).isEmpty)
  }

  test("lineDedup: frequent lines drop, blanks survive, order preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "keep one\nBOILER\n\nkeep two"),
      (2L, "BOILER\nunique a"),
      (3L, "unique b\nBOILER"),
      (4L, "BOILER")).toDF("id", "text")
    val out = Dedup.lineDedup(docs, col("id"), col("text"), minDocs = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, "keep one\n\nkeep two"),
      (2L, 1L, 1L, "unique a"),
      (3L, 1L, 1L, "unique b"),
      (4L, 0L, 1L, "")))
    // incremental path: a new batch scrubbed against the persisted
    // frequent-line table matches the batch contract
    val freq = Dedup.frequentLines(docs, col("id"), col("text"), minDocs = 3)
    val batch = Seq((9L, "fresh line\nBOILER\n\nanother")).toDF("id", "text")
    val inc = Dedup.lineDedupAgainst(batch, col("id"), col("text"), freq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(inc.toSeq == Seq((9L, 3L, 1L, "fresh line\n\nanother")))
  }

  test("duplicateSpans: cross-doc 5-gram spans merge; unique text unflagged") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens: grams at 2 starts
    val docs = Seq(
      (1L, shared + " one two three four five six"),
      (2L, "x1 x2 x3 " + shared),
      (3L, "totally different words only here")).toDF("id", "text")
    val out = Dedup.duplicateSpans(docs, col("id"), col("text"), k = 5, minDocs = 2)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1: covered starts {0,1} -> [0,6); doc 2: starts {3,4} -> [3,9)
    assert(out.toSeq == Seq((1L, 0, 6, 2L), (2L, 3, 9, 2L)))
  }

  test("dedupWithinDoc: first occurrence survives, blanks untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha\n\nbeta\ngamma"),
      (2L, "no repeats here"),
      (3L, ""),
      (4L, "x\nx\nx")).toDF("id", "text")
    val got = Dedup.dedupWithinDoc(docs, col("id"), col("text"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 2L, "alpha\nbeta\n\ngamma"), // dup alpha + dup beta drop, blank stays
      (2L, 1L, 0L, "no repeats here"),
      (3L, 1L, 0L, ""),
      (4L, 1L, 2L, "x")))
  }

  test("spanScrubAgainst: row-local scrub matches the batch strip; xxh64 parity") {
    import spark.implicits._
    // xxh64 helper must agree bit-for-bit with the xxhash64 column — the
    // whole incremental path hangs on this
    val strs = Seq("", "a", "alpha beta gamma", "Ünïcödé ★ test",
      "x" * 100, "tab\tand space", "emoji 🎉 gram").toDF("s")
    val pairs = strs.select(col("s"), xxhash64(col("s")).as("h")).collect()
    pairs.foreach { r =>
      assert(Dedup.xxh64(r.getString(0)) == r.getLong(1),
        s"xxh64 mismatch for '${r.getString(0)}'")
    }

    val shared = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, shared + " one two three four five six"),
      (2L, "x1 x2 x3 " + shared),
      (3L, "totally different words only here")).toDF("id", "text")
    val grams = Dedup.repeatedGrams(corpus, col("id"), col("text"), k = 5)
    // scrubbing the corpus against its own gram table == the batch strip
    val batch = Dedup.stripDuplicateSpans(corpus, col("id"), col("text"),
        k = 5, minDocs = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val inc = Dedup.spanScrubAgainst(corpus, col("id"), col("text"), grams, k = 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(inc.toSeq == batch.toSeq)
    // new unseen doc: only the table's grams cut, short/unique text survives
    val fresh = Seq((9L, shared + " brand new tail"), (10L, "tiny doc")).toDF("id", "text")
    val out = Dedup.spanScrubAgainst(fresh, col("id"), col("text"), grams, k = 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (9L, 9L, 6L, "brand new tail"),
      (10L, 2L, 0L, "tiny doc")))
  }

  test("stripDuplicateSpans: covered tokens cut everywhere, rest intact") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, shared + " one two three four five six"),
      (2L, "x1 x2 x3 " + shared),
      (3L, "totally different words only here")).toDF("id", "text")
    val out = Dedup.stripDuplicateSpans(docs, col("id"), col("text"),
        k = 5, minDocs = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 12L, 6L, "one two three four five six"),
      (2L, 9L, 6L, "x1 x2 x3"),
      (3L, 5L, 0L, "totally different words only here")))
    // keepFirst: doc 1 holds every gram's canonical (min-id) occurrence,
    // so only doc 2's copy is cut
    val kf = Dedup.stripDuplicateSpans(docs, col("id"), col("text"),
        k = 5, minDocs = 2, keepFirst = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(kf.toSeq == Seq(
      (1L, 0L, shared + " one two three four five six"),
      (2L, 6L, "x1 x2 x3"),
      (3L, 0L, "totally different words only here")))
  }

  test("importanceWeights: matches the reference formula; target-like docs outrank") {
    import spark.implicits._
    val B = 64
    val raw = Seq((1L, "good good nice"), (2L, "bad ugly bad"), (3L, "good bad"))
    val target = Seq("good nice good good", "nice good")
    val out = graft.ops.Curation.importanceWeights(
        raw.toDF("id", "text"), col("id"), col("text"),
        target.map(Tuple1(_)).toDF("text"), col("text"), buckets = B)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side reference with the same md5-bucket Laplace formula
    def bucket(tok: String): Long = graft.expr.PortableHash.hex15(tok) % B
    val tgtToks = target.flatMap(_.split("\\s+")).map(bucket)
    val rawToks = raw.flatMap(_._2.split("\\s+")).map(bucket)
    val tc = tgtToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rc = rawToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def w(text: String): Double = text.split("\\s+").map { t =>
      val b = bucket(t)
      math.log((tc.getOrElse(b, 0L) + 1).toDouble / (tgtToks.size + B)) -
        math.log((rc(b) + 1).toDouble / (rawToks.size + B))
    }.sum
    raw.foreach { case (id, text) =>
      assert(math.abs(out(id) - w(text)) < 5e-5, s"doc $id") }
    assert(out(1L) > out(3L) && out(3L) > out(2L))
    // token-less docs keep their row at the neutral weight instead of
    // silently vanishing from the output
    val withEmpty = raw ++ Seq((9L, ""), (10L, "   "))
    val out2 = graft.ops.Curation.importanceWeights(
        withEmpty.toDF("id", "text"), col("id"), col("text"),
        target.map(Tuple1(_)).toDF("text"), col("text"), buckets = B)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2.keySet == Set(1L, 2L, 3L, 9L, 10L))
    assert(out2(9L) == 0.0 && out2(10L) == 0.0)
  }

  test("binary/sq8 edge cases: non-multiple-of-32 dims, zero vectors") {
    import spark.implicits._
    val d = 40 // partial second word: 8 bits
    val vecs = (0 until 10).map(i =>
      (i.toLong, Array.tabulate(d)(j => math.sin(i * d + j + 1).toFloat))) :+
      ((99L, Array.fill(d)(0f)))
    val df = vecs.toDF("id", "v")
    val q = Array.tabulate(d)(j => math.cos(j * 1.3).toFloat)
    val out = Ann.binaryTopK(df, col("id"), col("v"), q, k = 11, rerank = 11)
      .collect()
    assert(out.length == 11)
    val expHam = vecs.map { case (id, v) =>
      id -> v.zip(q).count { case (a, b) => (a >= 0) != (b >= 0) }.toLong }.toMap
    out.foreach(r => assert(r.getLong(1) == expHam(r.getLong(0)),
      s"id ${r.getLong(0)}"))
    // zero stored vector: cosine guard yields 0.0, row survives
    assert(out.exists(r => r.getLong(0) == 99L && r.getDouble(2) == 0.0))
    // zero QUERY vector on the sq8 path: qscale 0 -> all approx 0,
    // deterministic id order, no NaN/divide-by-zero anywhere
    val z = graft.ops.Quantize.int8TopK(df, col("id"), col("v"),
      Array.fill(d)(0f), k = 3, rerank = 11).collect()
    assert(z.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(z.forall(r => r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0))
  }

  test("meanPool: deterministic sorted fold equals the arithmetic mean") {
    import spark.implicits._
    val rows = (0 until 30).map(i =>
      (i % 3, i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 7f)))
    val df = rows.toDF("g", "id", "v")
    val got = Ann.meanPool(df, col("g"), col("id"), col("v")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2).toVector)))
      .toMap
    for (g <- 0 until 3) {
      val vs = rows.filter(_._1 == g).map(_._3)
      assert(got(g)._1 == vs.size.toLong)
      val mean = (0 until 8).map(j => vs.map(_(j).toDouble).sum / vs.size)
      got(g)._2.zip(mean).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("clusterBalancedSample: per-cluster cap, run-to-run determinism") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run() = graft.ops.Curation.clusterBalancedSample(emb, col("vec_id"),
        col("embedding"), perCluster = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run()
    assert(a == run()) // md5 pick order: identical across runs
    assert(a.groupBy(_._1).values.forall(_.size <= 3))
    assert(a.forall(t => t._2 >= 1 && t._2 <= 3))
    assert(a.map(_._3).distinct.size == a.size) // no row sampled twice
  }

  test("hardNegatives: positives excluded, ranking otherwise brute-force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.125f)
    val bf = Ann.bruteForceTopK(emb, col("vec_id"), col("embedding"), q, 7)
      .collect().map(_.getLong(0)).toSeq
    val none = Ann.hardNegatives(emb, col("vec_id"), col("embedding"),
      Seq(("q", q, Seq.empty[Long])), 5).collect().map(_.getLong(2)).toSeq
    assert(none == bf.take(5))
    val excl = bf.take(2)
    val hn = Ann.hardNegatives(emb, col("vec_id"), col("embedding"),
      Seq(("q", q, excl)), 5).collect().map(_.getLong(2)).toSeq
    assert(hn == bf.drop(2))
  }

  test("batched binary/sq8 search equals the single-query paths") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q1 = Array.fill(64)(0.125f)
    val q2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f)
    val qs = Seq("qa" -> q1, "qb" -> q2)
    def ordered(df: org.apache.spark.sql.DataFrame, qid: String) =
      df.filter(col("query_id") === qid).orderBy("rnk").collect()
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val binB = Ann.binaryTopKMany(emb, col("vec_id"), col("embedding"), qs,
      k = 5, rerank = 50)
    val sq8B = graft.ops.Quantize.int8TopKMany(emb, col("vec_id"),
      col("embedding"), qs, k = 5, rerank = 50)
    for ((qid, q) <- qs) {
      val binS = Ann.binaryTopK(emb, col("vec_id"), col("embedding"), q,
        k = 5, rerank = 50).collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val sq8S = graft.ops.Quantize.int8TopK(emb, col("vec_id"),
        col("embedding"), q, k = 5, rerank = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(ordered(binB, qid) == binS, s"binary $qid")
      assert(ordered(sq8B, qid) == sq8S, s"sq8 $qid")
    }
  }

  test("searchQuantized: sq8/binary store paths match exact search at full rerank") {
    store.writeVectorsQuantized("specdb")
    val exact = searcher.search("specdb", "cosine similarity vector", params(k = 4))
      .collect().map(_.getLong(0)).toSeq
    for (mode <- Seq("sq8", "binary")) {
      val got = searcher.search("specdb", "cosine similarity vector",
          params(k = 4), Searcher.Quantized(mode, rerank = 10000))
        .collect().map(_.getLong(0)).toSeq
      assert(got == exact, s"mode $mode")
    }
    intercept[IllegalArgumentException] {
      searcher.search("specdb", "x", params(), Searcher.Quantized(mode = "nope"))
    }
  }

  test("zip archive ingest: members extract with provenance, junk skipped") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft-zip").toString
    val zos = new ZipOutputStream(
      Files.newOutputStream(Paths.get(dir, "bundle.zip")))
    def put(name: String, bytes: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(bytes); zos.closeEntry()
    }
    put("docs/report.txt", "zip member report text".getBytes(StandardCharsets.UTF_8))
    put("data.csv", "a,b\n1,2".getBytes(StandardCharsets.UTF_8))
    put("image.png", Array[Byte](1, 2, 3)) // unsupported ext skipped
    put("nested.zip", Array[Byte](80, 75)) // nested archives not recursed
    zos.close()
    Files.write(Paths.get(dir, "plain.txt"),
      "plain file".getBytes(StandardCharsets.UTF_8))
    val out = IngestJob.extractWithArchives(spark, dir)
      .select("file_path", "file_type", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.length == 3)
    assert(out.exists(r => r._1.endsWith("bundle.zip!docs/report.txt") &&
      r._3 == "zip member report text"))
    assert(out.exists(r => r._1.endsWith("bundle.zip!data.csv") && r._2 == ".csv"))
    assert(out.exists(r => r._1.endsWith("plain.txt") && r._3 == "plain file"))
  }

  test("tar and tar.gz containers expand like zip, long names included") {
    def tarEntry(name: String, data: Array[Byte],
        typeflag: Char = '0'): Array[Byte] = {
      val hdr = new Array[Byte](512)
      val nb = name.getBytes(StandardCharsets.UTF_8)
      System.arraycopy(nb, 0, hdr, 0, math.min(nb.length, 100))
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = ("%0" + (len - 1) + "o").format(v).getBytes(StandardCharsets.UTF_8)
        System.arraycopy(s, 0, hdr, off, s.length)
      }
      oct(420, 100, 8) // mode 0644
      oct(data.length.toLong, 124, 12)
      oct(0L, 136, 12)
      hdr(156) = typeflag.toByte
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var sum = 0L
      hdr.foreach(b => sum += b & 0xff)
      val cs = ("%06o".format(sum) + "\u0000 ").getBytes(StandardCharsets.UTF_8)
      System.arraycopy(cs, 0, hdr, 148, cs.length)
      val padded = ((data.length + 511) / 512) * 512
      hdr ++ data ++ new Array[Byte](padded - data.length)
    }
    val longName = ("deep/" + "d" * 120 + "/note.txt")
    val body =
      tarEntry("docs/a.txt", "tar member alpha".getBytes(StandardCharsets.UTF_8)) ++
      tarEntry("skip.png", Array[Byte](9, 9)) ++
      tarEntry("././@LongLink",
        (longName + "\u0000").getBytes(StandardCharsets.UTF_8), 'L') ++
      tarEntry(longName.take(90), "long-name body".getBytes(StandardCharsets.UTF_8)) ++
      new Array[Byte](1024) // end-of-archive blocks
    val dir = Files.createTempDirectory("graft-tar").toString
    Files.write(Paths.get(dir, "bundle.tar"), body)
    val gz = new java.io.ByteArrayOutputStream()
    val gzo = new java.util.zip.GZIPOutputStream(gz)
    gzo.write(body); gzo.close()
    Files.write(Paths.get(dir, "bundle.tgz"), gz.toByteArray)

    val out = IngestJob.extractWithArchives(spark, dir)
      .select("file_path", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // both containers contribute the same two members; the long 'L' name
    // overrides the truncated header name; the .png never appears
    for (c <- Seq("bundle.tar", "bundle.tgz")) {
      assert(out.exists(r => r._1.endsWith(s"$c!docs/a.txt") &&
        r._2 == "tar member alpha"), c)
      assert(out.exists(r => r._1.endsWith(s"$c!$longName") &&
        r._2 == "long-name body"), c)
    }
    assert(out.length == 4)
  }

  test("datasheet: hand-computed corpus card") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", 5L),
      (2L, "a b c", 5L),     // exact duplicate of 1
      (3L, "d e", 3L),
      (4L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
    val got = graft.ops.Curation.datasheet(docs, col("text"), col("n_chars"))
      .head()
    // 4 docs, 8 tokens, 5 types; 1 of 4 docs is a dup -> 0.25;
    // chars 5,5,3,0: mean 3.25, median 4.0 (interpolated)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((4L, 8L, 5L)))
    assert(got.getDouble(3) == 0.25)
    assert(got.getDouble(4) == 3.25 && got.getDouble(5) == 4.0)
  }

  test("prefixJaccard/cdc property fuzz: exactness and edit-locality, seeded") {
    import spark.implicits._
    import graft.ops.Dedup
    val rnd = new scala.util.Random(20260813L)
    val vocab = (0 until 40).map(i => s"v$i")
    val docs = (0L until 60L).map { id =>
      val n = 10 + rnd.nextInt(30)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    // prefix filtering must reproduce the driver-side brute force exactly
    for (t <- Seq(0.5, 0.7)) {
      val exp = (for {
        (a, ta) <- docs
        (b, tb) <- docs if a < b
        sa = ta.split(" ").toSet
        sb = tb.split(" ").toSet
        // HALF_UP like Spark's round(): 17/32 = .53125 ties occur for real
        jr = java.math.BigDecimal.valueOf(sa.intersect(sb).size.toDouble /
          sa.union(sb).size).setScale(4, java.math.RoundingMode.HALF_UP)
          .doubleValue() if jr >= t
      } yield (a, b, jr)).toSet
      val got = Dedup.prefixJaccardJoin(df, col("id"), col("text"), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exp, s"threshold $t: ${got.size} vs ${exp.size}")
    }
    // CDC edit-locality: a single random insertion perturbs at most the
    // chunk containing it, one boundary neighbor, and the final chunk
    // (whose end-of-doc cut eligibility shifts) — everything else resyncs
    for (_ <- 0 until 5) {
      val (_, text) = docs(rnd.nextInt(docs.length))
      val tk = text.split(" ")
      val pos = rnd.nextInt(tk.length)
      val edited = (tk.take(pos) ++ Seq("EDIT") ++ tk.drop(pos)).mkString(" ")
      val ch = Dedup.cdcChunks(Seq((1L, text), (2L, edited)).toDF("id", "text"),
          col("id"), col("text"))
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
      val shared = (ch(1L) & ch(2L)).size
      assert(shared >= ch(1L).size - 3,
        s"pos $pos: only $shared of ${ch(1L).size} chunks survived")
    }
  }

  test("prefixJaccardJoin: equals the brute force; prefixes prune, never drop") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),    // J(1,2) = 4/6 = 0.6667
      (3L, "a b c d e"),    // J(1,3) = 1.0, J(2,3) = 0.6667
      (4L, "u v w x y z"),  // disjoint from 1-3
      (5L, "u v w x y q"))  // J(4,5) = 5/7 = 0.7143
      .toDF("id", "text")
    def normalize(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e4) / 1e4)).toSet
    for (t <- Seq(0.6, 0.7, 0.95)) {
      val smart = normalize(Dedup.prefixJaccardJoin(docs, col("id"), col("text"), t))
      val brute = normalize(Dedup.ngramJaccardPairs(docs, col("id"), col("text"),
        t, shingleSize = 1))
      assert(smart == brute, s"threshold $t")
    }
    // at t = 0.95 only the identical pair survives
    assert(normalize(Dedup.prefixJaccardJoin(docs, col("id"), col("text"), 0.95))
      == Set((1L, 3L, 1.0)))
  }

  test("longestSharedSpan: exact length, smallest witness, empty when disjoint") {
    import spark.implicits._
    import graft.ops.Dedup
    val shared = (0 until 13).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared delta"),
      (3L, s"x y $shared z"),
      (4L, "p q r"),
      (5L, "p q unrelated")).toDF("id", "text")
    val got = Dedup.longestSharedSpan(docs, col("id"), col("text")).collect()
    assert(got.length == 1)
    // three docs share the 13-run; (1,2) is the smallest witness pair
    assert((got.head.getLong(0), got.head.getLong(1), got.head.getLong(2)) ==
      ((13L, 1L, 2L)))
    val disjoint = Seq((10L, "a b"), (11L, "c d")).toDF("id", "text")
    assert(Dedup.longestSharedSpan(disjoint, col("id"), col("text")).isEmpty)
    // the probe cap: a 13-run under maxLen=8 reports exactly the cap
    // ("at least 8"), never a phantom interior value
    val capped = Dedup.longestSharedSpan(docs, col("id"), col("text"),
      maxLen = 8).head()
    assert(capped.getLong(0) == 8L)
  }

  test("warc ingest: http envelopes stripped, chunked decoded, wet records, gz members") {
    def rec(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
      val head = ("WARC/1.0\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8)
      head ++ payload ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    }
    val rInfo = rec(Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-test\r\n".getBytes(StandardCharsets.UTF_8))
    val rHtml = rec(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://example.com/page",
      "Content-Type" -> "application/http; msgtype=response"),
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        "<html><body><p>crawl body text</p></body></html>")
        .getBytes(StandardCharsets.UTF_8))
    val rChunk = rec(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://example.com/c.bin",
      "Content-Type" -> "application/http"),
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n" +
        "7\r\nchunked\r\n6\r\n body!\r\n0\r\n\r\n")
        .getBytes(StandardCharsets.UTF_8))
    val rWet = rec(Seq("WARC-Type" -> "conversion",
      "WARC-Target-URI" -> "http://example.com/wet",
      "Content-Type" -> "text/plain"),
      "wet extracted text".getBytes(StandardCharsets.UTF_8))
    val rImg = rec(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "http://example.com/i.png",
      "Content-Type" -> "application/http"),
      "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n\u0000\u0001"
        .getBytes(StandardCharsets.UTF_8))
    val dir = Files.createTempDirectory("graft-warc").toString
    Files.write(Paths.get(dir, "crawl.warc"),
      rInfo ++ rHtml ++ rChunk ++ rWet ++ rImg)
    // per-record gzip members CONCATENATED — the CommonCrawl layout;
    // GZIPInputStream must read past the first member's trailer
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    Files.write(Paths.get(dir, "crawl2.warc.gz"),
      gz(rInfo ++ rHtml) ++ gz(rChunk ++ rWet ++ rImg))

    val out = IngestJob.extractWithArchives(spark, dir)
      .select("file_path", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    for (c <- Seq("crawl.warc", "crawl2.warc.gz")) {
      // URI without a usable extension gets one from the media type
      assert(out.exists(r => r._1.endsWith(s"$c!http://example.com/page.html") &&
        r._2.contains("crawl body text")), c)
      assert(out.exists(r => r._1.endsWith(s"$c!http://example.com/c.bin.txt") &&
        r._2 == "chunked body!"), c)
      assert(out.exists(r => r._1.endsWith(s"$c!http://example.com/wet.txt") &&
        r._2 == "wet extracted text"), c)
    }
    // warcinfo and the image response never become members
    assert(out.length == 6, out.map(_._1).mkString("\n"))
  }

  test("zip guards: member/total/count caps trip and drops are counted") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = Files.createTempDirectory("graft-zipguard").toString
    val zos = new ZipOutputStream(
      Files.newOutputStream(Paths.get(dir, "bomb.zip")))
    def put(name: String, size: Int): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(Array.fill[Byte](size)('x'))
      zos.closeEntry()
    }
    put("ok.txt", 10)
    put("big.txt", 2048) // > maxMemberBytes
    put("a.txt", 600)
    put("b.txt", 600)    // would push total past maxTotalBytes
    put("c.txt", 600)    // likewise
    zos.close()
    val binary = spark.read.format("binaryFile").load(dir)

    val acc = spark.sparkContext.longAccumulator("zip-drops")
    val got = IngestJob.expandArchives(binary, maxMemberBytes = 1024,
        maxTotalBytes = 1200, maxMembers = 10, dropCounter = acc)
      .select("path").collect().map(_.getString(0))
    assert(got.count(_.contains("!")) == 2) // ok.txt + a.txt survive
    assert(got.exists(_.endsWith("!ok.txt")) && got.exists(_.endsWith("!a.txt")))
    assert(acc.value == 3L, s"expected big/b/c dropped, counter=${acc.value}")

    val acc2 = spark.sparkContext.longAccumulator("zip-drops-2")
    val capped = IngestJob.expandArchives(binary, maxMemberBytes = 1024,
        maxTotalBytes = 1200, maxMembers = 1, dropCounter = acc2)
      .select("path").collect().map(_.getString(0))
    assert(capped.count(_.contains("!")) == 1)
    assert(acc2.value == 4L, s"member cap: counter=${acc2.value}")
  }

  test("lineDedup/duplicateSpans parity fuzz vs reference implementations") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def randLine(): String =
      (0 until 1 + rnd.nextInt(3)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0 until 60).map { i =>
      val lines = (0 until rnd.nextInt(8)).map { _ =>
        if (rnd.nextInt(4) == 0) "" else randLine() }
      (i.toLong, lines.mkString("\n"))
    }
    val df = docs.toDF("id", "text")
    // reference lineDedup: exact per-line semantics, in-memory
    val freq = docs.flatMap { case (id, t) =>
        t.split("\n", -1).filter(_.trim.nonEmpty).distinct.map(l => (l, id)) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val expected = docs.map { case (id, t) =>
      val ls = t.split("\n", -1)
      val kept = ls.filterNot(l => l.trim.nonEmpty && freq(l))
      id -> ((kept.length.toLong, (ls.length - kept.length).toLong, kept.mkString("\n")))
    }.toMap
    val got = Dedup.lineDedup(df, col("id"), col("text"), minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    docs.foreach { case (id, _) =>
      assert(got(id) == expected(id), s"doc $id") }
    // reference duplicateSpans at k=2
    val k = 2
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty)
    val gramDocs = docs.flatMap { case (id, t) =>
        toks(t).sliding(k).filter(_.length == k).map(g => (g.mkString(" "), id)) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val expSpans = docs.flatMap { case (id, t) =>
      val tk = toks(t)
      val starts = (0 to tk.length - k).filter(i =>
        tk.length >= k && gramDocs(tk.slice(i, i + k).mkString(" ")))
      // merge [p, p+k) intervals, gap > k starts a new span
      starts.foldLeft(List.empty[(Int, Int, Long)]) {
        case (Nil, p) => List((p, p + k, 1L))
        case ((s, e, n) :: rest, p) =>
          if (p <= e) (s, p + k, n + 1) :: rest else (p, p + k, 1L) :: (s, e, n) :: rest
      }.reverse.map { case (s, e, n) => (id, s, e, n) }
    }.toSet
    val gotSpans = Dedup.duplicateSpans(df, col("id"), col("text"), k = k,
        minDocs = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotSpans == expSpans)
    // keepFirst strip: reference drops positions covered by NON-canonical
    // occurrences only (canonical = min (id, pos) per repeated gram)
    val occ = docs.flatMap { case (id, t) =>
      val tk = toks(t)
      (0 to tk.length - k).map(i => (tk.slice(i, i + k).mkString(" "), id, i))
    }.filter(o => gramDocs(o._1))
    val canon = occ.groupBy(_._1).map { case (g, os) =>
      g -> os.map(o => (o._2, o._3)).min }
    val expKf = docs.map { case (id, t) =>
      val tk = toks(t)
      val dropped = occ.filter(o =>
          o._2 == id && canon(o._1) != ((id, o._3)))
        .flatMap(o => o._3 until o._3 + k).toSet
      val kept = tk.zipWithIndex.collect { case (w, i) if !dropped(i) => w }
      id -> ((tk.length.toLong, (tk.length - kept.length).toLong,
        kept.mkString(" ")))
    }.toMap
    val gotKf = Dedup.stripDuplicateSpans(df, col("id"), col("text"), k = k,
        minDocs = 2, keepFirst = true).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    docs.foreach { case (id, _) =>
      assert(gotKf(id) == expKf(id), s"keepFirst doc $id") }
  }

  test("int8TopK: approx dot within quantization error; rerank=n matches brute force") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(i * 64 + j + 1).toFloat)) }
    val df = vecs.toDF("id", "v")
    val q = Array.tabulate(64)(j => math.cos(j * 0.7).toFloat)
    val out = graft.ops.Quantize.int8TopK(df, col("id"), col("v"), q,
      k = 5, rerank = 20).collect()
    out.foreach { r =>
      val v = vecs(r.getLong(0).toInt)._2
      val dot = v.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
      // |err| <= 0.5*(sc_v*||q||_1 + sc_q*||v||_1) ~ 0.6 for unit-ish dims
      assert(math.abs(r.getDouble(1) - dot) < 0.6, s"id ${r.getLong(0)}")
    }
    val bf = Ann.bruteForceTopK(df, col("id"), col("v"), q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(out.map(_.getLong(0)).toSeq == bf)
  }

  test("binaryTopK: hamming = sign mismatches; rerank=n reproduces brute force") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(i * 64 + j + 1).toFloat)) }
    val df = vecs.toDF("id", "v")
    val q = Array.tabulate(64)(j => math.cos(j * 0.7).toFloat)
    val out = Ann.binaryTopK(df, col("id"), col("v"), q, k = 5, rerank = 20)
      .collect()
    val expHam = vecs.map { case (id, v) =>
      id -> v.zip(q).count { case (a, b) => (a >= 0) != (b >= 0) }.toLong }.toMap
    out.foreach(r => assert(r.getLong(1) == expHam(r.getLong(0))))
    val bf = Ann.bruteForceTopK(df, col("id"), col("v"), q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(out.map(_.getLong(0)).toSeq == bf)
  }
}
