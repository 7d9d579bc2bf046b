package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.query.Searcher
import graft.store.VectorStore

/** GraftExtensions SQL registration and the LSH-clustered vectors layout
  * with partition-pruned approximate search. */
class ExtensionsAndClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Rows the Spark jobs of `f` read from storage, counted on a drained
    * listener bus. */
  private def rowsRead(f: => Unit): Long = {
    val n = new AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
    }
    GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; GraftBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("extensions: functions resolve in pure SQL without registerAll") {
    spark.sparkContext.setLogLevel("WARN")
    val r = spark.sql(
      """SELECT round(cosine_similarity(array(1.0, 2.0), array(2.0, 4.0)), 4) AS c,
               simhash64('a b c') AS s,
               lsh_bucket(hash_embed('hello world')) AS b,
               nearest_centroid(array(0.9, 0.1),
                 array(named_struct('cid', 0, 'centroid', array(1.0, 0.0)),
                       named_struct('cid', 1, 'centroid', array(0.0, 1.0)))) AS nc
      """).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) == graft.expr.SketchOps.simHash64(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c"), 42L))
    assert(r.getInt(2) >= 0 && r.getInt(2) < 256)
    assert(r.getInt(3) == 0)
    // unicode_normalize resolves with and without the form argument
    // (combining acute spelled as a Scala unicode escape: Spark's chr()
    // wraps at 256, so it cannot build the literal in SQL)
    val u = spark.sql(
      "SELECT unicode_normalize('me\u0301rge') AS nfc, " +
      "unicode_normalize('\ufb01le', 'NFKC') AS nfkc").collect()(0)
    assert(u.getString(0) == "m\u00e9rge")
    assert(u.getString(1) == "file")
    // span_cut / span_mask resolve in pure SQL, optional sentinel honored
    val sp = spark.sql(
      """SELECT span_cut('a b c d e', array(named_struct('s', 1, 'e', 3))) AS c,
               span_mask('a b c d e', array(named_struct('s', 1, 'e', 3))) AS m,
               span_mask('a b c', array(named_struct('s', 0, 'e', 1)), '#') AS m2
      """).collect()(0)
    assert(sp.getStruct(0).getString(2) == "a d e")
    assert(sp.getStruct(1).getString(2) == "a <DUP> <DUP> d e")
    assert(sp.getStruct(1).getLong(1) == 2L)
    assert(sp.getStruct(2).getString(2) == "# b c")
  }

  test("extensions: split_assign / rendezvous_shard resolve in SQL and " +
      "match the Column API rules") {
    import spark.implicits._
    val rows = spark.sql(
      """SELECT k,
               split_assign(k) AS sp,
               split_assign(k, 50, 25) AS sp2,
               rendezvous_shard(k, 8) AS sh
         FROM VALUES ('doc-1'), ('doc-2'), ('doc-3') AS t(k)""").collect()
    val viaCol = Seq("doc-1", "doc-2", "doc-3").toDF("k")
      .select(col("k"),
        graft.ops.Curation.splitAssign(col("k")).as("sp"),
        graft.ops.Curation.splitAssign(col("k"), 50, 25).as("sp2"),
        graft.ops.Curation.rendezvousShard(col("k"), 8).as("sh"))
      .collect()
    assert(rows.map(_.toSeq).toSeq == viaCol.map(_.toSeq).toSeq)
    assert(rows.forall(r => r.getInt(3) >= 0 && r.getInt(3) < 8))
    // non-literal shard count is a clear error, not a mis-plan
    val err = intercept[Exception] {
      spark.sql("SELECT rendezvous_shard('k', length('abc'))").collect()
    }
    assert(err.getMessage.contains("literal integer"))
  }

  test("extensions: word_noise / token_truncate / sentence_split resolve " +
      "in SQL and match the Column API rules") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta. eta theta! iota"),
      (2L, "one two three"),
      (3L, "  padded   tokens  here  end?  ")).toDF("id", "text")
    docs.createOrReplaceTempView("wn_docs")
    val viaSql = spark.sql(
      """SELECT id,
               word_noise(id, text, 30) AS wn,
               token_truncate(text, 4) AS th,
               token_truncate(text, 4, 'both') AS tb,
               sentence_split(text) AS ss
         FROM wn_docs ORDER BY id""").collect()
    val wnCol = graft.ops.Curation.wordNoise(docs, col("id"), col("text"),
        pct = 30).orderBy("id").collect()
    val thCol = graft.ops.Curation.tokenBudgetTruncate(docs, col("id"),
        col("text"), budget = 4).orderBy("id").collect()
    val tbCol = graft.ops.Curation.tokenBudgetTruncate(docs, col("id"),
        col("text"), budget = 4, strategy = "both").orderBy("id").collect()
    val ssCol = graft.ops.TextAnalysis.sentenceSplit(docs, col("id"),
        col("text")).collect()
      .groupBy(_.getLong(0))
      .map { case (id, g) =>
        id -> g.sortBy(_.getLong(1)).map(_.getString(2)).toSeq }
    viaSql.zipWithIndex.foreach { case (r, i) =>
      val wn = r.getStruct(1)
      assert((wn.getLong(0), wn.getLong(1), wn.getString(2)) ==
        ((wnCol(i).getLong(1), wnCol(i).getLong(2), wnCol(i).getString(3))))
      val th = r.getStruct(2)
      assert((th.getString(0), th.getLong(1), th.getLong(2),
        th.getBoolean(3)) == ((thCol(i).getString(1), thCol(i).getLong(2),
        thCol(i).getLong(3), thCol(i).getBoolean(4))))
      val tb = r.getStruct(3)
      assert(tb.getString(0) == tbCol(i).getString(1))
      assert(r.getSeq[String](4) ==
        ssCol.getOrElse(r.getLong(0), Seq.empty))
    }
  }

  test("extensions: cross_fold resolves in SQL and matches the Column " +
      "rule; wrong arity reports the signature") {
    import spark.implicits._
    val docs = (1L to 50L).map(Tuple1(_)).toDF("id")
    docs.createOrReplaceTempView("cf_docs")
    val viaSql = spark.sql(
        "SELECT id, cross_fold(id, 5) AS f FROM cf_docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaCol = docs.select(col("id"),
        graft.ops.Curation.crossFold(col("id"), 5).as("f"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.toSeq == viaCol.toSeq)
    val err = intercept[Throwable] {
      spark.sql("SELECT cross_fold('k')").collect()
    }
    val msg = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).filter(_ != null).mkString(" | ")
    assert(msg.contains("cross_fold(key, k)"), msg)
  }

  test("extensions: wrong arity fails with the signature, not an " +
      "IndexOutOfBoundsException") {
    def analysisError(sql: String): String = {
      val e = intercept[Throwable] { spark.sql(sql).collect() }
      // the builder's IllegalArgumentException surfaces wrapped in the
      // analyzer's error chain; walk to the root message
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
    }
    val cut = analysisError("SELECT span_cut('a b c')")
    assert(cut.contains("span_cut(text, spans)"), cut)
    val mask = analysisError(
      "SELECT span_mask('a', array(named_struct('s',0,'e',1)), 'x', 'y')")
    assert(mask.contains("span_mask(text, spans[, sentinel])"), mask)
    val cos = analysisError("SELECT cosine_similarity(array(1.0))")
    assert(cos.contains("cosine_similarity(a, b)"), cos)
    val wn = analysisError("SELECT word_noise(1, 'a')")
    assert(wn.contains("word_noise(id, text, pct)"), wn)
    val tt = analysisError("SELECT token_truncate('a')")
    assert(tt.contains("token_truncate(text, budget[, strategy])"), tt)
    val tts = analysisError("SELECT token_truncate('a', 4, 'sideways')")
    assert(tts.contains("head|tail|both"), tts)
    assert(!cut.contains("IndexOutOfBounds") &&
      !mask.contains("IndexOutOfBounds"))
  }

  test("clustered store: partition layout exists and approx search prunes") {
    val work = Files.createTempDirectory("graft-cluster").toString
    val store = new VectorStore(spark, s"$work/wh")

    // synthesize a vectors table from the test embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vectors = emb.select(
      col("vec_id").as("id"),
      col("embedding").as("vector"),
      concat(lit("doc "), col("vec_id")).as("text"),
      struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
        lit("x.txt").as("file_name"), lit("t").as("creation_date"),
        lit("t").as("modification_date"), lit("h").as("hash"),
        lit("document").as("document_type"),
        lit(null).cast("int").as("page_number")).as("metadata"))
    store.writeVectorsClustered("cdb", vectors, nbits = 3)

    // hive-partitioned directories by bucket
    val dirs = new java.io.File(s"$work/wh/cdb/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.length > 1 && dirs.length <= 8)

    val searcher = new Searcher(spark, store)
    val p = Searcher.Params(k = 5, threshold = -1.0)
    val hits = searcher.search("cdb", "doc query text", p, Searcher.Lsh(probes = 1))
    val n = hits.count()
    assert(n > 0 && n <= 5)
    // pruning: probing one of the 8 cells reads fewer rows than the table
    // (the nbits = 3 the store was written with is read back from it)
    assert(store.lshParams("cdb") == ((3, 42L)))
    val read = rowsRead(searcher.search("cdb", "doc query text", p,
      Searcher.Lsh(probes = 0)).collect())
    assert(read > 0 && read < store.vectors("cdb").count(), s"read $read rows")

    // exact search on the same clustered store still works (extra bucket
    // column is ignored by the two-phase path)
    val exact = searcher.search("cdb", "doc query text", p)
    assert(exact.count() == 5)

    // batched LSH search agrees with the one-query path per query
    val many = searcher.search("cdb",
      Seq("a" -> "doc query text", "b" -> "other words entirely"), p,
      Searcher.Lsh(probes = 1)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[Double]("similarity_score"))
    val aHits = many.filter(_.getAs[String]("query_id") == "a").map(key).sortBy(_._1)
    assert(aHits.toSeq ==
      hits.collect().map(key).sortBy(_._1).toSeq)
    assert(many.count(_.getAs[String]("query_id") == "b") <= 5)

    // a store without recorded LSH parameters says how to get them
    Files.delete(java.nio.file.Paths.get(s"$work/wh/cdb/lsh.json"))
    val e = intercept[IllegalStateException](
      searcher.search("cdb", "doc query text", p, Searcher.Lsh(probes = 1)))
    assert(e.getMessage.contains("writeVectorsClustered"))
  }

  test("whiten: whitened covariance is the identity; covariance matches direct") {
    import graft.ops.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val white = Ann.whiten(emb, col("vec_id"), col("embedding"), 64)
    assert(white.count() == 500)
    val cov = Ann.covarianceMatrix(white, col("v"), 64)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    for ((i, j, c) <- cov) {
      if (i == j) assert(math.abs(c - 1.0) < 0.01, s"diag($i) = $c")
      else assert(math.abs(c) < 0.01, s"cov($i,$j) = $c")
    }
    // covariance agrees with a direct two-pass computation on one cell
    val xs = emb.select(col("embedding")).collect()
      .map(_.getAs[Seq[Float]](0).map(_.toDouble).toArray)
    val n = xs.length
    def cell(i: Int, j: Int): Double = {
      val mi = xs.map(_(i)).sum / n
      val mj = xs.map(_(j)).sum / n
      xs.map(x => (x(i) - mi) * (x(j) - mj)).sum / (n - 1)
    }
    val got = Ann.covarianceMatrix(emb, col("embedding"), 64)
      .filter(col("i") === 3 && col("j") === 7).head().getDouble(2)
    assert(math.abs(got - cell(3, 7)) < 1e-6)
  }

  test("knnGraph: full ranked edge set, no self edges; IVF graph bounded by it") {
    import graft.ops.Ann
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val g = Ann.knnGraph(emb, col("vec_id"), col("embedding"), 3)
    val rows = g.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == n * 3 && rows.forall(e => e._1 != e._3))
    for ((_, es) <- rows.groupBy(_._1)) {
      val byRnk = es.sortBy(_._2)
      assert(byRnk.map(_._2).toSeq == Seq(1, 2, 3))
      assert(byRnk.map(_._4).toSeq == byRnk.map(_._4).sorted.reverse.toSeq)
    }
    val a = Ann.knnGraphIvf(emb, col("vec_id"), col("embedding"), 3, nlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(a.length <= n * 3 && a.forall(e => e._1 != e._2))
    assert(a.distinct.length == a.length)
  }

  test("inertiaCurve: full coverage per k, distance in range, elbow shape") {
    import graft.ops.Ivf
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val curve = Ivf.inertiaCurve(emb, col("vec_id"), col("embedding"),
        Seq(2, 4, 8), iters = 2, sampleFraction = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(curve.map(_._1).toSeq == Seq(2L, 4L, 8L))
    val n = emb.count()
    assert(curve.forall(_._2 == n), "every vector scored at every k")
    assert(curve.forall(c => c._3 >= 0.0 && c._3 <= 2.0))
    // more centroids can only tighten the fit on this fixture
    assert(curve.map(_._3).toSeq == curve.map(_._3).sorted.reverse.toSeq,
      curve.mkString(","))
  }

  test("residual IVFADC: tighter ADC approximation than raw-vector PQ") {
    import graft.ops.{Ivf, Pq}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = Array.fill(64)(0.125f)
    val dim = 64; val m = 4; val d = dim / m
    val rows = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sqL2(a: Array[Float], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val exact = rows.map { case (id, v) =>
      id -> sqL2(v, query.map(_.toDouble))
    }

    // raw-vector PQ: one global table set
    val rawBooks = Pq.trainCodebooks(emb, col("vec_id"), col("embedding"),
      dim, m, ksub = 8, iters = 2)
    val rawTables = Pq.adcTables(query, rawBooks)
    val rawCodes = Pq.encode(emb, col("vec_id"), col("embedding"), dim, rawBooks)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rawErr = rows.keys.map { id =>
      val adc = (0 until m).map(s => rawTables(s)(rawCodes(id)(s))).sum
      math.abs(adc - exact(id))
    }.sum / rows.size

    // residual PQ: codebooks on v − C_cell, per-cell query tables
    val coarse = Ivf.trainCentroids(emb, col("vec_id"), col("embedding"),
      k = 8, iters = 2, sampleFraction = 50)
    val cents = coarse.toMap
    val cells = Ivf.assignClusters(
        emb.select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<float>").as("v")),
        col("id"), col("v"), coarse)
      .select(col("id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the engine's float32 residual, rebuilt row-by-row on the driver
    val resRows = rows.map { case (id, v) =>
      val c = cents(cells(id))
      (id, cells(id), v.indices.map(i => v(i) - c(i)).toArray)
    }.toSeq
    import spark.implicits._
    val rdf = resRows.map { case (id, cell, r) => (id, cell, r.toSeq) }
      .toDF("id", "cell", "r")
    val resBooks = Pq.trainCodebooks(rdf, col("id"), col("r"), dim, m,
      ksub = 8, iters = 2)
    val resCodes = Pq.encode(rdf, col("id"), col("r"), dim, resBooks)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def resTable(cell: Int): Seq[Seq[Double]] = (0 until m).map { s =>
      resBooks(s).sortBy(_._1).map { case (_, rc) =>
        var acc = 0.0; var i = 0
        while (i < d) {
          val qr = query(s * d + i).toDouble - cents(cell)(s * d + i).toDouble
          val diff = qr - rc(i); acc += diff * diff; i += 1
        }
        acc
      }
    }
    val tables = cents.keys.map(c => c -> resTable(c)).toMap
    val resErr = rows.keys.map { id =>
      val t = tables(cells(id))
      val adc = (0 until m).map(s => t(s)(resCodes(id)(s))).sum
      math.abs(adc - exact(id))
    }.sum / rows.size

    // the IVFADC claim: residual codebooks approximate true distances
    // tighter than raw-vector codebooks at the same (m, ksub) budget
    assert(resErr < rawErr,
      s"residual ADC err $resErr should beat raw ADC err $rawErr")

    // end-to-end shape: k ascending distances, deterministic re-run
    val topk = Pq.ivfPqResidualTopK(emb, col("vec_id"), col("embedding"),
      query, k = 6, nlist = 8, nprobe = 2).collect()
    assert(topk.length == 6)
    val dists = topk.map(_.getDouble(1))
    assert(dists.sameElements(dists.sorted))
    val again = Pq.ivfPqResidualTopK(emb, col("vec_id"), col("embedding"),
      query, k = 6, nlist = 8, nprobe = 2).collect()
    assert(topk.map(_.toString).toSeq == again.map(_.toString).toSeq)

    // batched path agrees with the one-query path per query
    val q2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f)
    val many = Pq.ivfPqResidualTopKMany(emb, col("vec_id"), col("embedding"),
      Seq("qa" -> query, "qb" -> q2), k = 6, nlist = 8, nprobe = 2).collect()
    val aHits = many.filter(_.getAs[String]("query_id") == "qa")
      .sortBy(_.getAs[Int]("rnk"))
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toSeq
    assert(aHits == topk.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(many.count(_.getAs[String]("query_id") == "qb") == 6)
  }

  test("HNSW store: bucketed edge layout persists, searchHnsw matches " +
      "exact top-k on the stored vectors") {
    val work = Files.createTempDirectory("graft-hnsw").toString
    val store = new VectorStore(spark, s"$work/wh")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vectors = emb.select(
      col("vec_id").as("id"),
      col("embedding").as("vector"),
      concat(lit("doc "), col("vec_id")).as("text"),
      struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
        lit("x.txt").as("file_name"), lit("t").as("creation_date"),
        lit("t").as("modification_date"), lit("h").as("hash"),
        lit("document").as("document_type"),
        lit(null).cast("int").as("page_number")).as("metadata"))
    store.writeVectors("hnswdb", vectors)
    store.writeHnsw("hnswdb", vectors, m = 8, maxLevel = 2, buckets = 8)

    assert(store.hnswMeta("hnswdb") == ((8, 2, 8)))
    val dirs = new java.io.File(s"$work/wh/hnswdb/hnsw_edges").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("src_bucket="))
    assert(dirs.length == 8)

    val searcher = new Searcher(spark, store)
    val p = Searcher.Params(k = 5, threshold = -1.0)
    val hits = searcher.search("hnswdb", "doc query text", p, Searcher.Hnsw(ef = 60))
      .collect()
    assert(hits.length == 5)
    // parity with the exact scan over the same stored vectors: the stub
    // embedder is deterministic, so brute-force cosine is ground truth
    val qvec = p.embedder.embed(
      graft.expr.TextNorm.normalizeQuery("doc query text"))
    val exact = store.vectors("hnswdb")
      .select(col("id"),
        graft.functions.cosine_similarity(col("vector"),
          org.apache.spark.sql.functions.typedLit(qvec)).as("s"))
      .orderBy(col("s").desc, col("id")).limit(5)
      .collect().map(_.getLong(0)).toSet
    val got = hits.map(_.getAs[Long]("id")).toSet
    assert((got & exact).size >= 4, s"hnsw $got vs exact $exact")

    // a batch's per-query rows equal the single query's (one shared
    // descent for the whole batch)
    val many = searcher.search("hnswdb",
      Seq("qa" -> "doc query text", "qb" -> "another different query"),
      p, Searcher.Hnsw(ef = 60)).collect()
    val qa = many.filter(_.getAs[String]("query_id") == "qa")
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("similarity_score")))
      .toSeq.sortBy(_._1)
    val single = hits
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("similarity_score")))
      .toSeq.sortBy(_._1)
    assert(qa == single, s"batched qa $qa vs single $single")
    assert(many.count(_.getAs[String]("query_id") == "qb") == 5)
  }

  test("IVF store: learned centroids persist, searchIvf prunes clusters") {
    val work = Files.createTempDirectory("graft-ivf").toString
    val store = new VectorStore(spark, s"$work/wh")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vectors = emb.select(
      col("vec_id").as("id"),
      col("embedding").as("vector"),
      concat(lit("doc "), col("vec_id")).as("text"),
      struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
        lit("x.txt").as("file_name"), lit("t").as("creation_date"),
        lit("t").as("modification_date"), lit("h").as("hash"),
        lit("document").as("document_type"),
        lit(null).cast("int").as("page_number")).as("metadata"))
    store.writeVectorsIvf("ivfdb", vectors, nlist = 8, iters = 2)

    // centroids persisted; hive partitions by learned cluster
    val cents = store.centroids("ivfdb")
    assert(cents.length == 8 && cents.forall(_._2.length == 64))
    val dirs = new java.io.File(s"$work/wh/ivfdb/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster="))
    assert(dirs.length > 1 && dirs.length <= 8)

    val searcher = new Searcher(spark, store)
    val p = Searcher.Params(k = 5, threshold = -1.0)
    val hits = searcher.search("ivfdb", "doc query text", p, Searcher.Ivf(nprobe = 2))
    val n = hits.count()
    assert(n > 0 && n <= 5)
    // pruning: probing one of the 8 clusters reads fewer rows than the table
    val table = store.vectors("ivfdb").count()
    val one = rowsRead(searcher.search("ivfdb", "doc query text", p,
      Searcher.Ivf(nprobe = 1)).collect())
    assert(one > 0 && one < table, s"read $one of $table rows")

    // batched IVF search agrees with the one-query path per query, and
    // its one scan is pruned to the union of the probed clusters
    val queries = Seq("a" -> "doc query text", "b" -> "other words entirely")
    val pair = rowsRead(searcher.search("ivfdb", queries, p, Searcher.Ivf(nprobe = 1)).collect())
    assert(pair > 0 && pair < table, s"read $pair of $table rows")
    val rows = searcher.search("ivfdb", queries, p, Searcher.Ivf(nprobe = 2)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[Double]("similarity_score"))
    val aHits = rows.filter(_.getAs[String]("query_id") == "a").map(key).sortBy(_._1)
    assert(aHits.toSeq == hits.collect().map(key).sortBy(_._1).toSeq)
    val bHits = rows.filter(_.getAs[String]("query_id") == "b")
    assert(bHits.nonEmpty && bHits.length <= 5)
  }

  test("IVF store: searchIvf applies the post-top-k term and type filters") {
    val work = Files.createTempDirectory("graft-ivf-filter").toString
    val store = new VectorStore(spark, s"$work/wh")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vectors = emb.select(
      col("vec_id").as("id"),
      col("embedding").as("vector"),
      concat(lit("doc "), col("vec_id"),
        when(col("vec_id") % 2 === 0, lit(" Even")).otherwise(lit(" odd"))).as("text"),
      struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
        lit("x.txt").as("file_name"), lit("t").as("creation_date"),
        lit("t").as("modification_date"), lit("h").as("hash"),
        lit("document").as("document_type"),
        lit(null).cast("int").as("page_number")).as("metadata"))
    store.writeVectorsIvf("ivff", vectors, nlist = 8, iters = 2)

    val searcher = new Searcher(spark, store)
    val p = Searcher.Params(k = 10, threshold = -1.0)
    val ivf = Searcher.Ivf(nprobe = 2)
    val all = searcher.search("ivff", "doc query text", p, ivf)
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(all.exists(_._2.endsWith("odd")) && all.exists(_._2.endsWith("Even")))
    // case-insensitive containment over the same top-k: the even hits of
    // the unfiltered result, never refilled from below
    val even = searcher.search("ivff", "doc query text",
      p.copy(searchTerm = Some("even")), ivf)
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(even.nonEmpty && even.forall(_._2.endsWith("Even")))
    assert(even == all.filter(_._2.endsWith("Even")))
    assert(searcher.search("ivff", "doc query text",
      p.copy(documentTypeFilter = Some("image")), ivf).count() == 0)
  }

  test("PQ store: codes-only candidate scan matches ivfPqTopK ranking") {
    val work = Files.createTempDirectory("graft-pq").toString
    val store = new VectorStore(spark, s"$work/wh")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vectors = emb.select(
      col("vec_id").as("id"),
      col("embedding").as("vector"),
      concat(lit("doc "), col("vec_id")).as("text"),
      struct(lit("/x").as("file_path"), lit(".txt").as("file_type"),
        lit("x.txt").as("file_name"), lit("t").as("creation_date"),
        lit("t").as("modification_date"), lit("h").as("hash"),
        lit("document").as("document_type"),
        lit(null).cast("int").as("page_number")).as("metadata"))
    store.writeVectorsPq("pqdb", vectors, nlist = 8, m = 4, ksub = 8,
      iters = 2)

    // codebooks round-trip; codes table is cluster-partitioned and SMALL
    val books = store.codebooks("pqdb")
    assert(books.length == 4 && books.forall(b =>
      b.length == 8 && b.forall(_._2.length == 16)))
    val codeDirs = new java.io.File(s"$work/wh/pqdb/pq_codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cluster="))
    assert(codeDirs.length > 1)

    // the store search must rank exactly like the ad-hoc operator on the
    // same frame (identical training inputs -> identical codebooks/tables);
    // sampleFraction 100 both sides pins the Lloyd sample
    val searcher = new Searcher(spark, store)
    val qvec = Searcher.Params().embedder.embed(
      graft.expr.TextNorm.normalizeQuery("doc query text"))
    // at k >= 50 the search verifies exactly the k candidates the codes rank
    // best and returns them all (threshold -1), so the store's candidate
    // stage is what this pins; k = 100 also returns more than 50 hits
    for (k <- Seq(50, 100)) {
      val hits = searcher.search("pqdb", "doc query text",
        Searcher.Params(k = k, threshold = -1.0), Searcher.Pq(nprobe = 8))
        .collect()
      val got = hits.map(_.getAs[Long]("id")).toSeq
      val expect = graft.ops.Pq.ivfPqTopK(emb, col("vec_id"), col("embedding"),
          qvec, k = k, nlist = 8, nprobe = 8, m = 4, ksub = 8, iters = 2,
          sampleFraction = 100)
        .collect().map(_.getLong(0)).toSeq
      // same candidate set; the hits are ordered by the exact similarity,
      // the candidates by their ADC distance, so compare id-sorted
      assert(got.length == k && got.sorted == expect.sorted,
        s"k=$k store=$got adhoc=$expect")
      // phase 2 carried text/metadata through
      assert(hits.forall(r => r.getAs[String]("text").startsWith("doc ")))
    }
  }
}
