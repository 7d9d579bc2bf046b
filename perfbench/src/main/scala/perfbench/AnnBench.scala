package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.embed.Embedder
import graft.query.Searcher
import graft.store.VectorStore

/** Query vectors enter the searcher by name: `q<i>` embeds to the i-th
  * generated query point. */
final case class LookupEmbedder(points: Map[String, Array[Float]]) extends Embedder {
  val dim: Int = points.values.head.length
  def embed(text: String): Array[Float] =
    points.getOrElse(text, throw new IllegalArgumentException(s"unknown query '$text'"))
}

/**
 * `ann`: the approximate indexes on one seeded Gaussian mixture. Set-up
 * builds IVF, PQ and HNSW from the stored vectors table; a round searches
 * every index with the same query batch: `searchMany` (exact),
 * `searchManyIvf`, `searchHnswMany`, and single `searchPq` calls. The exact batch must equal
 * the brute-force top-k; the approximate answers must carry true scores,
 * and their recall@10 against brute force is reported per index.
 */
object AnnBench {
  val N = 400
  val Dim = 64
  val Clusters = 16
  val Spread = 0.6
  val Queries = 16
  val PqQueries = 2
  val K = 10
  val Nlist = 8
  val Nprobe = 2
  val PqM = 2        // PQ subspaces of 32 dims
  val PqKsub = 16    // centroids per subspace
  val HnswM = 8
  val HnswLevels = 1 // top level: layers 0 and 1

  private val Indexes = Seq("ivf", "pq", "hnsw")

  def run(spark: SparkSession, seed: Long, rounds: Int, tracer: Tracer,
      report: Report, work: Path, setupDone: () => Unit): Unit = {
    val (points, qpoints) = Inputs.mixture(seed, N, Queries, Dim, Clusters, Spread)
    val warehouse = work.resolve("warehouse").toString
    val store = new VectorStore(spark, warehouse)
    val searcher = new Searcher(spark, store)
    val names = qpoints.indices.map(i => s"q$i")
    val params = Searcher.Params(k = K, threshold = -1.0,
      embedder = LookupEmbedder(names.zip(qpoints).toMap))
    val batch = names.map(n => n -> n)

    // the stored table every index is built from; the HNSW graph is laid
    // beside it, since the beam reads vectors and ids from its own store
    store.writeVectors("flat", Inputs.vectorsFrame(spark, points))
    val pointsD = points.map(_.map(_.toDouble))
    val rows = pointsD.indices.map(i => i.toLong -> pointsD(i))
    val exact = qpoints.map(q => Reference.topK(q.map(_.toDouble), rows, K, -1.0)
      .map(h => h.copy(score = clip(h.score))))
    def truth(qi: Int): Long => Option[Double] = id =>
      pointsD.lift(id.toInt).map(v => clip(Reference.cosine(qpoints(qi).map(_.toDouble), v)))

    val recall = scala.collection.mutable.HashMap.empty[String, Seq[Double]]

    def buildOp(index: String, round: Int): Unit = {
      val what = s"$index build round $round"
      try {
        report.timed(s"${index}_build", round) {
          tracer.span(s"store.${index}_build")(build(store, index))
        }
        report.check(what, checkBuild(spark, store, index))
      } catch { case e: Exception => report.crashed(what, e) }
    }

    def batchOp(kind: String, round: Int)(search: => Array[Row]): Unit = {
      val what = s"$kind round $round"
      try {
        val got = report.timed(kind, round)(tracer.span(s"query.$kind")(search))
        val byQuery = got.groupBy(_.getString(0))
        val outcome = names.indices.map { qi =>
          val hits = byQuery.getOrElse(names(qi), Array.empty[Row])
            .map(r => Reference.Hit(r.getLong(1), r.getDouble(2))).toSeq
          val idx = kind.stripSuffix("_batch")
          recall(idx) = recall.getOrElse(idx, Seq.empty) :+
            Reference.recall(hits.map(_.id), exact(qi).map(_.id))
          qi -> (kind match {
            case "flat_batch" => Reference.diffHits(exact(qi), hits, truth(qi))
            // the graph path serves its beam's similarity rounded to 4 dp
            case "hnsw_batch" => checkApprox(hits, id => truth(qi)(id).map(round4))
            case _ => checkApprox(hits, truth(qi))
          })
        }.collectFirst { case (qi, Some(d)) => s"${names(qi)}: $d" }
        report.check(what, outcome)
      } catch { case e: Exception => report.crashed(what, e) }
    }

    def pqOp(qi: Int, round: Int): Unit = {
      val what = s"pq_search ${names(qi)} round $round"
      try {
        val got = report.timed("pq_search", round) {
          tracer.span("query.pq_search") {
            searcher.searchPq("pq", names(qi), params, Nprobe)
              .select("id", "similarity_score").collect()
          }
        }
        val hits = got.map(r => Reference.Hit(r.getLong(0), r.getDouble(1))).toSeq
        recall("pq") = recall.getOrElse("pq", Seq.empty) :+
          Reference.recall(hits.map(_.id), exact(qi).map(_.id))
        report.check(what, checkApprox(hits, truth(qi)))
      } catch { case e: Exception => report.crashed(what, e) }
    }

    def searches(r: Int): Unit = {
      batchOp("flat_batch", r) {
        searcher.searchMany("flat", batch, params)
          .select("query_id", "id", "similarity_score").collect()
      }
      batchOp("ivf_batch", r) {
        searcher.searchManyIvf("ivf", batch, params, Nprobe)
          .select("query_id", "id", "similarity_score").collect()
      }
      batchOp("hnsw_batch", r) {
        searcher.searchHnswMany("flat", batch, params)
          .select("query_id", "id", "similarity_score").collect()
      }
      (0 until PqQueries).foreach(pqOp(_, r))
    }
    // set-up: the three builds, each a timed and checked operation outside
    // the rounds (a fresh process's first builds vary too much run to run
    // to bound; they count in setup_s and report as per-layer figures)
    Indexes.foreach(buildOp(_, -1))
    setupDone()
    report.rounds(rounds)(searches)
    if (tracer.enabled) traceLayers(store, tracer)
    // recall is a property of the index and the seed: every round sees the
    // same answers, so the mean over all rounds is the mean of one round
    figures(report, tracer, store, recall.map { case (k, v) => k -> v.sum / v.length }.toMap)
  }

  private def clip(s: Double): Double = math.min(1.0, math.max(0.0, s))
  private def round4(s: Double): Double = BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def build(store: VectorStore, index: String): Unit = index match {
    case "ivf" => store.writeVectorsIvf("ivf", store.vectors("flat"), nlist = Nlist)
    case "pq" => store.writeVectorsPq("pq", store.vectors("flat"), nlist = Nlist, m = PqM,
      ksub = PqKsub)
    case "hnsw" => store.writeHnsw("flat", store.vectors("flat"), m = HnswM, maxLevel = HnswLevels)
  }

  /** An index holds every id once: IVF and PQ tables list all N vectors
    * (PQ also one code row each), HNSW gives every node layer-0 edges. */
  private def checkBuild(spark: SparkSession, store: VectorStore, index: String): Option[String] = {
    def all(df: org.apache.spark.sql.DataFrame, what: String): Option[String] = {
      val r = df.agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.countDistinct(col("id"))).head()
      if (r.getLong(0) == N && r.getLong(1) == N) None
      else Some(s"$what: expected $N rows of $N ids got ${r.getLong(0)} rows of ${r.getLong(1)}")
    }
    index match {
      case "ivf" => all(store.vectors("ivf"), "ivf vectors")
      case "pq" => all(store.vectors("pq"), "pq vectors").orElse(
        all(spark.read.parquet(s"${store.dbDir("pq")}/pq_codes"), "pq codes"))
      case "hnsw" =>
        val e = store.hnswEdges("flat").filter(col("level") === 0)
        all(e.select("id").distinct(), "hnsw layer-0 nodes")
    }
  }

  /** An approximate answer: at most k distinct ids, each with its true
    * score, in descending score order. */
  private def checkApprox(hits: Seq[Reference.Hit], truth: Long => Option[Double]): Option[String] =
    if (hits.length > K) Some(s"${hits.length} hits for k = $K")
    else if (hits.map(_.id).distinct.length != hits.length) Some("duplicate ids")
    else hits.zipWithIndex.collectFirst {
      case (h, i) if !truth(h.id).exists(t => math.abs(t - h.score) <= 1e-6) =>
        s"row $i: id ${h.id} scored ${h.score}, true score ${truth(h.id).getOrElse("none")}"
      case (h, i) if i > 0 && hits(i - 1).score < h.score - 1e-12 =>
        s"row $i: scores out of order (${hits(i - 1).score} before ${h.score})"
    }

  /** Traced runs only, after the rounds: the training step of each index
    * as its own span. */
  private def traceLayers(store: VectorStore, tracer: Tracer): Unit = {
    val v = store.vectors("flat")
    tracer.span("ops.ivf_train")(graft.ops.Ivf.trainCentroids(v, col("id"), col("vector"), Nlist))
    tracer.span("ops.pq_train")(graft.ops.Pq.trainCodebooks(v, col("id"), col("vector"), Dim,
      PqM, PqKsub, sampleFraction = 100))
    tracer.span("ops.hnsw_edges") {
      graft.ops.Hnsw.buildExact(v, col("id"), col("vector"), HnswM, HnswLevels)
        .queryExecution.toRdd.count()
    }
  }

  private def dirBytes(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).filter(_.toString.endsWith(".parquet"))
        .mapToLong(Files.size(_)).sum().toDouble
      finally s.close()
    }
  }

  private def figures(report: Report, tracer: Tracer, store: VectorStore,
      recall: Map[String, Double]): Unit = {
    def medS(kind: String): Double = Stats.median(report.msOf(kind)) / 1000
    report.figure("flat_batch_qps", Queries / medS("flat_batch"), "queries/s")
    Indexes.foreach(i => report.figure(s"${i}_build_s", medS(s"${i}_build"), "s"))
    report.figure("ivf_qps", Queries / medS("ivf_batch"), "queries/s")
    report.figure("pq_qps", 1 / medS("pq_search"), "queries/s")
    report.figure("hnsw_qps", Queries / medS("hnsw_batch"), "queries/s")
    Indexes.foreach(i => report.figure(s"${i}_recall_at_10", recall(i), "fraction"))
    if (tracer.enabled) {
      def med(name: String)(f: CallStat => Double): Double = {
        val cs = tracer.calls(name)
        if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
      }
      report.figure("ops.ivf_train_ms", med("ops.ivf_train")(_.wallMs), "ms")
      report.figure("ops.pq_train_ms", med("ops.pq_train")(_.wallMs), "ms")
      report.figure("ops.hnsw_edges_ms", med("ops.hnsw_edges")(_.wallMs), "ms")
      Indexes.foreach { i =>
        report.figure(s"store.${i}_build_jobs", med(s"store.${i}_build")(_.jobs.toDouble), "count")
        report.figure(s"store.${i}_build_cpu_s", med(s"store.${i}_build")(_.cpuS), "s")
      }
      report.figure("store.ivf_bytes", dirBytes(store.dbDir("ivf")), "bytes")
      report.figure("store.pq_bytes", dirBytes(s"${store.dbDir("pq")}/pq_codes"), "bytes")
      report.figure("store.hnsw_bytes", dirBytes(s"${store.dbDir("flat")}/hnsw_edges"), "bytes")
      report.figure("query.flat_rows_read_per_query",
        med("query.flat_batch")(_.rowsRead.toDouble) / Queries, "count")
      report.figure("query.ivf_rows_read_per_query",
        med("query.ivf_batch")(_.rowsRead.toDouble) / Queries, "count")
      report.figure("query.pq_rows_read_per_query", med("query.pq_search")(_.rowsRead.toDouble), "count")
      report.figure("query.hnsw_jobs_per_batch", med("query.hnsw_batch")(_.jobs.toDouble), "count")
      Seq("flat" -> "flat_batch", "ivf" -> "ivf_batch", "pq" -> "pq_search", "hnsw" -> "hnsw_batch")
        .foreach { case (i, span) =>
          report.figure(s"query.${i}_gap_ms", med(s"query.$span")(_.gapMs), "ms")
        }
    }
  }
}
