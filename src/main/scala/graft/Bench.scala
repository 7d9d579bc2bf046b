package graft
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Timing notes:
  *  - `queryExecution.toRdd.count()` forces materialization of every output
  *    column — a plain `count()` would let Catalyst prune the projections
  *    under test and time an empty scan;
  *  - a warmup job runs first so the first measured query doesn't absorb
  *    executor/codegen startup;
  *  - queries run in sorted name order for stable cross-round comparison. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup off the clock: codegen/scheduler init via the entry query,
    // plus footer+listing for each benchmark table so the first measured
    // query isn't also paying first-touch filesystem metadata
    SparkEntry.entry(spark).queryExecution.toRdd.count()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).queryExecution.toRdd.count()
      catch { case _: Throwable => }

    // optional args: substring filters to bench a subset while iterating
    // (the driver passes none — full suite). Repeat count via
    // SPARK_GRAFT_BENCH_REPS; the DEFAULT is 3-rep per-query medians so
    // the driver's numbers use the same discipline as the recorded
    // baselines (a single rep on a loaded shared host measures the host,
    // not the query).
    val wanted = args.toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.exists(n.contains) }
    // Physical-plan fingerprint, taken AFTER execution so AQE's final
    // plan (isFinalPlan=true, runtime join strategies, coalesced reads)
    // is what gets hashed. Run-varying tokens (expression ids, plan ids,
    // exchange ids, file paths, byte sizes, row-count stats) are
    // normalized out so the hash is stable across runs of the same plan
    // and flips ONLY when the plan shape changes — a bench-to-bench
    // `plans` diff separates join-strategy regressions from host noise
    // mechanically. Iterative operators that localCheckpoint interior
    // rounds hash their FINAL stage only (the interior plans are not
    // reachable from the returned frame); their cadence is covered by
    // the JobProbe evidence in PLANS.md instead.
    def planHash(df: org.apache.spark.sql.DataFrame): String = {
      val norm = df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "#")
        .replaceAll("@[0-9a-f]{1,16}\\b", "@") // JVM identity hashes (typed aggregator instances)
        .replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("\\[id=\\d+\\]", "[id=]")
        .replaceAll("(file|hdfs|s3a?):[^,\\]\\s)]+", "path")
        .replaceAll("\\d+(\\.\\d+)? ?([KMGT]i?)?B\\b", "sz")
        .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
        .replaceAll("rowCount=\\d+", "rowCount=")
      java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    }
    // Per-query executor-side evidence (round-13 verdict ask #2): the
    // q100-class driver-window spikes needed three rounds of manual
    // MEASUREMENT.md lore to dismiss. Recording aggregate TASK time and
    // JOB count next to each wall median makes the adjudication
    // mechanical: a >2x wall ratio with an IDENTICAL plan hash and
    // taskSec inside the baseline band is ambient cadence amplification
    // (scheduler gaps on a loaded host), not a regression — the rule
    // lives in MEASUREMENT.md. Counters are per-query totals over all
    // reps divided by reps, read on a drained listener bus, so no
    // query's late events land on the next one.
    val jobsCtr = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    // CPU time next to elapsed task time (round-14 verdict ask #1): a
    // co-running job stealing cores inflates task ELAPSED 2-20× while
    // task CPU stays flat — recording both makes the
    // contention-vs-kernel-regression adjudication mechanical
    // (elapsed up + cpu flat + same plan = ambient; cpu up = real).
    val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobsCtr.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null)
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      }
    })
    def runOnce(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double,
        org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      try {
        df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
      } catch { case e: Throwable =>
        df = null
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      ((System.nanoTime() - t0) / 1e9, df)
    }
    val results = selected.map { case (name, fn) =>
      var lastDf: org.apache.spark.sql.DataFrame = null
      GraftBus.drain(spark.sparkContext)
      jobsCtr.set(0); taskMs.set(0); cpuNs.set(0)
      val wall0 = System.currentTimeMillis() / 1000.0
      val times = (1 to reps).map { _ =>
        val (sec, df) = runOnce(name, fn)
        if (df != null) lastDf = df
        sec
      }.sorted
      val wall1 = System.currentTimeMillis() / 1000.0
      GraftBus.drain(spark.sparkContext)
      val taskSec = taskMs.get / 1e3 / reps
      val cpuSec = cpuNs.get / 1e9 / reps
      val jobsPerRep = jobsCtr.get.toDouble / reps
      val ph = if (lastDf == null) "err"
        else try planHash(lastDf) catch { case _: Throwable => "err" }
      (name, times(times.size / 2), ph, taskSec, jobsPerRep, cpuSec,
        wall0, wall1)
    }
    val timed = results.map { case (n, t, _, _, _, _, _, _) => (n, t) }
    val total = timed.map(_._2).sum
    // end-of-suite automatic solo re-run (round-14 verdict ask #1):
    // any query whose suite median exceeds 2× the recorded baseline
    // gets ONE quiet solo rep after the suite — a contention window
    // mid-suite cannot follow the run around, so a solo rep back at
    // baseline level adjudicates the spike as ambient with zero manual
    // lore. Baseline file: tools/bench_baseline_r{latest}.json if
    // readable; absent → no re-runs (first run of a round).
    val soloRuns: Seq[(String, Double)] = {
      val base = try {
        val re = "bench_baseline_r(\\d+)\\.json".r
        val latest = scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get("tools"))) { ps =>
          ps.iterator().asScala.flatMap { p =>
            p.getFileName.toString match {
              case re(n) => Some(n.toInt -> p)
              case _ => None
            }
          }.maxByOption(_._1).map(_._2)
        }
        latest.fold(Map.empty[String, Double]) { bestP =>
          val txt = java.nio.file.Files.readString(bestP)
          // minimal parse of the flat "queries" map — no JSON dep
          val qre = "\"(q[0-9]+[a-z0-9_]*)\":([0-9.]+)".r
          qre.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty[String, Double] }
      if (base.isEmpty) Seq.empty
      else timed.filter { case (n, t) =>
        base.get(n).exists(b => b > 0.05 && t > 2.0 * b)
      }.map { case (n, _) =>
        val (sec, _) = runOnce(n, selected.toMap.apply(n))
        (n, sec)
      }
    }
    def line(fmt: ((String, Double)) => String, sf: String,
        extra: String = ""): String = {
      val qs = timed.map(fmt).mkString("{", ",", "}")
      val tv = "%.4f".formatLocal(java.util.Locale.ROOT, total)
      s"""{"metric":"total","value":$tv,"unit":"sec","queries":$qs$extra,"sf":"$sf"}"""
    }
    // full-precision, full-name artifact: printed FIRST and also written
    // to tools/bench_last.json — consumers that capture whole output (or
    // read the repo tree) get every query. Carries the per-query
    // physical-plan hashes; the compact line (driver tail budget) omits
    // them — plan flips are diagnosed from the repo artifact, not the
    // tail.
    val plans = results.map { case (n, _, h, _, _, _, _, _) =>
        "\"" + n + "\":\"" + h + "\"" }
      .mkString(",\"plans\":{", ",", "}")
    // [taskSec, jobs, cpuSec, wallStart, wallEnd] per query — the
    // ambient-vs-regression evidence (cpuSec + stamps added in r15 per
    // the round-14 verdict: elapsed-inflation-with-flat-CPU =
    // core-stealing contention = ambient; the stamps localize which
    // queries shared a contention window)
    val probe = results.map { case (n, _, _, ts, j, cs, w0, w1) =>
        "\"" + n + "\":[" +
          "%.2f,%.1f,%.2f,%.1f,%.1f".formatLocal(java.util.Locale.ROOT,
            ts, j, cs, w0, w1) + "]" }
      .mkString(",\"probe\":{", ",", "}")
    // 1-rep end-of-suite solo re-runs of >2×-vs-baseline queries
    val solo = if (soloRuns.isEmpty) ""
      else soloRuns.map { case (n, s) =>
        "\"" + n + "\":" + "%.4f".formatLocal(java.util.Locale.ROOT, s) }
        .mkString(",\"solo\":{", ",", "}")
    val full = line({ case (k, v) => "\"" + k + "\":" + v }, sfDir,
      plans + probe + solo)
    println(full)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("tools/bench_last.json"), full + "\n")
    catch { case _: Throwable => } // read-only or foreign cwd: stdout has it
    // compact line LAST: qNN keys + adaptive precision. The driver keeps
    // only the last ~2000 chars of stdout, so this line must fit THERE IN
    // FULL or the artifact's `parsed` is null (the round-5 failure: 168
    // queries at %.3f is ~2.4 kB and the front of the line was cut).
    // Degrade until the line fits with margin: fewer decimals first,
    // then drop the `q` key prefix (bare query numbers — still unique,
    // still 1:1 with the full names) before giving up sub-second
    // resolution entirely; exact values live in the first-line JSON and
    // tools/bench_last.json.
    def fmtCompact(v: Double, dec: Int): String = {
      val s = BigDecimal(v).setScale(dec, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s.isEmpty || s == "-0") "0" else s
    }
    // Budget: the 2000-char tail must hold this line PLUS sbt's trailing
    // "[success] Total time: …" epilogue (~80 chars), so cap at 1850.
    val tailBudget = 1850
    def lineOf(entries: Seq[(String, Double)], dec: Int, qPrefix: Boolean,
        sf: String): String = {
      val qs = entries.map { case (k, v) =>
        val num = k.takeWhile(_ != '_')
        "\"" + (if (qPrefix) num else num.drop(1)) + "\":" + fmtCompact(v, dec)
      }.mkString("{", ",", "}")
      val tv = "%.4f".formatLocal(java.util.Locale.ROOT, total)
      s"""{"metric":"total","value":$tv,"unit":"sec","queries":$qs,"sf":"$sf"}"""
    }
    val sfName = new java.io.File(sfDir).getName
    // Degradation ladder: fewer decimals, then drop the `q` key prefix,
    // then omit entries that round to 0 at that precision (their exact
    // values live in the first-line JSON and tools/bench_last.json).
    val ladder = Seq((3, true, false), (2, true, false), (1, true, false),
      (1, false, false), (1, false, true), (0, false, true)).iterator
      .map { case (dec, q, dropZ) =>
        val es = if (dropZ) timed.filter { case (_, v) => fmtCompact(v, dec) != "0" }
                 else timed
        lineOf(es, dec, q, sfName)
      }
      .find(_.length <= tailBudget)
    // Guaranteed fit: keep the slowest queries that fit the budget at 1dp
    // (an empty map always fits), so the driver can ALWAYS parse at least
    // the total plus the heavy hitters.
    val compactLine = ladder.getOrElse {
      val bySlow = timed.sortBy(-_._2)
      val kept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      for (e <- bySlow)
        if (lineOf((kept :+ e).toSeq, 1, false, sfName).length <= tailBudget)
          kept += e
      lineOf(kept.toSeq.sortBy(_._1), 1, false, sfName)
    }
    println(compactLine)
    spark.stop()
  }
}
