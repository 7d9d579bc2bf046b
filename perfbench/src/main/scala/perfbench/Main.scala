package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM: `--workload rag|ann|operators --seed n
 * --seconds s --trace 0|1 --work dir --out file --t0 epochMs`. Writes the
 * raw tally (timed operations, attempted/failed, figures) as JSON to
 * `--out`; `perfbench/run.py` turns it into the metric line. `--t0` is
 * when the launcher started the JVM, so set-up time includes JVM start.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    // a round takes 7-12 s here; --seconds sets the whole number of rounds
    // (10 s: one), so every run stops at the same point of the JVM's
    // warm-up; with more than one, the metrics treat the first as warm-up
    val rounds = math.max(1, math.ceil(opts("seconds").toDouble / 10).toInt)
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val t0 = opts.get("t0").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    Reference.selfTest()
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark, traced)
    val report = new Report(workload)
    var setupEnd = 0L
    val setupDone = () => { setupEnd = System.currentTimeMillis() }
    try {
      workload match {
        case "rag" => RagBench.run(spark, seed, rounds, tracer, report, work, setupDone)
        case "ann" => AnnBench.run(spark, seed, rounds, tracer, report, work, setupDone)
        case "operators" => OpsBench.run(spark, seed, rounds, tracer, report, work, setupDone)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (traced) tracer.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
      writeResult(out, report, (setupEnd - t0) / 1000.0, cores)
    } finally spark.stop()
  }

  private def writeResult(out: Path, r: Report, setupS: Double, cores: Int): Unit = {
    val ops = r.ops.map(o => s"[${Json.str(o.kind)},${Json.num(o.ms)},${o.round}]")
    val outputs = r.outputs.map { case (q, round) => s"[${Json.str(q)},$round]" }
    val figs = r.figures.map { case (k, (v, u)) => s"${Json.str(k)}:[${Json.num(v)},${Json.str(u)}]" }
    val json = s"""{"workload":${Json.str(r.workload)},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"setup_s":${Json.num(setupS)},"cores":$cores,""" +
      s""""round_ms":[${r.roundMs.map(Json.num).mkString(",")}],""" +
      s""""ops":[${ops.mkString(",")}],"outputs":[${outputs.mkString(",")}],""" +
      s""""figures":{${figs.mkString(",")}}}"""
    Files.createDirectories(out.getParent)
    Files.writeString(out, json + "\n")
  }
}
