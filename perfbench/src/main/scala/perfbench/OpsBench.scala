package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * `operators`: a fixed list of suite queries over seeded tables shaped like
 * the suite's test data, one per operator family — dedup, span/gram
 * kernels, suffix ranks and the iterative graph loops. Each
 * operation writes one query's whole result as parquet, so no column or
 * row is pruned away (MEASUREMENT.md trap 1), and that very output is
 * checked against the query's `SparkEntry.oracleSql` in DuckDB after the
 * JVM exits (`perfbench/oracle.py`).
 */
object OpsBench {
  /** One query per operator family. HNSW edges (q231) is left to the
    * `ann` workload's HNSW build, which runs the same exact layered build;
    * the other queries of the families cost more than a run's time
    * allows (see perfbench/README.md). */
  val Queries = Seq(
    "q81_semantic_dedup",  // dedup: SemDeDup over the embeddings
    "q100_strip_spans",    // span/gram kernels: duplicate 5-gram span cut
    "q152_suffix_ranks",   // suffix: prefix-doubling suffix array
    "q361_louvain")        // iterative graph loop: Louvain, 3 rounds

  def run(spark: SparkSession, seed: Long, rounds: Int, tracer: Tracer,
      report: Report, work: Path, setupDone: () => Unit): Unit = {
    val data = work.resolve("opsdata")
    Inputs.writeOperatorTables(spark, seed, data)
    val dir = data.toString

    val outputs = work.resolve("outputs")
    Files.createDirectories(outputs)
    val oracle = Queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.writeString(outputs.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}"))
    // no warm-up: each query runs as a batch job does, in a fresh process
    setupDone()

    report.rounds(rounds) { round =>
      Queries.foreach { q =>
        try {
          report.timed(q, round) {
            tracer.span(s"ops.$q") {
              SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
                .parquet(outputs.resolve(q).resolve(s"round$round").toString)
            }
          }
          report.outputs += ((q, round))
        } catch { case e: Exception => report.crashed(s"$q round $round", e) }
      }
    }

    report.figure("operators_wall_s",
      Queries.map(q => Stats.median(report.msOf(q))).sum / 1000, "s")
    if (tracer.enabled) Queries.foreach { q =>
      val cs = tracer.calls(s"ops.$q")
      def med(f: CallStat => Double): Double = Stats.median(cs.map(f))
      report.figure(s"ops.$q.wall_s", med(_.wallMs) / 1000, "s")
      report.figure(s"ops.$q.jobs", med(_.jobs.toDouble), "count")
      report.figure(s"ops.$q.cpu_s", med(_.cpuS), "s")
      report.figure(s"ops.$q.gap_s", med(_.gapMs) / 1000, "s")
      report.figure(s"ops.$q.shuffle_mb", med(_.shuffleBytes.toDouble) / 1e6, "MB")
    }
  }
}
