package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Stats-reset local checkpoint — the fix for a double-exponential
  * Catalyst pathology in ITERATIVE plans (found live in round 12 when
  * three stacked Louvain levels hung the optimizer):
  *
  * `Dataset.localCheckpoint` (Spark ≥ 3.2, via `LogicalRDD.fromDataset`)
  * carries the origin plan's `Statistics` into the checkpoint's
  * `LogicalRDD` so the planner keeps size estimates across the
  * checkpoint. But `SizeInBytesOnlyStatsPlanVisitor` MULTIPLIES child
  * `sizeInBytes` through every inner join, so in a loop that joins the
  * previous round's checkpoint k times per round, the carried estimate
  * compounds like `size^k` PER ROUND — the BigInt digit count grows
  * ~k× each round, and by round 9 of a 5-join-per-round loop the
  * optimizer sits in million-digit Karatsuba multiplications for
  * hours. (Three Louvain rounds were fine, six noticeably slow, nine
  * effectively hung — measured via jstack, not guessed.)
  *
  * The checkpoint exists precisely to truncate lineage; truncating the
  * STATS lineage with it is the right semantic for a loop. This helper
  * re-wraps the freshly checkpointed RDD in a bare [[LogicalRDD]] with
  * `originStats = None` (sizeInBytes falls back to
  * `spark.sql.defaultSizeInBytes`), keeping the materialized blocks and
  * output attributes. It keeps whatever partitioning and ordering the
  * checkpoint reports, and with AQE on that is none:
  * `LogicalRDD.fromDataset` reads them off the `AdaptiveSparkPlanExec`
  * wrapper, which reports `UnknownPartitioning` and no ordering
  * (MEASUREMENT.md #11). Static broadcast planning loses the estimate,
  * but AQE re-plans joins from ACTUAL shuffle sizes at runtime, which
  * is the regime every caller runs in.
  *
  * Lives under `org.apache.spark.sql` because [[Dataset.ofRows]] and
  * [[LogicalRDD]] are `private[sql]` — the standard extension-library
  * shim pattern; only public-behavior Spark APIs are touched otherwise.
  * [[graft.ops.Rounds]] is its one caller.
  */
object StatsReset {

  /** `df.localCheckpoint(eager = true)` with the origin statistics
    * dropped that also RETURNS the row count (and any `Dataset.observe`
    * metrics attached to `df`'s plan) captured from the SAME job the
    * eager checkpoint already runs to materialize the blocks —
    * `Dataset.localCheckpoint(eager = true)` internally calls
    * `rdd.count()` and throws the number away, forcing every iterative
    * loop that needs a convergence signal (frontier size, changed-row
    * count, a monotone Σ) to pay a SECOND job per round re-scanning
    * the blocks it just wrote. This replays the exact steps of
    * `Dataset.checkpoint(eager = true, reliableCheckpoint = false)`
    * (Spark 4.1: execute → copy rows → `rdd.localCheckpoint()` →
    * `rdd.count()` → wrap in `LogicalRDD.fromDataset`) but keeps the
    * count and reads `queryExecution.observedMetrics` after the job,
    * so the convergence check costs ZERO extra jobs.
    *
    * Returns `(checkpointed frame, row count, observed metrics)` —
    * metrics keyed by the `observe(name, …)` names in `df`'s plan
    * (empty map when none). */
  def freshLocalCheckpointCounted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long, Map[String, Row]) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // the exact materialization Dataset.localCheckpoint(true) performs
    val internalRdd = qe.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    val n = internalRdd.count()
    val metrics = qe.observedMetrics
    val out = LogicalRDD.fromDataset(internalRdd, ds,
        isStreaming = false) match {
      case l: LogicalRDD =>
        // keep the materialized RDD + physical properties; drop ONLY
        // the carried stats (and constraints, same compounding risk)
        Dataset.ofRows(spark, LogicalRDD(l.output, l.rdd,
          l.outputPartitioning, l.outputOrdering, l.isStreaming,
          None)(spark, None, None))
    }
    (out, n, metrics)
  }
}
