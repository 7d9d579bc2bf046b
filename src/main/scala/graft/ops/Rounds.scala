package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftshim.StatsReset

/** The round primitive of the iterative operators (graph communities,
  * cores, SCC, near-dup clustering): every loop round checkpoints
  * through [[checkpoint]], and loops that run to a fixpoint use
  * [[untilStable]].
  *
  * A round checkpoint is eager, drops the origin statistics (the
  * compounding-BigInt lesson, see `graftshim.StatsReset`) and counts
  * its rows on the same job that materializes it, so a loop reads its
  * convergence signal — the row count or one aggregate observed on the
  * round's plan — at no extra Spark job. Under AQE the checkpoint keeps
  * no partitioning or ordering (MEASUREMENT.md #11).
  */
object Rounds {

  /** A checkpointed round: the frame, its row count, and the value of
    * the aggregate observed on it — null when none was asked for, or
    * when it aggregated over no rows (a bare `sum`). */
  final case class Checkpoint(frame: DataFrame, rows: Long, observed: Any)

  private val MetricName = "__graft_round"

  /** Eager, stats-dropping local checkpoint of `df`, counted on its own
    * materialization job; with `observed`, that aggregate (one column,
    * e.g. `sum(...)`) is read off the same job. A metric that does not
    * surface fails loudly: a silent default would fake convergence. */
  def checkpoint(df: DataFrame, observed: Option[Column] = None): Checkpoint = {
    val (frame, rows, metrics) = StatsReset.freshLocalCheckpointCounted(
      observed.fold(df)(m => df.observe(MetricName, m.as("observed"))))
    val value = observed.map { m =>
      metrics.getOrElse(MetricName, throw new IllegalStateException(
        s"Rounds.checkpoint: observed metric $m missing from the " +
          "checkpoint job")).get(0)
    }.orNull
    Checkpoint(frame, rows, value)
  }

  /** Checkpoints `init`, then checkpoints `step` of the last round's
    * frame until the round's signal repeats the previous one's, for at
    * most `maxRounds` rounds. The signal is the `observed` aggregate
    * when given, else the row count; a start with no rows is already
    * stable. Returns the last checkpointed frame and whether it
    * converged — at the cap it is the capped frame with `false`, and
    * what a cap means is the caller's policy. */
  def untilStable(init: DataFrame, maxRounds: Int,
      observed: Option[Column] = None)(step: DataFrame => DataFrame)
      : (DataFrame, Boolean) = {
    def signal(c: Checkpoint): Any =
      if (observed.isDefined) c.observed else c.rows
    @annotation.tailrec
    def loop(cur: Checkpoint, round: Int): (DataFrame, Boolean) =
      if (round >= maxRounds) (cur.frame, false)
      else {
        val next = checkpoint(step(cur.frame), observed)
        if (signal(next) == signal(cur)) (next.frame, true)
        else loop(next, round + 1)
      }
    val start = checkpoint(init, observed)
    if (start.rows == 0L) (start.frame, true) else loop(start, 0)
  }
}
