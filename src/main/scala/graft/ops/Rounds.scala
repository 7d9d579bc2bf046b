package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftshim.StatsReset

/** The round primitive of the iterative operators (graph centralities,
  * communities, cores, SCC, near-dup clustering): every loop round
  * checkpoints through [[checkpoint]]; a loop of a fixed number of
  * rounds runs through [[repeat]], and a loop that runs to a fixpoint
  * through [[untilStable]].
  *
  * A round checkpoint is eager, drops the origin statistics (the
  * compounding-BigInt lesson, see `graftshim.StatsReset`) and counts
  * its rows on the same job that materializes it, so a loop reads its
  * convergence signal — the row count or one aggregate observed on the
  * round's plan — at no extra Spark job. Under AQE the checkpoint keeps
  * no partitioning or ordering (MEASUREMENT.md #11).
  *
  * Cap policy: a fixpoint that has not arrived within its round cap
  * fails loudly — [[untilStable]] throws an `IllegalStateException`
  * naming the operator and the cap. A truncated fixpoint (a half-peeled
  * core, a half-propagated label) is never returned as the answer.
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

  /** Exactly `rounds` rounds of `step` from `init`, each round's output
    * checkpointed. `init` itself is not: the first round reads it as
    * it is, so a caller that wants it materialized checkpoints it. */
  def repeat(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame)
      : DataFrame =
    (1 to rounds).foldLeft(init)((cur, _) => checkpoint(step(cur)).frame)

  /** Checkpoints `init`, then checkpoints `step` of the last round's
    * frame until the round's signal repeats the previous one's, and
    * returns that last frame. The signal is the `observed` aggregate
    * when given, else the row count; a start with no rows is already
    * stable. At most `maxRounds` steps run: if the signal still moves
    * after the last of them, this throws an `IllegalStateException`
    * naming `op` and the cap. */
  def untilStable(op: String, init: DataFrame, maxRounds: Int,
      observed: Option[Column] = None)(step: DataFrame => DataFrame)
      : DataFrame = {
    def signal(c: Checkpoint): Any =
      if (observed.isDefined) c.observed else c.rows
    @annotation.tailrec
    def loop(cur: Checkpoint, round: Int): DataFrame =
      if (round >= maxRounds) throw new IllegalStateException(
        s"$op: not converged within its cap of $maxRounds rounds — " +
          "the input needs more rounds than that, or has no fixpoint")
      else {
        val next = checkpoint(step(cur.frame), observed)
        if (signal(next) == signal(cur)) next.frame
        else loop(next, round + 1)
      }
    val start = checkpoint(init, observed)
    if (start.rows == 0L) start.frame else loop(start, 0)
  }
}
