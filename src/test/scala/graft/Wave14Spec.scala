package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Rounds

/** The round primitive every iterative loop checkpoints through
  * ([[Rounds]]): the counted, observed, stats-dropping checkpoint, the
  * until-stable loop, the job it saves, and the engine behaviour its
  * docs rest on (a checkpoint keeps no layout under AQE). These pins
  * guard the mechanism itself — operator-level semantics (round
  * counts, fixpoints) stay pinned by the existing Wave/Scale specs and
  * the DuckDB oracle sweep. */
class Wave14Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** `f` under one session setting, restored afterwards. */
  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // the counted shim, reached through the primitive
  test("freshLocalCheckpointCounted: row count matches, observed " +
      "metrics surface from the SAME materialization, and successive " +
      "rounds with the same observe name see fresh values") {
    import spark.implicits._
    val lblSum = Some(coalesce(sum(col("lbl")), lit(0L)))
    val df = Seq((1L, 5L), (2L, 7L), (3L, 9L)).toDF("id", "lbl")
      .groupBy("id").agg(min("lbl").as("lbl")) // force an exchange (AQE path)
    val c = Rounds.checkpoint(df, lblSum)
    assert(c.rows === 3L)
    assert(c.observed === 21L)
    assert(c.frame.count() === 3L)
    // round 2: same metric, derived frame — must be the FRESH sum
    val c2 = Rounds.checkpoint(
      c.frame.select(col("id"), (col("lbl") * 2).as("lbl")), lblSum)
    assert(c2.rows === 3L && c2.observed === 42L)
    assert(c2.frame.select(sum("lbl")).head().getLong(0) === 42L)
  }

  test("freshLocalCheckpointCounted: empty frame counts 0 and a sum " +
      "metric over it is null (callers must treat null as zero, not " +
      "miss the key)") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "lbl")
    val c = Rounds.checkpoint(df, Some(sum(col("lbl"))))
    assert(c.rows === 0L)
    assert(c.observed == null)
  }

  test("freshLocalCheckpointCounted: stats are dropped (the StatsReset " +
      "contract) and the frame round-trips rows exactly") {
    import spark.implicits._
    val src = (1 to 100).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "v")
    val c = Rounds.checkpoint(src)
    assert(c.rows === 100L)
    val stats = c.frame.queryExecution.optimizedPlan.stats
    // origin stats dropped => falls back to the session default size
    assert(stats.rowCount.isEmpty)
    assert(c.frame.as[(Long, Long)].collect().sorted ===
      src.as[(Long, Long)].collect().sorted)
  }

  test("engine: under AQE a plain localCheckpoint of an exchanged frame " +
      "reports UnknownPartitioning and no ordering (AQE off keeps the " +
      "hash layout)") {
    import spark.implicits._
    def layout(): LogicalRDD = (1 to 200).map(i => (i.toLong % 10, i.toLong))
      .toDF("s", "t").repartition(4, col("s")).sortWithinPartitions("s")
      .localCheckpoint(true)
      .queryExecution.optimizedPlan.asInstanceOf[LogicalRDD]
    val aqe = withConf("spark.sql.adaptive.enabled", "true")(layout())
    assert(aqe.outputPartitioning.isInstanceOf[UnknownPartitioning],
      s"unexpected partitioning: ${aqe.outputPartitioning}")
    assert(aqe.outputOrdering.isEmpty, s"${aqe.outputOrdering}")
    val plain = withConf("spark.sql.adaptive.enabled", "false")(layout())
    assert(plain.outputPartitioning.isInstanceOf[HashPartitioning],
      s"unexpected partitioning: ${plain.outputPartitioning}")
  }

  test("Rounds.untilStable: converged rounds stop on the repeated " +
      "signal — the row count, or the observed aggregate") {
    val nums = spark.range(1, 6).select(col("id").as("v"))
    var steps = 0
    val (byRows, conv1) = Rounds.untilStable(nums, 10) { cur =>
      steps += 1
      cur.filter(col("v") < 3)
    }
    // 5 rows → 2 rows → 2 rows: stable on the second step
    assert(conv1 && steps === 2)
    assert(byRows.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    steps = 0
    val (bySum, conv2) = Rounds.untilStable(nums, 10,
        Some(coalesce(sum(col("v")), lit(0L)))) { cur =>
      steps += 1
      cur.select(least(col("v"), lit(3L)).as("v"))
    }
    // the row count never moves; Σ goes 15 → 12 → 12
    assert(conv2 && steps === 2)
    assert(bySum.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 3L, 3L))
    steps = 0
    val (empty, conv3) = Rounds.untilStable(nums.filter(col("v") < 0), 10) {
      cur => steps += 1; cur
    }
    assert(conv3 && steps === 0 && empty.isEmpty)
  }

  test("Rounds.untilStable: at the cap it returns the last frame with " +
      "converged = false") {
    val nums = spark.range(1, 6).select(col("id").as("v"))
    var steps = 0
    val (out, converged) = Rounds.untilStable(nums, 3,
        Some(coalesce(sum(col("v")), lit(0L)))) { cur =>
      steps += 1
      cur.select((col("v") + 1).as("v"))
    }
    assert(!converged && steps === 3)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(4L, 5L, 6L, 7L, 8L))
  }

  test("kCore runs exactly one Spark job per peel round (plus the start " +
      "checkpoint): the edge count rides each round's checkpoint") {
    import spark.implicits._
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // a triangle with a three-edge tail: k = 2 peels one tail edge per
    // round, leaving the triangle
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("a", "b")
    spark.sparkContext.addSparkListener(listener)
    // AQE off: a round's plan then runs as ONE job (AQE submits each
    // shuffle stage as a job of its own), so the count is exact
    val (core, n) = try withConf("spark.sql.adaptive.enabled", "false") {
      GraftTestBus.drain(spark.sparkContext)
      val before = jobs.get()
      val core: DataFrame = graft.ops.Graph.kCore(e, col("a"), col("b"), k = 2)
      GraftTestBus.drain(spark.sparkContext)
      (core, jobs.get() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
    // 6 → 5 → 4 → 3 edges, then 3 again: four peel rounds
    assert(n === 1 + 4, s"kCore took $n jobs")
    assert(core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }
}
