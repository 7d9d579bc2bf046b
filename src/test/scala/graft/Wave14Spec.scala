package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
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

  /** `f`'s value and the Spark jobs it ran, counted on a drained bus
    * with AQE off: a round's plan then runs as ONE job (AQE submits
    * each shuffle stage as a job of its own), so the count is exact. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try withConf("spark.sql.adaptive.enabled", "false") {
      GraftBus.drain(spark.sparkContext)
      val before = jobs.get()
      val out = f
      GraftBus.drain(spark.sparkContext)
      (out, jobs.get() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `f` fails at its round cap, naming `op` and the cap. */
  private def failsAtCap(op: String, cap: Int)(f: => Any): Unit = {
    val ex = intercept[IllegalStateException](f)
    assert(ex.getMessage.startsWith(s"$op: not converged within its " +
      s"cap of $cap rounds"), ex.getMessage)
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
    val byRows = Rounds.untilStable("test", nums, 10) { cur =>
      steps += 1
      cur.filter(col("v") < 3)
    }
    // 5 rows → 2 rows → 2 rows: stable on the second step
    assert(steps === 2)
    assert(byRows.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    steps = 0
    val bySum = Rounds.untilStable("test", nums, 10,
        Some(coalesce(sum(col("v")), lit(0L)))) { cur =>
      steps += 1
      cur.select(least(col("v"), lit(3L)).as("v"))
    }
    // the row count never moves; Σ goes 15 → 12 → 12
    assert(steps === 2)
    assert(bySum.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 3L, 3L))
    steps = 0
    val empty = Rounds.untilStable("test", nums.filter(col("v") < 0), 10) {
      cur => steps += 1; cur
    }
    assert(steps === 0 && empty.isEmpty)
  }

  test("Rounds.untilStable: at the cap it throws, naming the operator " +
      "and the cap") {
    val nums = spark.range(1, 6).select(col("id").as("v"))
    var steps = 0
    val ex = intercept[IllegalStateException] {
      Rounds.untilStable("someOp", nums, 3,
          Some(coalesce(sum(col("v")), lit(0L)))) { cur =>
        steps += 1
        cur.select((col("v") + 1).as("v"))
      }
    }
    assert(steps === 3)
    assert(ex.getMessage.startsWith("someOp: not converged within its " +
      "cap of 3 rounds"), ex.getMessage)
  }

  test("Rounds.repeat: runs exactly the given rounds and leaves init " +
      "unmaterialized") {
    val nums = spark.range(1, 6).select(col("id").as("v"))
    var steps = 0
    val (out, n) = jobsOf(Rounds.repeat(nums, 3) { cur =>
      steps += 1
      cur.select((col("v") * 2).as("v"))
    })
    // one checkpoint job per round, none for init
    assert(steps === 3 && n === 3, s"$steps steps, $n jobs")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(8L, 16L, 24L, 32L, 40L))
  }

  test("kCore runs exactly one Spark job per peel round (plus the start " +
      "checkpoint): the edge count rides each round's checkpoint") {
    import spark.implicits._
    // a triangle with a three-edge tail: k = 2 peels one tail edge per
    // round, leaving the triangle
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("a", "b")
    val (core, n) = jobsOf(graft.ops.Graph.kCore(e, col("a"), col("b"), k = 2))
    // 6 → 5 → 4 → 3 edges, then 3 again: four peel rounds
    assert(n === 1 + 4, s"kCore took $n jobs")
    assert(core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("ssspBellmanFord runs one Spark job per relaxation round and " +
      "stops on the first round that improves nothing") {
    import spark.implicits._
    // path 1 → 2 → 3 → 4 from source 1: rounds 1-3 each reach one new
    // node, round 4 improves nothing
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 0.5))
      .toDF("s", "t", "w")
    val src = Seq(Tuple1(1L)).toDF("id")
    // broadcast joins off: a broadcast exchange runs a job of its own
    def run(rounds: Int) =
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        jobsOf(graft.ops.Graph.ssspBellmanFord(e, col("s"), col("t"),
            col("w"), src, col("id"), rounds)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      }
    val (one, n1) = run(1)
    val (two, n2) = run(2)
    val (all, n10) = run(10)
    assert(one == Map(1L -> 0.0, 2L -> 1.0))
    assert(two == Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0))
    assert(all == Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0, 4L -> 3.5))
    // one job per round; rounds = 10 stops after round 4
    assert(n2 - n1 === 1, s"$n1 jobs at 1 round, $n2 at 2")
    assert(n10 - n1 === 3, s"$n1 jobs at 1 round, $n10 at 10")
  }

  test("capped fixpoints fail loudly: past the cap they throw, exactly " +
      "at the cap they return") {
    import spark.implicits._
    import graft.ops.{Dedup, Graph}
    def pairs(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a triangle with a three-edge tail path: 6 → 5 → 4 → 3 edges, then
    // 3 again — four peel rounds for k = 2
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("a", "b")
    val tri = Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    assert(pairs(Graph.kCore(tail, col("a"), col("b"), k = 2,
      maxIters = 4)) == tri)
    failsAtCap("kCore", 3)(Graph.kCore(tail, col("a"), col("b"), k = 2,
      maxIters = 3))
    val wtail = tail.withColumn("w", lit(1L))
    assert(pairs(Graph.kCoreWeighted(wtail, col("a"), col("b"), col("w"),
      k = 2, maxIters = 4)) == tri)
    failsAtCap("kCoreWeighted", 3)(Graph.kCoreWeighted(wtail, col("a"),
      col("b"), col("w"), k = 2, maxIters = 3))
    // k = 4 on the band {(i, i+d) : d ∈ {1, 3, 4}} over 1..10 peels
    // inward from both ends for three rounds (the fourth changes
    // nothing); a separate K4 on 100..103 is the surviving truss
    val band = for (i <- 1L to 10L; d <- Seq(1L, 3L, 4L) if i + d <= 10L)
      yield (i, i + d)
    val k4 = for (a <- 100L to 103L; b <- a + 1 to 103L) yield (a, b)
    val truss = (band ++ k4).toDF("a", "b")
    val kept = Graph.kTruss(truss, col("a"), col("b"), k = 4, maxIters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kept == k4.map { case (a, b) => (a, b, 2L) }.toSet)
    failsAtCap("kTruss", 3)(Graph.kTruss(truss, col("a"), col("b"), k = 4,
      maxIters = 3))
    // path 1-…-8: min labels with path halving settle in three rounds,
    // the fourth confirms
    val path8 = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    assert(pairs(Dedup.duplicateClusters(path8, col("a"), col("b"),
      maxIters = 4)) == (1L to 8L).map(_ -> 1L).toMap)
    failsAtCap("duplicateClusters", 3)(Dedup.duplicateClusters(path8,
      col("a"), col("b"), maxIters = 3))
    // the directed 5-cycle: min labels travel one hop per round, four
    // rounds each way, the fifth confirms
    val cyc = ((1L to 4L).map(i => (i, i + 1)) :+ (5L -> 1L)).toDF("a", "b")
    assert(pairs(Graph.stronglyConnectedComponents(cyc, col("a"), col("b"),
      maxRounds = 5)) == (1L to 5L).map(_ -> 1L).toMap)
    failsAtCap("stronglyConnectedComponents", 4)(
      Graph.stronglyConnectedComponents(cyc, col("a"), col("b"),
        maxRounds = 4))
    // the directed path 1 → … → 5 is a DAG exactly 4 deep: rounds = 4
    // passes, rounds = 3 fails at its cap of 3 + 1 rounds
    val dag = (1L to 4L).map(i => (i, i + 1)).toDF("a", "b")
    assert(pairs(Graph.topoLayers(dag, col("a"), col("b"), rounds = 4)) ==
      (1L to 5L).map(i => i -> (i - 1)).toMap)
    failsAtCap("topoLayers", 4)(Graph.topoLayers(dag, col("a"), col("b"),
      rounds = 3))
  }
}
