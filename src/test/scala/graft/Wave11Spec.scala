package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 third wave: semantic pins for the new graph-quality +
  * inference + sketch ops (q373–q379). The oracle replays each op's
  * iteration bit-for-bit, so these specs pin what the oracle cannot:
  * convergence to the TRUE answer (core numbers vs a brute-force
  * peel), hand-computed closed forms (conductance, harmonic, MK,
  * log-rank), and the sketch's order-independence. */
class Wave11Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("coreNumbers: h-index iteration converges to the true core " +
      "numbers of a K4 with a tail (brute-force-peel ground truth)") {
    import spark.implicits._
    // K4 on 1..4 (coreness 3) + path 4-5-6-7 (coreness 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val got = graft.ops.Graph.coreNumbers(edges, col("a"), col("b"),
        rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 1L)
    assert(got == expected, s"got $got")
  }

  test("coreNumbers: two triangles joined by a bridge — bridge " +
      "endpoints keep coreness 2, and extra rounds are idempotent") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("a", "b")
    def run(r: Int) = graft.ops.Graph.coreNumbers(edges, col("a"),
        col("b"), rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val g8 = run(8)
    assert(g8 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L,
      5L -> 2L, 6L -> 2L), s"got $g8")
    assert(run(12) == g8, "converged rounds must be idempotent")
  }

  test("communityConductance: hand-computed phi on two triangles " +
      "joined by one cut edge") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("a", "b")
    val asg = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (4L, 200L), (5L, 200L), (6L, 200L)).toDF("id", "cm")
    val got = graft.ops.Graph.communityConductance(edges, col("a"),
        col("b"), asg, col("id"), col("cm"))
      .orderBy("community").collect()
    // m = 7; each side: vol = 7, inn = 3, cut = 1,
    // phi = 1 / min(7, 14-7) = 0.1429
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getLong(1) == 7L && r.getLong(2) == 3L &&
        r.getLong(3) == 1L && r.getDouble(4) == 0.1429, r.toString)
    }
  }

  test("communityConductance: unassigned nodes become singletons; " +
      "negative ids fail fast") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val asg = Seq((1L, 10L), (2L, 10L)).toDF("id", "cm")
    val got = graft.ops.Graph.communityConductance(edges, col("a"),
        col("b"), asg, col("id"), col("cm"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // m = 2. C10: vol 3 (deg1=1, deg2=2), inn 1, cut 1,
    // phi = 1/min(3,1) = 1.0; singleton -4: vol 1, inn 0, cut 1,
    // phi = 1/min(1,3) = 1.0
    assert(got(10L) == ((3L, 1L, 1L, 1.0)) &&
      got(-4L) == ((1L, 0L, 1L, 1.0)), got.toString)
    val neg = Seq((-1L, 2L)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.communityConductance(neg, col("a"), col("b"),
        asg, col("id"), col("cm")).collect()
    }
    assert(ex.getMessage.contains("negative node id"), ex.getMessage)
  }

  test("harmonicCentrality: path graph, two sources, exact " +
      "micro-unit sums") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val sources = Seq(1L, 5L).toDF("src")
    val got = graft.ops.Graph.harmonicCentrality(edges, col("a"),
        col("b"), sources, col("src"), maxDepth = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // from 1: d(2)=1 d(3)=2 d(4)=3 d(5)=4; from 5 symmetric
    assert(got == Map(
      1L -> ((1L, 250000L)), 2L -> ((2L, 1333333L)),
      3L -> ((2L, 1000000L)), 4L -> ((2L, 1333333L)),
      5L -> ((1L, 250000L))), got.toString)
  }

  test("mannKendall: monotone series (no ties) and tied series match " +
      "the closed form; duplicate order values fail fast") {
    import spark.implicits._
    val df = Seq(
      ("up", 1L, 1.0), ("up", 2L, 2.0), ("up", 3L, 3.0),
      ("up", 4L, 4.0), ("up", 5L, 5.0),
      ("tied", 1L, 1.0), ("tied", 2L, 2.0), ("tied", 3L, 2.0),
      ("tied", 4L, 3.0)).toDF("k", "o", "v")
    val got = graft.ops.Experiment.mannKendall(df, col("k"), col("o"),
        col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    // up: n=5, S=10, var = 5*4*15/18 = 16.6667,
    //     z = 9/sqrt(16.6667) = 2.2045 -> trending
    assert(got("up") == ((5L, 10L, 16.6667, 2.2045, true)),
      got("up").toString)
    // tied: n=4, S=5, tcorr = 2*1*9 = 18,
    //       var = (156-18)/18 = 7.6667, z = 4/sqrt(7.6667) = 1.4446
    assert(got("tied") == ((4L, 5L, 7.6667, 1.4446, false)),
      got("tied").toString)
    val dup = Seq(("a", 1L, 1.0), ("a", 1L, 2.0)).toDF("k", "o", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Experiment.mannKendall(dup, col("k"), col("o"),
        col("v")).collect()
    }
    assert(ex.getMessage.contains("duplicate order"), ex.getMessage)
    // single-point keys emit the no-evidence row instead of vanishing
    // (advisor r13): one row per key, zeros everywhere
    val single = Seq(("lone", 1L, 7.0), ("up", 1L, 1.0), ("up", 2L, 2.0))
      .toDF("k", "o", "v")
    val sm = graft.ops.Experiment.mannKendall(single, col("k"),
        col("o"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(sm("lone") == ((1L, 0L, 0.0, 0.0, false)), sm("lone").toString)
    assert(sm.contains("up") && sm.size == 2)
    // and the seasonal variant with all-singleton phases does the same
    val sk = graft.ops.Experiment.seasonalMannKendall(
        Seq(("lone", 1L, 7.0)).toDF("k", "o", "v"), col("k"), col("o"),
        pmod(col("o"), lit(2L)), col("v")).head()
    assert(sk.getString(0) == "lone" && sk.getLong(1) == 1L &&
      sk.getLong(2) == 0L && sk.getDouble(4) == 0.0 &&
      !sk.getBoolean(5), sk.toString)
  }

  test("logRankTest: hand-computed two-group example (early vs late " +
      "events) matches O/E/V and the chi-square call") {
    import spark.implicits._
    // A (g=false): events at 1,1,2; B (g=true): events at 3,3,3
    val subj = Seq((1L, true, false), (1L, true, false),
      (2L, true, false), (3L, true, true), (3L, true, true),
      (3L, true, true)).toDF("dur", "obs", "g")
    val r = graft.ops.Experiment.logRankTest(subj, col("dur"),
      col("obs"), col("g")).head()
    // t=1: d=2 n1=3 n=6: E+=1,    V += 2*(1/2)(1/2)(4/5) = 0.4
    // t=2: d=1 n1=1 n=4: E+=0.25, V += (1/4)(3/4)(3/3)   = 0.1875
    // t=3: d=3 n1=0 n=3: E+=0,    V += 0
    // O1=3, E1=1.25, V=0.5875, chi2 = 1.75^2/0.5875 = 5.2128
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L &&
      r.getLong(2) == 3L && r.getDouble(3) == 1.25 &&
      r.getDouble(4) == 0.5875 && r.getDouble(5) == 5.2128 &&
      r.getBoolean(6), r.toString)
  }

  test("linkPredictionScores: hand-computed candidates on a chorded " +
      "square with a tail — edges excluded, exact basis points") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L),
      (4L, 5L)).toDF("a", "b")
    val got = graft.ops.Graph.linkPredictionScores(edges, col("a"),
        col("b"), minCommon = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // (2,4): cn {1,3} = 2, deg 2+3 -> 20000/3 = 6666
    // (1,5)/(3,5): cn {4} = 1, deg 3+1 -> jacc 1/3 -> 3333
    // (1,3) is an EDGE -> excluded despite cn 2
    assert(got == Map((2L, 4L) -> ((2L, 6666L)),
      (1L, 5L) -> ((1L, 3333L)), (3L, 5L) -> ((1L, 3333L))),
      got.toString)
  }

  test("seasonalDecompose: exact additive fixture (trend t+1, " +
      "seasonal (2,-1,-1)) recovers zero residuals; duplicate t " +
      "fails fast") {
    import spark.implicits._
    val v = Seq(3L, 1L, 2L, 6L, 4L, 5L, 9L, 7L, 8L)
    val df = v.zipWithIndex.map { case (x, t) => (t.toLong, x) }
      .toDF("t", "v")
    val got = graft.ops.Temporal.seasonalDecompose(df, col("t"),
        col("v"), period = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    assert(got.length == 9)
    // edges: no full window -> trend/resid null, seasonal per phase
    assert(got(0) == ((0L, 3L, None, 2.0, None)), got(0).toString)
    assert(got(8) == ((8L, 8L, None, -1.0, None)), got(8).toString)
    // interior: trend = t+1, seasonal exact, resid exactly 0
    (1 to 7).foreach { t =>
      val s = if (t % 3 == 0) 2.0 else -1.0
      assert(got(t) == ((t.toLong, v(t), Some(t + 1.0), s, Some(0.0))),
        got(t).toString)
    }
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("t", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Temporal.seasonalDecompose(dup, col("t"), col("v"),
        period = 3).collect()
    }
    assert(ex.getMessage.contains("duplicate t"), ex.getMessage)
  }

  test("seasonalMannKendall: within-phase pairs only, integer " +
      "variance numerator summed across phases (hand-computed)") {
    import spark.implicits._
    // phase 0: values 1,2,3 (S=3, var_num=66);
    // phase 1: 5,5,4 (S=-2, tie pair -> var_num=48)
    val df = Seq(("a", 0L, 1.0), ("a", 2L, 2.0), ("a", 4L, 3.0),
      ("a", 1L, 5.0), ("a", 3L, 5.0), ("a", 5L, 4.0)).toDF("k", "o", "v")
    val r = graft.ops.Experiment.seasonalMannKendall(df, col("k"),
      col("o"), pmod(col("o"), lit(2L)), col("v")).head()
    // S=1, var = 114/18 = 6.3333, z = (1-1)/sqrt(...) = 0
    assert(r.getString(0) == "a" && r.getLong(1) == 6L &&
      r.getLong(2) == 1L && r.getDouble(3) == 6.3333 &&
      r.getDouble(4) == 0.0 && !r.getBoolean(5), r.toString)
  }

  test("cmhTest: two hand-computed strata + one degenerate stratum " +
      "(dropped and counted); exact sums, chi2, and MH odds ratio") {
    import spark.implicits._
    // stratum 1: T 3/2 success, C 3/1 -> E 1.5 V 0.45 ad/T 2/3 bc/T 1/6
    // stratum 2: T 2/2,        C 2/0 -> E 1.0 V 1/3  ad/T 1   bc/T 0
    // stratum 9: single row -> dropped
    val rows =
      Seq((1, true, true), (1, true, true), (1, true, false),
        (1, false, true), (1, false, false), (1, false, false),
        (2, true, true), (2, true, true),
        (2, false, false), (2, false, false),
        (9, true, true))
    val r = graft.ops.Experiment.cmhTest(rows.toDF("st", "t", "s"),
      col("st"), col("t"), col("s")).head()
    // chi2 = 1.5^2 / (47/60) = 135/47 = 2.8723; OR = (5/3)/(1/6) = 10
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L &&
      r.getLong(2) == 10L && r.getLong(3) == 4L &&
      r.getDouble(4) == 2.5 && r.getDouble(5) == 0.7833 &&
      r.getDouble(6) == 2.8723 && r.getDouble(7) == 10.0 &&
      !r.getBoolean(8), r.toString)
  }

  test("changePointSplit: exact step series splits at the step with " +
      "the full SSE as gain; duplicate t fails fast") {
    import spark.implicits._
    val df = Seq(1L, 1L, 1L, 1L, 5L, 5L, 5L).zipWithIndex
      .map { case (v, t) => (t.toLong, v) }.toDF("t", "v")
    val r = graft.ops.Temporal.changePointSplit(df, col("t"), col("v"))
      .head()
    // sse_total = 79 - 361/7 = 27.4286; both halves fit exactly
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L &&
      r.getLong(2) == 3L && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 5.0 && r.getDouble(5) == 27.4286, r.toString)
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("t", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Temporal.changePointSplit(dup, col("t"), col("v"))
        .collect()
    }
    assert(ex.getMessage.contains("duplicate t"), ex.getMessage)
  }

  test("per-series window ops: maxGrains backstop fails loudly on a " +
      "fine-grain feed instead of building a giant single-task sort " +
      "(round-13 verdict ask #5)") {
    import spark.implicits._
    val fine = (0L until 10L).map(t => (t, t % 3)).toDF("t", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Temporal.changePointSplit(fine, col("t"), col("v"),
        maxGrains = 5L)
    }
    assert(ex.getMessage.contains("maxGrains") &&
      ex.getMessage.contains("coarser grain"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      graft.ops.Temporal.seasonalDecompose(fine, col("t"), col("v"),
        period = 3, maxGrains = 5L)
    }
    assert(ex2.getMessage.contains("seasonalDecompose") &&
      ex2.getMessage.contains("maxGrains"), ex2.getMessage)
    // at the default knob the same feed passes (guard, not behavior)
    assert(graft.ops.Temporal.changePointSplit(fine, col("t"), col("v"))
      .count() == 1L)
  }

  test("didEstimate: four hand-computed cells and the " +
      "parallel-trends difference") {
    import spark.implicits._
    val units = Seq(
      (false, false, 1.0), (false, false, 3.0), // c_pre mean 2
      (false, true, 2.0), (false, true, 4.0),   // c_post mean 3
      (true, false, 5.0),                       // t_pre mean 5
      (true, true, 10.0), (true, true, 4.0))    // t_post mean 7
      .toDF("g", "p", "v")
    val r = graft.ops.Experiment.didEstimate(units, col("g"),
      col("p"), col("v")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L &&
      r.getLong(2) == 1L && r.getLong(3) == 2L &&
      r.getDouble(4) == 2.0 && r.getDouble(5) == 3.0 &&
      r.getDouble(6) == 5.0 && r.getDouble(7) == 7.0 &&
      r.getDouble(8) == 1.0, r.toString) // (7-5) - (3-2)
  }

  test("topoLayers: diamond DAG longest-path layers; cycles and " +
      "under-provisioned rounds fail fast via the extra-round check") {
    import spark.implicits._
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = graft.ops.Graph.topoLayers(dag, col("a"), col("b"),
        rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      5L -> 3L), got.toString)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      graft.ops.Graph.topoLayers(cyc, col("a"), col("b"), rounds = 5)
    }
    assert(ex.getMessage.contains("not converged"), ex.getMessage)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val ex2 = intercept[IllegalStateException] {
      graft.ops.Graph.topoLayers(path, col("a"), col("b"), rounds = 2)
    }
    assert(ex2.getMessage.contains("not converged"), ex2.getMessage)
  }

  test("stronglyConnectedComponents: triangles + one-way bridge, " +
      "shared-node figure eight, DAG singletons; maxPhases is loud") {
    import spark.implicits._
    def run(e: Seq[(Long, Long)], phases: Int = 10) =
      graft.ops.Graph.stronglyConnectedComponents(e.toDF("a", "b"),
          col("a"), col("b"), maxPhases = phases)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two 3-cycles, one-way bridge: two SCCs, min-member labels
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    // figure eight sharing node 2: all mutually reachable
    assert(run(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // DAG path: every node its own SCC — the TRIM loop finalizes the
    // whole chain inside phase 1 (no fw/bw fixpoint needed)
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      phases = 1) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    // a chain of NON-TRIVIAL SCCs still costs a phase per link —
    // the documented loud bound (trim can't touch cycle nodes)
    val chain = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L),
      (5L, 6L), (6L, 5L), (2L, 3L), (4L, 5L))
    assert(run(chain, phases = 3) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
    val ex = intercept[IllegalArgumentException] {
      run(chain, phases = 2)
    }
    assert(ex.getMessage.contains("maxPhases"), ex.getMessage)
  }

  test("effectSizes: hand-computed d, small-sample g, and tie-aware " +
      "Cliff's delta") {
    import spark.implicits._
    // arm0 = (1,2,3): mu 2 v 1; arm1 = (2,4,6): mu 4 v 4
    // sp = sqrt(2.5), d = 2/sp = 1.2649, J = 1 - 3/15 = 0.8,
    // g = 1.0119; U = 7.5 (one tie at 2) -> delta = 15/9 - 1 = 0.6667
    val units = Seq((0, 1.0), (0, 2.0), (0, 3.0),
      (1, 2.0), (1, 4.0), (1, 6.0)).toDF("arm", "m")
    val r = graft.ops.Experiment.effectSizes(units, col("arm"),
      col("m")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L &&
      r.getDouble(2) == 2.0 && r.getDouble(3) == 4.0 &&
      r.getDouble(4) == 1.2649 && r.getDouble(5) == 1.0119 &&
      r.getDouble(6) == 0.6667, r.toString)
  }

  test("kAnonymityReport: under-k and under-l groups flag " +
      "independently; compliant groups are excluded") {
    import spark.implicits._
    // group A: n=3 (under k=3? no, k=3 means <3) but l-violating
    //          (1 distinct sensitive of l=2)
    // group B: n=2 -> under_k; 2 distinct -> l ok
    // group C: n=3, 2 distinct -> compliant, excluded
    val df = Seq(
      ("A", 1, "x"), ("A", 1, "x"), ("A", 1, "x"),
      ("B", 1, "x"), ("B", 1, "y"),
      ("C", 1, "x"), ("C", 1, "y"), ("C", 1, "x")).toDF("q1", "q2", "s")
    val got = graft.ops.Curation.kAnonymityReport(df,
        Seq("g" -> col("q1"), "g2" -> col("q2")), col("s"),
        k = 3, l = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))
      .toMap
    assert(got == Map(
      "A" -> ((3L, 1L, false, true)),
      "B" -> ((2L, 2L, true, false))), got.toString)
  }

  test("amsF2: estimate is order-independent, n_rows/k are exact, " +
      "and f2_sum replays the md5 signs computed locally") {
    import spark.implicits._
    val vals = (1 to 200).map(i => s"key${i % 7}")
    val df = vals.toDF("v")
    def f2sum(d: org.apache.spark.sql.DataFrame): BigDecimal = {
      val r = graft.ops.Scale.amsF2(d, col("v"), k = 4).head()
      assert(r.getLong(0) == 200L && r.getLong(1) == 4L)
      BigDecimal(r.getDecimal(2))
    }
    val base = f2sum(df)
    assert(base == f2sum(df.repartition(7).sortWithinPartitions("v")),
      "sign sums must be order/partitioning independent")
    // local replay of the identical md5 sign draw (zero-padded j —
    // the injective seed encoding, advisor r13)
    val expected = (1 to 4).map { j =>
      val z = vals.map(v =>
        if (graft.expr.PortableHash.hex15(f"$j%02d:$v") % 2 == 0) 1L
        else -1L).sum
      BigDecimal(z) * BigDecimal(z)
    }.sum
    assert(base == expected, s"got $base expected $expected")
  }
}
