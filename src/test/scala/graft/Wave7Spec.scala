package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, Experiment, Profile, TextAnalysis}

/** Round-10 seventh wave against hand-computed fixtures: out-of-fold
  * target encoding, quantile normalization, mutual information, SGNS
  * skip-gram pairs with deterministic unigram negatives. */
class Wave7Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("targetEncode: out-of-fold means, smoothing, single-fold cat") {
    import spark.implicits._
    // cat A: rows (id1, f0, y1), (id2, f0, y0), (id3, f1, y1);
    // cat B: one row (id4, f0, y0). gm = 2/4 = 0.5, smoothing 2.
    val df = Seq((1L, "A", 1L, 0L), (2L, "A", 0L, 0L), (3L, "A", 1L, 1L),
      (4L, "B", 0L, 0L)).toDF("id", "cat", "y", "fold")
    val got = Curation.targetEncode(df, col("id"), col("cat"), col("y"),
        col("fold"), smoothing = 2.0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(3)))
    // id1/id2 (A, f0): (2-1 + 2*0.5)/(3-2 + 2) = 2/3
    // id3 (A, f1): (2-1 + 1)/(3-1 + 2) = 0.5
    // id4 (B, f0): own fold removed entirely → pure prior
    //   (0-0+1)/(1-1+2) = 0.5
    assert(got.toSeq == Seq((1L, 0.6667), (2L, 0.6667), (3L, 0.5),
      (4L, 0.5)))
  }

  test("quantileNormalize: groups map onto the pooled distribution") {
    import spark.implicits._
    val df = Seq((1L, "g1", 1.0), (2L, "g1", 2.0), (3L, "g1", 3.0),
      (4L, "g2", 4.0), (5L, "g2", 5.0), (6L, "g2", 6.0))
      .toDF("id", "grp", "v")
    val got = Profile.quantileNormalize(df, col("id"), col("grp"),
        col("v")).orderBy("id").collect().map(_.getDouble(3))
    // pooled sorted [1..6], N=6: within-group p ∈ {0, .5, 1} →
    // positions {0, 2.5, 5} → values {1.0, 3.5, 6.0} for BOTH groups
    assert(got.toSeq == Seq(1.0, 3.5, 6.0, 1.0, 3.5, 6.0))
    // a singleton group maps to the pooled median position
    val single = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 99.0))
      .toDF("id", "grp", "v")
    val s = Profile.quantileNormalize(single, col("id"), col("grp"),
        col("v")).orderBy("id").collect().map(_.getDouble(3))
    // pooled [10, 20, 99]; singleton p=0.5 → position 1.0 → 20.0
    assert(s(2) == 20.0)
  }

  test("mutualInformation: identity saturates, independence zeroes") {
    import spark.implicits._
    val same = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("y", "y"))
      .toDF("a", "b")
    val r1 = Experiment.mutualInformation(same, col("a"), col("b"))
      .collect()(0)
    assert(r1.getLong(0) == 4 && r1.getDouble(3) == 0.6931) // ln 2
    assert(r1.getDouble(4) == 1.0)
    val indep = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val r2 = Experiment.mutualInformation(indep, col("a"), col("b"))
      .collect()(0)
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0)
  }

  test("sgnsPairs: window pairs, vocab gate, md5 unigram negatives") {
    import spark.implicits._
    val docs = Seq("a b a b a").toDF("text")
    val got = TextAnalysis.sgnsPairs(docs, col("text"), window = 1,
        minCount = 1, negatives = 2)
      .orderBy("center", "context", "j").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getString(4)))
    // adjacent pairs both directions: (a,b)×4 and (b,a)×4
    assert(got.map(t => (t._1, t._2, t._3)).distinct.toSeq ==
      Seq(("a", "b", 4L), ("b", "a", 4L)))
    // negatives replay the md5 span lookup: counts a=3, b=2 → spans
    // a=[0,3), b=[3,5), total 5
    def negOf(c: String, x: String, j: Int): String = {
      val r = graft.expr.PortableHash.hex15(
        c + "\u0001" + x + "\u0001" + j) % 5
      if (r < 3) "a" else "b"
    }
    got.foreach { case (c, x, _, j, neg) =>
      assert(neg == negOf(c, x, j), s"($c,$x,$j)")
    }
    // rare words drop out of both pair endpoints
    val gated = TextAnalysis.sgnsPairs(docs, col("text"), window = 1,
      minCount = 3, negatives = 1)
    assert(gated.collect().isEmpty) // only 'a' survives; no pair
  }

  test("holtWintersMultiplicative: hand-computed two-step fold") {
    import spark.implicits._
    import graft.ops.Temporal
    // y = [1, 2], period 2, a=.5 b=.3 g=.4 phi=.9 h=1:
    // base: l=1, b=0, s=[1,1] (own update .4·1+.6·1 = 1)
    // i=1: l=.5·(2/1)+.5·(1+0)=1.5, b=.3·.5=.15, s[1]=.4·(2/1.5)+.6
    // forecast: (1.5+.9·.15)·s[(2+1-1)%2] = 1.635·s[0] = 1.635
    val df = Seq((0L, 1L, 1.0), (0L, 2L, 2.0)).toDF("k", "t", "y")
    val r = Temporal.holtWintersMultiplicative(df, col("k"), col("t"),
        col("t"), col("y"), alpha = 0.5, beta = 0.3, gamma = 0.4,
        period = 2, phi = 0.9, horizon = 1).collect()(0)
    assert(r.getLong(1) == 2 && r.getDouble(2) == 1.5 &&
      r.getDouble(3) == 0.15 && r.getDouble(4) == 1.635)
    // constant positive series: level = c, no trend, forecast = c
    val const = (1 to 9).map(i => (0L, i.toLong, 5.0)).toDF("k", "t", "y")
    val c = Temporal.holtWintersMultiplicative(const, col("k"), col("t"),
        col("t"), col("y"), 0.5, 0.3, 0.4, period = 3).collect()(0)
    assert(c.getDouble(2) == 5.0 && c.getDouble(3) == 0.0 &&
      c.getDouble(4) == 5.0)
  }

  test("pacf: hand-computed Durbin-Levinson on a 4-point series") {
    import spark.implicits._
    import graft.ops.Temporal
    // v = [1,2,3,4]: rho1 = 1.25/5 = .25, rho2 = -1.5/5 = -.3;
    // phi11 = .25; phi22 = (-.3 - .0625)/(1 - .0625) = -.386666…
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0))
      .toDF("t", "v")
    val got = Temporal.pacf(df.withColumn("g", lit("a")), col("t"),
        Seq("g"), col("t"), col("v"), maxLag = 2)
      .orderBy("lag").collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 0.25), (2L, -0.3867)))
    // lag-1 PACF must equal lag-1 ACF on any series
    val acf1 = Temporal.autocorrelation(df.withColumn("g", lit("a")),
        col("t"), Seq("g"), col("t"), col("v"), maxLag = 1)
      .collect()(0).getDouble(3)
    assert(acf1 == 0.25)
  }

  test("sprtTest: first Wald-bound crossings and the continue state") {
    import spark.implicits._
    // wp = ln(.55/.45) ≈ .2007, upper = ln(.8/.05) = ln 16 ≈ 2.7726
    // → 14 straight successes cross; lower = ln(.2/.95) ≈ -1.5581
    // → 8 straight failures cross
    val wins = (1 to 20).map(i => ("A", i.toLong, 1))
    val losses = (1 to 20).map(i => ("B", i.toLong, 0))
    val short = (1 to 3).map(i => ("C", i.toLong, i % 2))
    val df = (wins ++ losses ++ short).toDF("k", "t", "x")
    val got = Experiment.sprtTest(df, col("k"), col("t"), col("t"),
        col("x"), p0 = 0.45, p1 = 0.55, alpha = 0.05, beta = 0.2)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(("A", "accept_h1", 14L),
      ("B", "accept_h0", 8L), ("C", "continue", -1L)))
  }

  test("kTruss: K4 survives k=4, a pendant triangle peels off") {
    import spark.implicits._
    import graft.ops.Graph
    // K4 on {1,2,3,4} (every edge in 2 triangles) + a pendant triangle
    // {4,5,6} whose edges sit in exactly 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val e = (k4 ++ pendant).toDF("a", "b")
    val t4 = Graph.kTruss(e, col("a"), col("b"), k = 4)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t4.map(t => (t._1, t._2)).toSeq == k4)
    assert(t4.forall(_._3 == 2L))
    // k=3 keeps everything (every edge is in ≥ 1 triangle)
    assert(Graph.kTruss(e, col("a"), col("b"), k = 3).count() == 9)
    // k=5 empties this graph
    assert(Graph.kTruss(e, col("a"), col("b"), k = 5).count() == 0)
  }

  test("ssspBellmanFord: two cheap hops beat one heavy edge") {
    import spark.implicits._
    import graft.ops.Graph
    val e = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 2.0),
      (2L, 4L, 1.0)).toDF("s", "t", "w")
    val src = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.ssspBellmanFord(e, col("s"), col("t"), col("w"),
        src, col("id"), rounds = 6)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 0.0), (2L, 3.0), (3L, 1.0), (4L, 4.0)))
    // rounds cap truncates: 1 round cannot see the 2-hop improvement
    val r1 = Graph.ssspBellmanFord(e, col("s"), col("t"), col("w"),
        src, col("id"), rounds = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(r1.toSeq == Seq((1L, 0.0), (2L, 10.0), (3L, 1.0)))
  }

  test("dbscan: core cluster, border attachment, noise") {
    import spark.implicits._
    import graft.ops.Ann
    // tight cluster around origin (5 pts within eps of each other),
    // a border point near the cluster edge, a far noise point
    val pts = Seq(
      (1L, 0.00, 0.00), (2L, 0.01, 0.00), (3L, 0.00, 0.01),
      (4L, -0.01, 0.00), (5L, 0.00, -0.01),
      (6L, 0.105, 0.00), // within eps of pt 2 only → border
      (7L, 5.00, 5.00)) // noise
      .toDF("id", "x", "y")
    val got = Ann.dbscan(pts, col("id"), col("x"), col("y"),
        eps = 0.1, minPts = 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    // pts 1-5 are mutually within eps (counts ≥ 5 incl. self) → core,
    // component min label 1; pt 6 has neighbors {2} → 2 < 5 → border
    // of cluster 1; pt 7 isolated → noise
    assert(got.toSeq == Seq((1L, true, 1L), (2L, true, 1L),
      (3L, true, 1L), (4L, true, 1L), (5L, true, 1L),
      (6L, false, 1L), (7L, false, -1L)))
  }

  test("rakeKeywords: deg/freq scoring, tie order, phrase cap") {
    import spark.implicits._
    // "deep learning of the deep networks" stops {of, the}:
    // phrases "deep learning", "deep networks"; deep deg 4 freq 2,
    // learning/networks deg 2 freq 1 → both phrases score 4, tie
    // breaks on phrase text
    val docs = Seq((1L, "deep learning of the deep networks"))
      .toDF("id", "text")
    val got = TextAnalysis.rakeKeywords(docs, col("id"), col("text"),
        stopwords = Seq("of", "the"), maxPhraseLen = 4, topK = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, "deep learning", 4.0),
      (2L, "deep networks", 4.0)))
    // a run longer than maxPhraseLen drops before statistics
    val long = Seq((1L, "a b c d e of x y"))
      .toDF("id", "text")
    val capped = TextAnalysis.rakeKeywords(long, col("id"), col("text"),
        stopwords = Seq("of"), maxPhraseLen = 4, topK = 5)
      .collect().map(_.getString(2))
    assert(capped.toSeq == Seq("x y")) // "a b c d e" (len 5) capped away
  }

  test("anovaF: hand-computed between/within decomposition") {
    import spark.implicits._
    // arms [1,2,3] / [4,5,6]: SSB 13.5, SSW 4 → F 13.5, η² 27/35
    val u = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("arm", "m")
    val r = Experiment.anovaF(u, col("arm"), col("m")).collect()(0)
    assert(r.getLong(0) == 6 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 13.5)
    assert(r.getLong(3) == 1 && r.getLong(4) == 4)
    assert(r.getDouble(5) == 0.7714)
    // a single arm nulls the F
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("arm", "m")
    assert(Experiment.anovaF(one, col("arm"), col("m"))
      .collect()(0).isNullAt(2))
  }

  test("bhFdr: step-up running minimum, cap at 1") {
    import spark.implicits._
    val h = Seq(("f", "a", 0.01), ("f", "b", 0.04), ("f", "c", 0.03),
      ("g", "x", 0.9)).toDF("fam", "k", "p")
    val got = Experiment.bhFdr(h, col("fam"), col("k"), col("p"))
      .orderBy("family", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3),
        r.getDouble(4)))
    // raw p·N/rank = .03, .045, .04 → tail-min: .03, .04, .04
    assert(got.toSeq == Seq(("f", "a", 1L, 0.03), ("f", "c", 2L, 0.04),
      ("f", "b", 3L, 0.04), ("g", "x", 1L, 0.9)))
  }

  test("mcnemarTest: discordant-pair chi-square with continuity") {
    import spark.implicits._
    // b=3 (1→0), c=1 (0→1): χ² = (|3−1|−1)²/4 = 0.25, not significant
    val p1 = Seq((1, 0), (1, 0), (1, 0), (0, 1), (1, 1), (0, 0))
      .toDF("x", "y")
    val r1 = Experiment.mcnemarTest(p1, col("x"), col("y")).collect()(0)
    assert(r1.getLong(1) == 3 && r1.getLong(2) == 1 &&
      r1.getDouble(3) == 0.25 && !r1.getBoolean(4))
    // b=10, c=0: χ² = 81/10 = 8.1 → significant
    val p2 = (1 to 10).map(_ => (1, 0)).toDF("x", "y")
    val r2 = Experiment.mcnemarTest(p2, col("x"), col("y")).collect()(0)
    assert(r2.getDouble(3) == 8.1 && r2.getBoolean(4))
  }

  test("brownForsythe: equal spreads F=0, unequal spreads hand value") {
    import spark.implicits._
    // same |dev-from-median| profile in both arms → SSB = 0 → F = 0
    val eq = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 11.0), ("b", 12.0), ("b", 13.0)).toDF("arm", "m")
    assert(Experiment.brownForsythe(eq, col("arm"), col("m"))
      .collect()(0).getDouble(2) == 0.0)
    // [0,5,10] (devs 5,0,5) vs [4,5,6] (devs 1,0,1):
    // SSB = 32/3, SSW = 52/3 → F = (32/3)/(52/12) = 2.4615
    val ne = Seq(("a", 0.0), ("a", 5.0), ("a", 10.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("arm", "m")
    val f = Experiment.brownForsythe(ne, col("arm"), col("m"))
      .collect()(0).getDouble(2)
    assert(f == 2.4615, s"got $f")
  }

  test("conformalInterval: the exact order statistic sets the width") {
    import spark.implicits._
    import graft.ops.Classify
    // 9 calibration residuals 1..9 (pred 0); alpha .1 → k = ⌈10·.9⌉ = 9
    // → q = 9; alpha .5 → k = 5 → q = 5
    val rows = (1 to 9).map(i => (i.toLong, 0.0, i.toDouble, true)) :+
      ((100L, 50.0, 0.0, false))
    val df = rows.toDF("id", "pred", "actual", "cal")
    val r1 = Classify.conformalInterval(df, col("id"), col("pred"),
        col("actual"), col("cal"), alpha = 0.1).collect()(0)
    assert(r1.getLong(0) == 100L && r1.getDouble(2) == 41.0 &&
      r1.getDouble(3) == 59.0)
    val r5 = Classify.conformalInterval(df, col("id"), col("pred"),
        col("actual"), col("cal"), alpha = 0.5).collect()(0)
    assert(r5.getDouble(2) == 45.0 && r5.getDouble(3) == 55.0)
  }

  test("frequentEventSequences: distinct-key support vs occurrences") {
    import spark.implicits._
    import graft.ops.Analytics
    val ev = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "a", 3L), (1L, "b", 4L),
      (2L, "a", 5L), (2L, "b", 6L), (2L, "c", 7L))
      .toDF("k", "tp", "t")
    val got = Analytics.frequentEventSequences(ev, col("k"), col("tp"),
        col("t"), col("t"), n = 2, minSupport = 1)
      .orderBy("seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a->b", 2L, 3L), ("b->a", 1L, 1L),
      ("b->c", 1L, 1L)))
    // the support gate
    val gated = Analytics.frequentEventSequences(ev, col("k"), col("tp"),
      col("t"), col("t"), n = 2, minSupport = 2).collect()
    assert(gated.map(_.getString(0)).toSeq == Seq("a->b"))
  }

  test("ipsEstimate: Horvitz-Thompson reweighting, hand value") {
    import spark.implicits._
    // ctx 0: arms a(r=1,3), b(r=10,20), nc=4, na=2 each; policy 0→b:
    // V̂ = (10·2 + 20·2)/4 = 15; logged mean 8.5; 2 matched
    val logs = Seq(("0", "a", 1.0), ("0", "a", 3.0), ("0", "b", 10.0),
      ("0", "b", 20.0)).toDF("ctx", "arm", "r")
    val pol = Seq(("0", "b")).toDF("pc", "pa")
    val r = Experiment.ipsEstimate(logs, col("ctx"), col("arm"),
        col("r"), pol, col("pc"), col("pa")).collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 2 &&
      r.getDouble(2) == 15.0 && r.getDouble(3) == 8.5)
    // a context missing from the policy contributes nothing
    val part = Experiment.ipsEstimate(
      logs.withColumn("ctx", lit("9")), col("ctx"), col("arm"),
      col("r"), pol, col("pc"), col("pa")).collect()(0)
    assert(part.getLong(1) == 0 && part.getDouble(2) == 0.0)
  }

  test("momentsProfile: symmetric data zeroes skew; uniform kurtosis") {
    import spark.implicits._
    // {1,2,3}: mean 2, sample var 1, m2 = 2/3, m3 = 0 → skew 0;
    // m4 = 2/3 → kurt = (2/3)/(4/9) − 3 = 1.5 − 3 = −1.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)).toDF("g", "v")
    val r = Profile.momentsProfile(df, Seq("g"), col("v")).collect()(0)
    assert(r.getLong(1) == 3 && r.getDouble(2) == 2.0 &&
      r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == -1.5)
    // right-skewed data: positive skew
    val sk = Seq(("a", 1.0), ("a", 1.0), ("a", 10.0)).toDF("g", "v")
    assert(Profile.momentsProfile(sk, Seq("g"), col("v"))
      .collect()(0).getDouble(4) > 0)
  }

  test("trimmedMean: the band drops tails, keeps the middle") {
    import spark.implicits._
    // values 1..10, lo .25 / hi .75 → band [3.25, 7.75] keeps 4..7
    val df = (1 to 10).map(i => ("a", i.toDouble)).toDF("g", "v")
    val r = Profile.trimmedMean(df, Seq("g"), col("v"),
      lo = 0.25, hi = 0.75).collect()(0)
    assert(r.getLong(1) == 10 && r.getLong(2) == 4 &&
      r.getDouble(3) == 5.5)
  }

  test("degreeAssortativity: a star is perfectly disassortative") {
    import spark.implicits._
    import graft.ops.Graph
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(star, col("a"), col("b"))
      .collect()(0)
    assert(r.getLong(0) == 3 && r.getDouble(1) == -1.0)
    // constant-degree graph (4-cycle) → undefined r
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    assert(Graph.degreeAssortativity(cyc, col("a"), col("b"))
      .collect()(0).isNullAt(1))
  }

  test("modularity: disjoint triangles score 0.5 under the perfect " +
      "partition, 0 under one community") {
    import spark.implicits._
    import graft.ops.Graph
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val good = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "c")
    val q1 = Graph.modularity(e, col("a"), col("b"), good, col("id"),
      col("c")).collect()(0)
    assert(q1.getLong(0) == 6 && q1.getLong(1) == 2 &&
      q1.getDouble(2) == 0.5)
    val one = good.withColumn("c", lit(0L))
    assert(Graph.modularity(e, col("a"), col("b"), one, col("id"),
      col("c")).collect()(0).getDouble(2) == 0.0)
  }

  test("knnClassify: 1-NN recovers the pair structure") {
    import spark.implicits._
    import graft.ops.Ann
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Ann.knnClassify(emb, col("vec_id"), col("embedding"),
        col("label"), k = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(got.toSeq == Seq((1L, 0L, true), (2L, 0L, true),
      (3L, 1L, true), (4L, 1L, true)))
  }

  test("daviesBouldin: two tight far clusters, hand value 0.2") {
    import spark.implicits._
    import graft.ops.Ann
    val emb = Seq(
      (1L, Seq(0.0, 0.0), 0L), (2L, Seq(2.0, 0.0), 0L),
      (3L, Seq(10.0, 0.0), 1L), (4L, Seq(12.0, 0.0), 1L))
      .toDF("vec_id", "embedding", "label")
    val r = Ann.daviesBouldin(emb, col("vec_id"), col("embedding"),
      col("label")).collect()(0)
    // scatters 1 and 1, centroid distance 10 → DB = 2/10
    assert(r.getLong(0) == 2 && r.getDouble(1) == 0.2)
  }

  test("tfidfSimilarityPairs: identical docs hit 1.0, disjoint drop") {
    import spark.implicits._
    import graft.ops.Keyword
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "z w"))
      .toDF("id", "text")
    val got = Keyword.tfidfSimilarityPairs(docs, col("id"), col("text"),
        maxDf = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 1.0)))
  }

  test("katzCentrality: directed path accumulates attenuated walks") {
    import spark.implicits._
    import graft.ops.Graph
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val got = Graph.katzCentrality(e, col("s"), col("t"),
        alphaPct = 10, iters = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 1: no in-edges → β; 2: β + α·β; 3: β + α·(β + α·β)
    assert(got.toSeq == Seq((1L, 1000000L), (2L, 1100000L),
      (3L, 1110000L)))
  }

  test("betweennessApprox: path deltas, and dead-ends still pass " +
      "their (1+0) term down") {
    import spark.implicits._
    import graft.ops.Graph
    // path 1-2-3-4-5, pivot 1: δ = 3, 2, 1 on the interior
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val piv = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.betweennessApprox(path, col("a"), col("b"), piv,
        col("id"), maxPivots = 1, maxDepth = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((2L, 3.0), (3L, 2.0), (4L, 1.0)))
    // 1-2, 2-3, 3-5, 2-4: node 4 is a level-2 dead-end; without the
    // full-level backward frame, 2's delta would miss 4's (1+0) term
    val de = Seq((1L, 2L), (2L, 3L), (3L, 5L), (2L, 4L)).toDF("a", "b")
    val got2 = Graph.betweennessApprox(de, col("a"), col("b"), piv,
        col("id"), maxPivots = 1, maxDepth = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got2.toSeq == Seq((2L, 3.0), (3L, 1.0)))
  }

  test("betweennessApprox: batched multi-pivot scores equal the sum of " +
      "per-pivot brute-force Brandes, pivots exhausting at uneven depths") {
    import spark.implicits._
    import graft.ops.Graph
    // component A: a diamond 1-{2,3}-4 (σ(4) = 2 from pivot 1) with a
    // tail 4-5-6-7; component B: a triangle 10-11-12 with a leaf 13.
    // Pivots 1, 4, 10 (the 3 smallest candidates) exhaust at depths 5,
    // 3 and 2.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (10L, 11L), (10L, 12L), (11L, 12L), (12L, 13L))
    val pivots = Seq(1L, 4L, 10L)
    val nbr = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    // Brandes from one source: BFS levels with path counts σ, then
    // δ(v) = Σ_{w: succ of v} σ(v)/σ(w)·(1 + δ(w)), deepest level first
    def brandes(p: Long): Map[Long, Double] = {
      val dist = scala.collection.mutable.Map(p -> 0)
      val sigma = scala.collection.mutable.Map(p -> 1L)
      var level = Seq(p)
      val order = scala.collection.mutable.ArrayBuffer(p)
      while (level.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashSet[Long]()
        for (v <- level; w <- nbr(v)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; next += w }
          if (dist(w) == dist(v) + 1) sigma(w) = sigma.getOrElse(w, 0L) + sigma(v)
        }
        level = next.toSeq
        order ++= level
      }
      val delta = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (w <- order.reverse; v <- nbr(w) if dist.get(v).contains(dist(w) - 1))
        delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
      delta.toMap - p
    }
    val want = pivots.flatMap(brandes).groupBy(_._1)
      .map { case (v, ds) => v -> BigDecimal(ds.map(_._2).sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
      .filter(_._2 > 0)
    val piv = Seq(13L, 10L, 4L, 1L).toDF("id")
    val got = Graph.betweennessApprox(edges.toDF("a", "b"), col("a"),
        col("b"), piv, col("id"), maxPivots = 3, maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
    // the fixture exercises what it claims: uneven depths, σ > 1
    assert(want.keySet == Set(2L, 3L, 4L, 5L, 6L, 12L), want.toString)
  }

  test("personalizedPageRank: teleport mass stays on the seed") {
    import spark.implicits._
    import graft.ops.Graph
    val e = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.personalizedPageRank(e, col("s"), col("t"), seeds,
        col("id"), iters = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // r1 = 150000 (seed base, no in-edges); r2 = .85·150000;
    // r3 = .85·127500
    assert(got.toSeq == Seq((1L, 150000L), (2L, 127500L),
      (3L, 108375L)))
  }

  test("nelsonAalen: cumulative hazard sums d/n over event times") {
    import spark.implicits._
    import graft.ops.Analytics
    val subj = Seq((1L, true), (1L, true), (2L, true), (2L, false))
      .toDF("dur", "obs")
    val got = Analytics.nelsonAalen(subj, col("dur"), col("obs"))
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // t1: 2/4 → H .5; t2: + 1/2 → H 1.0
    assert(got.toSeq == Seq((1L, 4L, 2L, 0.5, 0.6065),
      (2L, 2L, 1L, 1.0, 0.3679)))
  }

  test("lorenzCurve: ascending halves split the value mass 15/40") {
    import spark.implicits._
    import graft.ops.Analytics
    val df = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("m")
    val got = Analytics.lorenzCurve(df, col("m"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 5L, 15.0, 0.2727), (2L, 5L, 40.0, 1.0)))
  }

  test("spearmanCorr: monotone pairs hit 1, reversed hit -1, ties") {
    import spark.implicits._
    val mono = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 25.0)).toDF("x", "y")
    assert(Experiment.spearmanCorr(mono, col("x"), col("y"))
      .collect()(0).getDouble(1) == 1.0)
    val rev = Seq((1.0, 9.0), (2.0, 5.0), (3.0, 1.0)).toDF("x", "y")
    assert(Experiment.spearmanCorr(rev, col("x"), col("y"))
      .collect()(0).getDouble(1) == -1.0)
    // constant column → null rho
    val const = Seq((1.0, 7.0), (2.0, 7.0)).toDF("x", "y")
    assert(Experiment.spearmanCorr(const, col("x"), col("y"))
      .collect()(0).isNullAt(1))
  }

  test("cohensKappa: perfect, chance-level, hand-computed values") {
    import spark.implicits._
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("a", "b")
    val p = Experiment.cohensKappa(perfect, col("a"), col("b"))
      .collect()(0)
    assert(p.getDouble(1) == 1.0 && p.getDouble(3) == 1.0)
    val df = (Seq(("y", "y"), ("y", "y"), ("y", "y"), ("y", "n"),
      ("n", "y"), ("n", "n"), ("n", "n"), ("n", "y"))).toDF("a", "b")
    val h = Experiment.cohensKappa(df, col("a"), col("b")).collect()(0)
    // diag = 3 (y,y) + 2 (n,n) = 5; po = .625; margins a{y4,n4},
    // b{y5,n3}: pe = (4·5 + 4·3)/64 = .5 → kappa = .125/.5 = .25
    assert(h.getLong(0) == 8 && h.getDouble(1) == 0.625 &&
      h.getDouble(2) == 0.5 && h.getDouble(3) == 0.25)
  }

  test("edge cases: empty truss input, SGNS partition invariance, " +
      "single-hypothesis BH, betweenness partition invariance") {
    import spark.implicits._
    import graft.ops.{Graph, TextAnalysis => TA}
    // an empty edge list yields an empty truss, no crash
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graph.kTruss(none, col("a"), col("b"), k = 3).count() == 0)
    // SGNS output is partition-invariant (segment join + md5 draws)
    val docs = Seq("a b a b a", "b a b").toDF("text")
    def sg(d: org.apache.spark.sql.DataFrame) =
      TA.sgnsPairs(d, col("text"), window = 1, minCount = 1,
          negatives = 2)
        .orderBy("center", "context", "j").collect().toSeq
    assert(sg(docs) == sg(docs.repartition(5)))
    // a single hypothesis: p_adj = min(p·1/1, 1) = p
    val one = Seq(("f", "k", 0.2)).toDF("fam", "k", "p")
    assert(Experiment.bhFdr(one, col("fam"), col("k"), col("p"))
      .collect()(0).getDouble(4) == 0.2)
    // betweenness is partition-invariant (integer sigma, grouped sums)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val piv = Seq(Tuple1(1L)).toDF("id")
    def bw(e: org.apache.spark.sql.DataFrame) =
      Graph.betweennessApprox(e, col("a"), col("b"), piv, col("id"),
          maxPivots = 1, maxDepth = 3)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
    assert(bw(path) == bw(path.repartition(7)))
  }

  test("vocabularyGrowth: first occurrences drive cumulative types") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a d d"))
      .toDF("id", "text")
    val got = TextAnalysis.vocabularyGrowth(docs, col("id"), col("text"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // doc1 brings {a,b}, doc2 {c}, doc3 {d}
    assert(got.toSeq == Seq((1L, 3L, 2L, 3L, 2L), (2L, 2L, 1L, 5L, 3L),
      (3L, 3L, 1L, 8L, 4L)))
  }
}
