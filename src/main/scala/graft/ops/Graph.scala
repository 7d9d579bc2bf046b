package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Graph algorithms over document-relation edge lists — centrality as a
 * data-selection signal. Over a kNN similarity graph ([[Ann.knnGraph]])
 * PageRank surfaces the corpus's "representative" documents (high
 * in-rank = many documents consider it a near neighbour), the spine a
 * curation pass keeps when it can afford only a fraction of a cluster;
 * over a hyperlink graph it is the classic crawl-frontier prior.
 *
 * Determinism across engines and partitionings is the design center:
 * ranks are integer micro-units (rank × 1e6), per-edge contributions are
 * long divisions, and per-node accumulation is an exact integer sum —
 * order-independent, unlike double accumulation, so the DuckDB oracle
 * replays the iterations bit-for-bit.
 *
 * Scale shape (per iteration): one equi-join edges⋈ranks on `src` — the
 * big static edge frame is checkpointed once, so the upstream never
 * re-runs, but with AQE on a checkpoint keeps no partitioning
 * (MEASUREMENT.md #11) and each round's join exchanges both sides —
 * then one partial-agg-friendly integer sum by `dst`. Each round
 * checkpoints eagerly so the plan stays O(1) deep regardless of
 * iteration count (the [[Dedup.duplicateClusters]] discipline). Every
 * loop round checkpoints through [[Rounds]]: fixed-round loops through
 * [[Rounds.repeat]], fixpoint loops through [[Rounds.untilStable]],
 * whose cap fails loudly — no operator returns a truncated fixpoint.
 */
object Graph {

  /** Damped PageRank by `iters` power iterations in micro-units
    * (init 1.0 per node = 1,000,000).
    *
    *   rank'(v) = (100-dampingPct)/100
    *            + dampingPct/100 · Σ_{u→v} floor(rank(u) / outdeg(u))
    *
    * with integer division at both spots — engine-reproducible. Nodes =
    * src ∪ dst of the edge list; mass through dangling nodes (in-edges
    * only) leaks, the classic simplified SQL formulation — ranks still
    * order centrality, they just don't sum to |V|. Returns
    * `(id, rank_micro)`. This is [[pageRankWeighted]] at w ≡ 1: with
    * unit weights `sw(u)` is the out-degree, so the two agree
    * bit-for-bit. */
  def pageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int = 3, dampingPct: Int = 85): DataFrame =
    pageRankWeighted(edges, srcCol, dstCol, lit(1L), iters, dampingPct)

  /** WEIGHTED damped PageRank — [[pageRank]] with each vote split
    * PROPORTIONAL to integer edge weight instead of evenly:
    *
    *   rank'(v) = (100-dampingPct)/100
    *            + dampingPct/100 · Σ_{u→v} floor(rank(u)·w(u,v) / sw(u))
    *
    * with `sw(u) = Σ out-weight of u` and integer division at both
    * spots (the unweighted op is this one at w ≡ 1 — same
    * engine-reproducible micro-unit discipline, same leak-at-dangling
    * caveat). `rank·w` stays far inside Long for micro-unit ranks and
    * realistic co-occurrence weights (≤ 10⁶·w). Returns
    * `(id, rank_micro)`. */
  def pageRankWeighted(edges: DataFrame, srcCol: Column, dstCol: Column,
      weightCol: Column, iters: Int = 3, dampingPct: Int = 85)
      : DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct is a percentage")
    val e = edges.select(srcCol.cast("long").as("src"),
        dstCol.cast("long").as("dst"), weightCol.cast("long").as("w"))
      .filter(col("w") > 0)
      .localCheckpoint(eager = true)
    val ew = e.join(e.groupBy("src").agg(sum("w").as("sw")), "src")
      .localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(eager = true)
    val base = (100L - dampingPct) * 1000000L / 100L
    Rounds.repeat(nodes.select(col("id"), lit(1000000L).as("rank_micro")),
        iters)(powerStep(ew, nodes, "rank_micro * w div sw",
      s"$base + s * $dampingPct div 100", "rank_micro"))
  }

  /** One round of the PageRank family's power iteration (PageRank,
    * personalized PageRank, Katz): every edge `(src, dst, …)` of
    * `edges` carries `contrib` (SQL over the edge's columns and the
    * source's score row) to `dst`, contributions sum exactly per node,
    * and `update` (SQL over `nodes`' columns and `s`, the node's sum,
    * 0 when nothing arrives) is the node's new score `out`. */
  private def powerStep(edges: DataFrame, nodes: DataFrame,
      contrib: String, update: String, out: String)(scores: DataFrame)
      : DataFrame = {
    val sums = edges.join(scores, edges("src") === scores("id"))
      .select(col("dst"), expr(contrib).as("c"))
      .groupBy("dst").agg(sum("c").as("s"))
    nodes.join(sums, nodes("id") === sums("dst"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .select(col("id"), expr(update).as(out))
  }

  /** WEIGHTED k-core — [[kCore]] with the peel threshold on the
    * weighted degree `Σ w ≥ k` instead of the neighbor count: the
    * dense-backbone extractor when edge multiplicity matters (a
    * co-purchase pair seen 40 times is stronger evidence than 40
    * one-off pairs). Parallel edges sum on entry; same
    * peel-to-fixpoint loop, count-compare termination riding each
    * round's checkpoint. Returns `(id, core_weight)` for the maximal
    * subgraph where every node keeps Σw ≥ k; a peel still moving after
    * `maxIters` rounds throws an `IllegalStateException` naming
    * `kCoreWeighted` and the cap. */
  def kCoreWeighted(edges: DataFrame, srcCol: Column, dstCol: Column,
      weightCol: Column, k: Long, maxIters: Int = 50): DataFrame = {
    require(k >= 1, "kCoreWeighted: k must be >= 1")
    require(maxIters >= 1, "kCoreWeighted: maxIters must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"), weightCol.cast("long").as("w"))
      .filter(col("a") =!= col("b") && col("w") > 0)
    def wdegrees(ed: DataFrame) = ed.select(col("a").as("id"), col("w"))
      .unionAll(ed.select(col("b").as("id"), col("w")))
      .groupBy("id").agg(sum("w").as("wdeg"))
    // peel until no edge leaves: the edge count rides each round's
    // checkpoint job
    val e = Rounds.untilStable("kCoreWeighted", raw
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"), col("w"))
        .groupBy("a", "b").agg(sum("w").as("w")), maxIters) { cur =>
      val keep = wdegrees(cur).filter(col("wdeg") >= k).select(col("id"))
      cur.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"), col("w"))
    }
    wdegrees(e).filter(col("wdeg") >= k)
      .select(col("id"), col("wdeg").as("core_weight"))
  }

  /** Multi-source BFS distances over an undirected edge list — hop
    * counts from a seed set, the graph-locality signal ("how far is
    * this document from the trusted core?") and the standard crawl /
    * contamination-spread radius query. Level-synchronous frontier
    * expansion: round i joins the CURRENT frontier (only — not the
    * whole visited set) to the adjacency, anti-joins what's already
    * reached, and tags the new nodes with distance i. Stops at the
    * first empty frontier or `maxDepth`, whichever is sooner.
    * Output: `(id, dist)` for every node within reach — sources at 0.
    *
    * Scale shape: the adjacency is symmetrized + checkpointed ONCE (the
    * checkpoint keeps no partitioning under AQE, so each round's join
    * re-exchanges it — MEASUREMENT.md #11); per round one equi-join
    * (frontier ⋈ edges), one anti-join (novelty vs the visited set) —
    * both on node ids — and the visited/frontier frames checkpoint
    * O(1)-deep. The frontier-empty test rides the checkpoint
    * materialization. Rounds = graph diameter from the seeds, the
    * BFS lower bound for any engine. */
  def bfsDistances(edges: DataFrame, srcCol: Column, dstCol: Column,
      sources: DataFrame, sourceIdCol: Column,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "bfsDistances: maxDepth must be >= 0")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = raw.unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
      .localCheckpoint(true)
    // NOTE (r15 measured, kept as-was): replacing the per-depth
    // visited re-checkpoint with a lazy union of the per-depth slices
    // looked like a saved job per round but MEASURED SLOWER on deep
    // sweeps (q398 8.1→11.5 s, q404 10.4→12.1 s, clean-window 3-rep
    // A/B; taskSec up ~30% — the anti-join against k fragmented
    // LogicalRDD scans pays more per-task overhead than the one
    // O(|visited|) scan-and-write job it saves). Reverted; q303-class
    // shallow BFS saw only ~0.5 s either way.
    val start = Rounds.checkpoint(sources
      .select(sourceIdCol.cast("long").as("id"))
      .distinct()
      .select(col("id"), lit(0L).as("dist")))
    var visited = start.frame
    var frontier = visited.select(col("id"))
    var depth = 0L
    // the frontier size rides each round's checkpoint job
    var frontierSize = start.rows
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val next = Rounds.checkpoint(frontier.join(adj, col("id") === col("s"))
        .select(col("t").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(depth).as("dist")))
      frontierSize = next.rows
      if (frontierSize > 0)
        visited = Rounds.checkpoint(visited.unionAll(next.frame)).frame
      frontier = next.frame.select(col("id"))
    }
    visited
  }

  /** HITS hub/authority scores (Kleinberg 1999) over a DIRECTED edge
    * list in deterministic integer micro-units — the bipartite-flavored
    * complement to [[pageRank]]: authorities are pointed at by good
    * hubs, hubs point at good authorities. Per iteration:
    * `a_raw(v) = Σ_{u→v} h(u)`, then `a = a_raw·10⁶ div max(a_raw)`
    * (max-normalization in integer division — engine-reproducible,
    * unlike L2), and symmetrically for h. Output:
    * `(id, hub_micro, auth_micro)` for every node, scores in
    * [0, 10⁶], the per-side maximum pinned at exactly 10⁶.
    *
    * Scale shape (the [[pageRank]] discipline): the edge frame is
    * checkpointed once; each iteration is two equi-joins moving only
    * the |V|-sized score frame + two integer-sum aggregations; scores
    * re-checkpoint per round so the plan stays O(1) deep. Overflow
    * bound: `raw·10⁶` needs `max-degree · 10¹²  <  2⁶³` — max degree
    * under ~9·10⁶, documented; past that renormalize in shifted units.
    * Nodes with no in-edges (resp. out-edges) hold authority (hub) 0;
    * mass never leaks because each side renormalizes to its own max. */
  def hits(edges: DataFrame, srcCol: Column, dstCol: Column,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, "hits: need at least one iteration")
    val e = edges.select(srcCol.cast("long").as("src"),
        dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val init = nodes.select(col("id"), lit(1000000L).as("h"),
      lit(1000000L).as("a"))
    val scores = Rounds.repeat(init, iters) { scores =>
      // authorities from hub mass along the edge direction
      val aRaw = e.join(scores.select(col("id"), col("h")),
          e("src") === col("id"))
        .groupBy("dst").agg(sum("h").as("ar"))
      val aTop = aRaw.agg(max("ar").as("am"))
      val withA = Rounds.checkpoint(nodes
        .join(aRaw, nodes("id") === aRaw("dst"), "left")
        .crossJoin(broadcast(aTop))
        .select(nodes("id"),
          coalesce(expr("ar * cast(1000000 as bigint) div am"), lit(0L))
            .as("a"))).frame
      // hubs from the fresh authority mass against the direction
      val hRaw = e.join(withA.select(col("id"), col("a")),
          e("dst") === col("id"))
        .groupBy("src").agg(sum("a").as("hr"))
      val hTop = hRaw.agg(max("hr").as("hm"))
      withA
        .join(hRaw, withA("id") === hRaw("src"), "left")
        .crossJoin(broadcast(hTop))
        .select(withA("id"),
          coalesce(expr("hr * cast(1000000 as bigint) div hm"), lit(0L)).as("h"),
          col("a"))
    }
    scores.select(col("id"), col("h").as("hub_micro"),
      col("a").as("auth_micro"))
  }

  /** Semi-supervised label propagation over an undirected edge list —
    * spread a SMALL seed-label set (human topic tags, trusted domain
    * classes) across a similarity graph: each round, every node takes
    * the MAJORITY label among its labeled neighbors (ties → smallest
    * label), while seed nodes stay clamped to their given label; nodes
    * with no labeled neighbor keep what they have (null until the wave
    * reaches them). FIXED synchronous rounds, not convergence — the
    * replayable-iteration stance ([[pageRank]], [[hits]]): the oracle
    * unrolls the same `iters` rounds exactly. Output: `(id, label)`
    * for every node the propagation has reached.
    *
    * Scale shape (per round): one equi-join moves the |labeled|-sized
    * frame along the checkpointed symmetrized adjacency, one grouped
    * count + an integer max/min argmax resolve the majority — all
    * equi on node ids, labels re-checkpoint O(1)-deep. The argmax is
    * deliberately two-step (max count, then min label at that count)
    * instead of `max_by(struct)` — integer-equality semantics every
    * engine shares. */
  def labelPropagation(edges: DataFrame, srcCol: Column, dstCol: Column,
      seeds: DataFrame, seedIdCol: Column, seedLabelCol: Column,
      iters: Int): DataFrame = {
    require(iters >= 1, "labelPropagation: iters >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = raw.unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
      .localCheckpoint(true)
    val seed = seeds.select(seedIdCol.cast("long").as("id"),
        seedLabelCol.cast("long").as("seed_lbl"))
      .groupBy("id").agg(min("seed_lbl").as("seed_lbl")) // dedupe seeds
      .localCheckpoint(true)
    val nodes = adj.select(col("s").as("id")).distinct()
      .join(seed, Seq("id"), "left")
      .localCheckpoint(true)
    // stats-reset round checkpoints ([[Rounds]]): each round joins the
    // previous round's checkpoint ~3 times, compounding carried
    // sizeInBytes geometrically
    // the label frame CARRIES the static seed label (r16): the former
    // shape re-joined `nodes` every round just to recover seed_lbl —
    // one |V| equi-join per round gone; row set and clamp semantics
    // identical (lbl's id set IS nodes' id set, both static)
    val lbl = Rounds.repeat(nodes.select(col("id"), col("seed_lbl"),
        col("seed_lbl").as("lbl")), iters) { lbl =>
      val votes = adj.join(
          lbl.filter(col("lbl").isNotNull)
            .select(col("id").as("t"), col("lbl")), Seq("t"))
        .groupBy(col("s").as("id"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax in ONE grouped pass (r15): `min(struct(-c, lbl))` is
      // max-count-then-min-label — the former shape checkpointed
      // `votes` and joined a separate max-count frame back, one extra
      // materialization + join per round. `c ≥ 1` so -c cannot
      // overflow.
      val winner = votes.groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("wp"))
        .select(col("id"), col("wp.lbl").as("win"))
      lbl
        .join(winner, Seq("id"), "left")
        .select(col("id"), col("seed_lbl"),
          coalesce(col("seed_lbl"), col("win"), col("lbl")).as("lbl"))
    }
    lbl.filter(col("lbl").isNotNull).select(col("id"), col("lbl").as("label"))
  }

  /** One-level Louvain community detection (Blondel et al. 2008's
    * local-move phase), made DETERMINISTIC and round-synchronous so an
    * unrolled oracle reproduces it: each round every ACTIVE node
    * evaluates moving into each neighbor community and takes the
    * modularity-max move. The gain comparison uses the exact INTEGER
    * score `2m·k_in(i, c) − deg_i·(Σtot(c) − [c = c_i]·deg_i)` — the
    * standard ΔQ ranking multiplied through by 2m², so no floats ever
    * decide a move — with ties broken by smallest community id and a
    * strict `>` over staying. Classic synchronous label updates
    * OSCILLATE (two adjacent nodes with mutual positive gains SWAP
    * communities forever — node-parity scheduling does NOT stop the
    * same-parity case, found by hand-tracing a weighted bridge); the
    * DIRECTION-ALTERNATION schedule does, provably per round: even
    * rounds admit only moves to a SMALLER community id, odd rounds
    * only to a LARGER one (the argmax runs over the allowed direction
    * only), so every within-round move is monotone and a swap cycle
    * cannot close. Communities are labeled by founding node id.
    * Output `(id, community)` after exactly `rounds` rounds
    * (fixed-round replayable stance — converged rounds are
    * idempotent).
    *
    * Scale shape per round: Σtot is one grouped sum over |V|; k_in is
    * one adjacency join + grouped count (the labelPropagation vote
    * shape); the argmax is a per-node bounded window over that node's
    * neighbor communities. Plans stay O(1)-deep via per-round
    * localCheckpoint. The full multi-level Louvain stacks this op:
    * contract communities to super-nodes and re-run — the contraction
    * is a grouped edge rollup, same discipline. */
  /** Loud overflow guard both Louvain levels share: the integer gain
    * score's two products (`2m·k_in` and `deg·tot`) are each bounded
    * by `2m·maxDeg` in absolute value (k_in ≤ deg ≤ maxDeg,
    * tot ≤ 2m), so the score fits a Long iff `2m·maxDeg` does. At
    * extreme scale (m ≈ 10¹² weighted edges with a 10⁷-degree hub)
    * that product exceeds Long.MaxValue and the overflow would FLIP
    * move decisions silently — fail fast with the sizing math
    * instead. One tiny max-agg over the already-checkpointed degree
    * frame. */
  private def guardGainRange(op: String, m: Long, deg: DataFrame): Unit = {
    val maxDeg = deg.agg(coalesce(max("deg"), lit(0L))).head().getLong(0)
    require(m <= Long.MaxValue / 2 &&
      (maxDeg == 0L || 2 * m <= Long.MaxValue / maxDeg),
      s"$op: integer gain score would overflow Long — 2m·maxDeg = " +
        s"2·${m}·${maxDeg} exceeds ${Long.MaxValue}. Rescale edge weights " +
        "(divide by a common factor) or shard the graph so " +
        "2·m·maxDeg <= Long.MaxValue; move decisions under overflow " +
        "would flip silently, so this is a hard stop.")
  }

  /** Shared graph-prep for the UNWEIGHTED Louvain entry points — the
    * round-12 verdict found all four entries building these frames
    * verbatim, so a degree-semantics fix could land in only one.
    * Canonical simple edges → symmetric adjacency (checkpointed — read
    * every round), m = simple edge count (the count rides the
    * checkpoint materialization), degrees. Returns
    * `(adj with w ≡ 1, deg, m)` — exactly [[louvainRounds]]' inputs. */
  private def louvainPrep(edges: DataFrame, srcCol: Column,
      dstCol: Column): (DataFrame, DataFrame, Long) = {
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
    val Rounds.Checkpoint(adj, nDirected, _) = Rounds.checkpoint(
      raw.select(col("a").as("s"), col("b").as("t"))
        .unionAll(raw.select(col("b").as("s"), col("a").as("t"))))
    val m = nDirected / 2 // undirected simple edge count
    val deg = adj.groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    (adj.withColumn("w", lit(1L)), deg, m)
  }

  def louvainOneLevel(edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "louvainOneLevel: rounds >= 1")
    val (adj, deg, m) = louvainPrep(edges, srcCol, dstCol)
    guardGainRange("louvainOneLevel", m, deg)
    louvainRounds(adj, deg, m, rounds, earlyStop = false)
  }

  /** Per-round Louvain assignments — [[louvainOneLevel]] with EVERY
    * round's post-move assignment kept: `(round, id, community)` for
    * round ∈ 1..rounds, the round-`rounds` slice equal to
    * [[louvainOneLevel]]'s output by construction (same loop, same
    * checkpoints). The rounds-as-quality-knob gauge (round-12 verdict
    * ask #2): map each slice through [[modularityNumerator]] and the
    * knee of the Q trajectory — where extra rounds stop paying — is
    * measured and certified in ONE run instead of `rounds` restarts
    * (q363's gauge showed r = 3 leaves ~40 % of the achievable
    * objective on the q361 graph; this is how a higher setting is
    * adjudicated). Cost equals [[louvainOneLevel]] at the same
    * `rounds`: the per-round frames are checkpointed by the loop
    * anyway, the final union is plan-only. */
  def louvainOneLevelTrajectory(edges: DataFrame, srcCol: Column,
      dstCol: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, "louvainOneLevelTrajectory: rounds >= 1")
    val (adj, deg, m) = louvainPrep(edges, srcCol, dstCol)
    guardGainRange("louvainOneLevelTrajectory", m, deg)
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    louvainRounds(adj, deg, m, rounds, earlyStop = false,
      trajectory = Some(buf))
    buf.zipWithIndex.map { case (df, i) =>
      df.select(lit((i + 1).toLong).as("round"), col("id"),
        col("c").as("community"))
    }.reduce(_.unionByName(_))
  }

  /** [[louvainOneLevel]] with a CONVERGED early stop — the production
    * stance (the fixed-round op is the replayable/oracle stance; a
    * converged round is idempotent, so the two agree whenever the
    * fixed round count reaches convergence — the spec pins it). Runs
    * at most `maxRounds` rounds and stops as soon as TWO consecutive
    * rounds move zero nodes: one zero-move round only proves its OWN
    * direction is exhausted (even rounds admit moves to smaller ids,
    * odd to larger), two consecutive cover both directions, which is
    * the direction-alternated fixpoint. The per-round move count is a
    * cheap count over the already-checkpointed assignment (the kCore
    * fixpoint pattern — the checkpoint materializes it anyway).
    *
    * Honest limit (measured, round 12): SYNCHRONOUS local moves do not
    * always reach a zero-move fixpoint — on the dense sf0.01
    * co-purchase graph the schedule PLATEAUS at ~40–70 moves/round
    * indefinitely (replayed to round 60 in DuckDB; simultaneous moves
    * keep re-creating each other's gains — churn, not the swap cycle
    * the direction alternation provably kills; the measured modularity
    * trajectory stays MONOTONE through the churn — PLANS.md round 12 —
    * so it is productive exploration and `rounds` is a pure quality
    * knob with diminishing returns). So `maxRounds` is the
    * real bound on corpus-scale graphs and this variant equals the
    * fixed-round op there by construction; the early stop pays off
    * where a fixpoint EXISTS — sparse graphs, contracted super-graphs,
    * near-converged replays — and the fixed-round stance remains the
    * replayable/oracle contract (PLANS.md round 12). */
  def louvainOneLevelConverged(edges: DataFrame, srcCol: Column,
      dstCol: Column, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "louvainOneLevelConverged: maxRounds >= 1")
    val (adj, deg, m) = louvainPrep(edges, srcCol, dstCol)
    guardGainRange("louvainOneLevelConverged", m, deg)
    louvainRounds(adj, deg, m, maxRounds, earlyStop = true)
  }

  /** The round engine [[louvainOneLevel]] / [[louvainOneLevelWeighted]]
    * and their converged variants share — the weighted local-move loop
    * (the unweighted ops pass w ≡ 1: count(*) ≡ Σw, so the integer
    * scores are bit-identical to the historical unweighted plan).
    * `adj` is the directed weighted adjacency `(s, t, w)` WITHOUT
    * self-loops, `deg` the weighted degrees (loops counted twice by
    * the weighted caller), `m` the total edge weight. With `earlyStop`
    * the loop exits after two consecutive zero-move rounds (both
    * directions exhausted — the fixpoint; see
    * [[louvainOneLevelConverged]]).
    *
    * Memory sizing (round-11 rehearsal lesson — the 100× decade ran
    * ≈1.11 instead of ~0.66 because the per-round joins outgrew
    * execution memory and spilled): each round shuffles the candidate
    * table of ≤ 2·|E| (node, community, kin) rows ≈ 2·|E|·40 B plus
    * the |V|-row tot/assignment frames; size aggregate executor
    * execution memory ≥ 2·|E|·40 B ÷ shuffle partitions per task (for
    * the rehearsal's 100× graph that is the 64 GiB heap BASELINE.md
    * records; on a cluster this is the add-executors regime — round
    * count does not change). Spill degrades throughput, never
    * correctness; the hard cliff (Long overflow of the gain score) is
    * guarded loudly by [[guardGainRange]] instead. */
  private def louvainRounds(adj: DataFrame, deg: DataFrame, m: Long,
      rounds: Int, earlyStop: Boolean,
      trajectory: Option[scala.collection.mutable.ArrayBuffer[DataFrame]]
        = None): DataFrame = {
    // stats-reset checkpoints ([[Rounds]]): each round joins the
    // previous round's checkpoint ~5 times, and plain localCheckpoint
    // CARRIES the origin plan's sizeInBytes — which the stats visitor
    // MULTIPLIES through every inner join, compounding ~5× in DIGIT
    // COUNT per round until the optimizer drowns in million-digit
    // BigInt products (three stacked levels = 9 rounds hung it; found
    // by jstack). AQE re-plans joins from actual shuffle sizes, so
    // dropping the estimates costs nothing at runtime.
    // the round state CARRIES the static degree (r16, guide §2.4): the
    // former shape re-joined `deg` twice per round (once for tot, once
    // for scored) — both |V| equi-joins and their exchanges are gone;
    // deg values are static so the carried column cannot drift (the
    // per-id max in the argmax agg below just passes it through)
    var state = Rounds.checkpoint(
      deg.select(col("id"), col("id").as("c"), col("deg"))).frame
    var zeroStreak = 0
    var r = 0
    while (r < rounds && (!earlyStop || zeroStreak < 2)) {
      val tot = state.groupBy("c").agg(sum("deg").as("tot"))
      val kin = adj
        .join(state.select(col("id").as("t"), col("c")), Seq("t"))
        .groupBy(col("s").as("id"), col("c"))
        .agg(sum("w").as("kin"))
      // candidates = neighbor communities ∪ the node's own community
      // (own kin may be 0 — a singleton's stay-score needs the row).
      // NO dedup aggregation here (r16): the only possible duplicate
      // key is (id, cc) — once from kin when the node has neighbors in
      // its own community, once from the union row at kin = 0 — and
      // the per-id agg below absorbs it: the stay score is monotone
      // increasing in kin (2m ≥ 0), so max(when(c = cc, score)) picks
      // the true-kin row, and the bp argmax never sees c = cc rows
      // (dirOk is a strict inequality). Dropping the groupBy removes
      // one full 2|E|-row shuffle + AQE stage per round.
      val cand = kin
        .unionByName(state.select(col("id"), col("c"), lit(0L).as("kin")))
      val cur = state.select(col("id"), col("c").as("cc"), col("deg"))
      val scored = cand.join(cur, "id")
        .join(tot, "c")
        .select(col("id"), col("c"), col("cc"), col("deg"),
          (lit(2L * m) * col("kin") - col("deg") *
            (col("tot") - when(col("c") === col("cc"), col("deg"))
              .otherwise(lit(0L)))).as("score"))
      // direction alternation: the argmax only sees candidates in the
      // round's allowed direction, so a blocked-direction best can't
      // mask an available positive-gain move
      val dirOk =
        if (r % 2 == 0) col("c") < col("cc") else col("c") > col("cc")
      // best-move argmax + stay score + carried current community in
      // ONE grouped pass (r15 optimization): the former shape
      // materialized `scored`, ranked it with a per-id window
      // (exchange + sort), and joined best/stay back onto `comm` —
      // one extra checkpoint job, one sort and two joins per round.
      // `min(struct(-score, c))` = the window's (score DESC, c ASC)
      // argmax: |score| ≤ 2m·maxDeg ≤ Long.MaxValue by
      // [[guardGainRange]], so the negation cannot overflow. The stay
      // row (id, cc) always exists (cand unions it in; tot covers
      // every non-empty community), so max("cc") rides the same pass
      // and the old `comm` join is redundant. An id with NO
      // dirOk-side candidate aggregates bp = null, and `null > stay`
      // is null → stay, exactly the old left-join-null semantics.
      val agg = scored.groupBy("id").agg(
        min(when(dirOk, struct((-col("score")).as("ns"), col("c"))))
          .as("bp"),
        max(when(col("c") === col("cc"), col("score"))).as("stay_s"),
        max("cc").as("cc"),
        max("deg").as("deg")) // constant per id — carried, not derived
      val updPlan = agg
        .select(col("id"),
          when(-col("bp.ns") > col("stay_s"), col("bp.c"))
            .otherwise(col("cc")).as("c"),
          col("deg"),
          (-col("bp.ns") > col("stay_s")).as("__moved"))
      // diagnostic only: the INTERIOR round plan is invisible to any
      // explain() of the returned frame (each round checkpoints), so
      // the optimization-round evidence (plans/r15) captures round 0
      // here when SPARK_GRAFT_DUMP_INTERIOR is set. Zero cost unset.
      if (r == 0) sys.env.get("SPARK_GRAFT_DUMP_INTERIOR").foreach { d =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d),
          updPlan.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        catch { case _: Throwable => }
      }
      // the moved count rides the checkpoint's own job via observe
      val upd =
        if (earlyStop) {
          val u = Rounds.checkpoint(updPlan, Some(coalesce(
            sum(when(col("__moved"), 1L).otherwise(0L)), lit(0L))))
          zeroStreak = if (u.observed == 0L) zeroStreak + 1 else 0
          u.frame
        } else Rounds.checkpoint(updPlan).frame
      state = upd.select(col("id"), col("c"), col("deg"))
      // post-move slice, rides upd's checkpoint
      trajectory.foreach(_ += upd.select(col("id"), col("c")))
      r += 1
    }
    state.select(col("id"), col("c").as("community"))
  }

  /** WEIGHTED one-level Louvain — [[louvainOneLevel]] over a weighted
    * (multi-)edge list with INTEGER weights, which is exactly what
    * [[louvainContract]] produces: self-loops (internal community
    * mass) count twice into a node's weighted degree and never into
    * k_in; the gain score stays the exact integer
    * `2m·k_in(i, c) − deg_i·(Σtot(c) − [c = c_i]·deg_i)` with
    * m = total edge weight. Same direction-alternation schedule, tie
    * and strict-improvement semantics as the unweighted op (which is
    * this op at w ≡ 1). Output `(id, community)`. */
  /** Shared graph-prep for the WEIGHTED Louvain entry points and
    * [[modularityNumeratorWeighted]] — one home for the
    * loops-count-twice weighted-degree formula (the round-12 verdict
    * found it living verbatim in both weighted entries). Parallel
    * edges sum on entry IN DECIMAL, so a pair weight or the total m
    * past Long range is a LOUD sized error instead of a silent
    * wraparound feeding a garbage (possibly negative) m past
    * [[guardGainRange]]; an empty or all-nonpositive-weight input
    * coalesces to m = 0 rather than an opaque NPE (advisor, round
    * 12). The adjacency excludes self-loops (they are not votes
    * toward any OTHER community); degrees include them twice.
    * Returns `(raw canonical (a ≤ b, w) incl. loops, adj, deg, m)`. */
  private def louvainPrepWeighted(edges: DataFrame, srcCol: Column,
      dstCol: Column, weightCol: Column)
      : (DataFrame, DataFrame, DataFrame, Long, Long) = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val summed = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"), weightCol.cast("long").as("w"))
      .filter(col("w") > 0)
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum(col("w").cast(dec)).as("wd"))
      .localCheckpoint(true)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    // one bounds pass: total + max weight (wrap detection) + min node
    // id (the modularity label-space guard rides along for free — a
    // separate min-agg job per evaluation showed up in the r13 bench)
    val bounds = summed
      .agg(coalesce(sum("wd"), zero).as("m"),
        coalesce(max("wd"), zero).as("mx"),
        coalesce(min("a"), lit(0L)).as("minid"))
      .head()
    val maxLong = new java.math.BigDecimal(Long.MaxValue)
    require(bounds.getDecimal(1).compareTo(maxLong) <= 0 &&
      bounds.getDecimal(0).compareTo(maxLong) <= 0,
      s"louvain weighted prep: summed edge weight out of Long range " +
        s"(max pair weight ${bounds.getDecimal(1)}, total " +
        s"${bounds.getDecimal(0)}, Long.MaxValue ${Long.MaxValue}) — " +
        "a Long sum would wrap silently and could flip move decisions; " +
        "rescale edge weights (divide by a common factor) first")
    val m = bounds.getDecimal(0).longValueExact()
    require(m >= 0, s"louvain weighted prep: total edge weight $m is " +
      "negative — weights must be positive integers")
    val raw = summed.select(col("a"), col("b"),
      col("wd").cast("long").as("w"))
    val adj = raw.filter(col("a") =!= col("b"))
      .select(col("a").as("s"), col("b").as("t"), col("w"))
      .unionAll(raw.filter(col("a") =!= col("b"))
        .select(col("b").as("s"), col("a").as("t"), col("w")))
      .localCheckpoint(true)
    val deg = adj.groupBy(col("s").as("id")).agg(sum("w").as("deg"))
      .unionByName(raw.filter(col("a") === col("b"))
        .select(col("a").as("id"), (col("w") * 2).as("deg")))
      .groupBy("id").agg(sum("deg").as("deg"))
      .localCheckpoint(true)
    (raw, adj, deg, m, bounds.getLong(2))
  }

  def louvainOneLevelWeighted(edges: DataFrame, srcCol: Column,
      dstCol: Column, weightCol: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, "louvainOneLevelWeighted: rounds >= 1")
    val (_, adj, deg, m, _) =
      louvainPrepWeighted(edges, srcCol, dstCol, weightCol)
    guardGainRange("louvainOneLevelWeighted", m, deg)
    louvainRounds(adj, deg, m, rounds, earlyStop = false)
  }

  /** [[louvainOneLevelWeighted]] with the converged early stop — see
    * [[louvainOneLevelConverged]] for the two-consecutive-zero-move
    * fixpoint argument (spec-pinned equal to the fixed-round op on the
    * oracle fixtures). */
  def louvainOneLevelWeightedConverged(edges: DataFrame, srcCol: Column,
      dstCol: Column, weightCol: Column, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1,
      "louvainOneLevelWeightedConverged: maxRounds >= 1")
    val (_, adj, deg, m, _) =
      louvainPrepWeighted(edges, srcCol, dstCol, weightCol)
    guardGainRange("louvainOneLevelWeightedConverged", m, deg)
    louvainRounds(adj, deg, m, maxRounds, earlyStop = true)
  }

  /** Per-round WEIGHTED Louvain assignments —
    * [[louvainOneLevelWeighted]] with every round's post-move
    * assignment kept, exactly as [[louvainOneLevelTrajectory]] does
    * for the unweighted op (same shared loop, same checkpoints, so
    * the round-`rounds` slice equals [[louvainOneLevelWeighted]]'s
    * output by construction). This is the knee gauge for the
    * CONTRACTED levels: level ≥ 2 always runs WEIGHTED (contraction
    * produces summed super-edge weights), so certifying the level-2/3
    * round-count knobs — the q367 stance one level down — needs the
    * weighted trajectory; cost equals the plain weighted op at the
    * same `rounds` (per-round frames ride the loop's own checkpoints,
    * the final union is plan-only). Output `(round, id, community)`
    * for round ∈ 1..rounds. */
  def louvainOneLevelWeightedTrajectory(edges: DataFrame,
      srcCol: Column, dstCol: Column, weightCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "louvainOneLevelWeightedTrajectory: rounds >= 1")
    val (_, adj, deg, m, _) =
      louvainPrepWeighted(edges, srcCol, dstCol, weightCol)
    guardGainRange("louvainOneLevelWeightedTrajectory", m, deg)
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    louvainRounds(adj, deg, m, rounds, earlyStop = false,
      trajectory = Some(buf))
    buf.zipWithIndex.map { case (df, i) =>
      df.select(lit((i + 1).toLong).as("round"), col("id"),
        col("c").as("community"))
    }.reduce(_.unionByName(_))
  }

  /** Community contraction — the step between Louvain levels: roll the
    * edge list up to super-nodes (one per community), inter-community
    * edges summing into weighted super-edges and intra-community edges
    * into SELF-LOOPS (the internal mass the next level's weighted
    * degrees must keep — total edge weight m is invariant across
    * levels, which is what keeps the next level's modularity the same
    * objective). One assignment join per endpoint + one grouped sum.
    * Output `(a, b, w)` with `a <= b` (a = b are the loops). */
  def louvainContract(edges: DataFrame, srcCol: Column, dstCol: Column,
      assign: DataFrame, nodeCol: Column, commCol: Column): DataFrame = {
    val e = edges.select(srcCol.cast("long").as("s"),
      dstCol.cast("long").as("t"))
    val asg = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("cm"))
    e.join(asg.select(col("id").as("s"), col("cm").as("ca")), Seq("s"))
      .join(asg.select(col("id").as("t"), col("cm").as("cb")), Seq("t"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
  }

  /** [[louvainContract]] for an already-WEIGHTED edge list — the step
    * between level 2 and level 3 (and beyond): super-edge weights SUM
    * the member edge weights instead of counting rows, so total weight
    * m stays invariant across every level (loops a = b carry the
    * internal mass exactly as in the unweighted contraction). Output
    * `(a, b, w)` with `a <= b`. */
  def louvainContractWeighted(edges: DataFrame, srcCol: Column,
      dstCol: Column, weightCol: Column, assign: DataFrame,
      nodeCol: Column, commCol: Column): DataFrame = {
    val e = edges.select(srcCol.cast("long").as("s"),
      dstCol.cast("long").as("t"), weightCol.cast("long").as("w"))
    val asg = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("cm"))
    e.join(asg.select(col("id").as("s"), col("cm").as("ca")), Seq("s"))
      .join(asg.select(col("id").as("t"), col("cm").as("cb")), Seq("t"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum("w").as("w"))
  }

  /** Leiden-style CONNECTIVITY refinement of a community assignment —
    * the known Louvain defect (Traag, Waltman & van Eck 2019, "From
    * Louvain to Leiden", §2): local moves can leave a community
    * internally DISCONNECTED (a bridge node moves out, its former
    * neighbors stay labeled together), and contraction then freezes
    * the defect into every later level. The refinement splits each
    * community into the connected components of its induced
    * intra-community subgraph, relabeling every component by its
    * smallest member id (so labels stay non-negative node ids, disjoint
    * across components by construction — a component's min id belongs
    * to no other component, and an edgeless node's own id to no
    * component at all). Splitting a disconnected community STRICTLY
    * increases modularity: in_c partitions exactly over components
    * (no intra edges cross them) while Σ tot_c² drops —
    * (x+y)² > x²+y² for positive parts — so the refined assignment
    * carries a not-worse certificate for free and the community count
    * delta counts the defects repaired.
    *
    * Scale shape: intra-community edges are two assignment equi-joins
    * on the edge list (the modularityNumerator discipline); components
    * come from [[Dedup.duplicateClusters]]' neighbor-min +
    * path-halving loop — O(log diameter) rounds of (node, label) Long
    * shuffles, stats-reset checkpoints, never a per-pair fan-out.
    * Nodes without an intra-community edge keep their own id as a
    * singleton label. Output `(id, community)` for every node of
    * `assign`. Components still merging after `maxIters` rounds throw
    * an `IllegalStateException` naming `duplicateClusters` and the
    * cap. */
  def refineConnectivity(edges: DataFrame, srcCol: Column,
      dstCol: Column, assign: DataFrame, nodeCol: Column,
      commCol: Column, maxIters: Int = 20): DataFrame = {
    val asg = assign.select(nodeCol.cast("long").as("id"),
        commCol.cast("long").as("cm"))
      .localCheckpoint(true) // read 3x: two edge joins + final left join
    val e = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val intra = e
      .join(asg.select(col("id").as("s"), col("cm").as("ca")), Seq("s"))
      .join(asg.select(col("id").as("t"), col("cm").as("cb")), Seq("t"))
      .filter(col("ca") === col("cb"))
      .select(col("s"), col("t"))
    val cc = Dedup.duplicateClusters(intra, col("s"), col("t"), maxIters)
    asg.join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("community"))
  }

  /** Integer-exact modularity NUMERATOR `Q·(2m)²` of a community
    * assignment over a simple undirected graph — the community-QUALITY
    * readout that makes Louvain adjudicable (membership hash-matching
    * alone would pass a weak local optimum): with `in_c` the
    * intra-community edge count (each undirected edge once) and
    * `tot_c` the community degree mass,
    * `Q = Σ_c [in_c/m − tot_c²/(4m²)]`, so
    * `Q·(2m)² = Σ_c (4m·in_c − tot_c²)` — pure integer grouped sums a
    * SQL oracle recomputes exactly; no floats, no rounding. Nodes
    * absent from `assign` are treated as their own singleton
    * communities (in_c = 0 contributes only −tot_c²), so the value is
    * total over the graph. Output ONE row `(two_m BIGINT,
    * q_num DECIMAL(38,0))` — decimal because `|q_num| ≤ 8m²` outgrows
    * Long past m ≈ 10⁹, which is exactly the regime a 100-TB web
    * graph lives in (m ≈ 10¹¹–10¹²); the [[modularityFromCounts]]
    * assembly multiplies in decimal(38,0), lifting the round-12 hard
    * cap to m ≤ 3·10¹⁸ (the 10³⁸-digit bound). Queries whose graphs
    * stay far inside Long may cast the output back (`q363`/`q364` do
    * — ANSI makes a bad cast loud, not silent).
    *
    * Scale shape: degrees are one grouped count over the adjacency;
    * in_c is two assignment equi-joins on the edge list + one grouped
    * count; tot_c one join + grouped sum — the labelPropagation join
    * discipline, no per-pair fan-out. Node ids and community labels
    * must be non-negative: the singleton label space is the negated
    * ids (−id−1), disjoint from real labels ONLY on that premise —
    * for a negative id, −id−1 is ≥ 0 and would silently merge a
    * singleton into a real community (advisor, round 12) — so two
    * tiny min-aggs fail fast instead. */
  def modularityNumerator(edges: DataFrame, srcCol: Column,
      dstCol: Column, assign: DataFrame, nodeCol: Column,
      commCol: Column): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .localCheckpoint(true) // read 3×: m, degrees, intra-edges
    // one pass: m + min node id (the label-space guard riding the
    // count job — a separate min-agg per evaluation is real cadence
    // cost in multi-eval queries like q364)
    val head = raw.agg(count(lit(1)).as("m"),
      coalesce(min("a"), lit(0L)).as("minid")).head()
    val m = head.getLong(0)
    require(head.getLong(1) >= 0,
      s"modularityNumerator: negative node id ${head.getLong(1)} — " +
        "unassigned-singleton labels are the negated ids (−id−1) and " +
        "would alias a real community; remap node ids to non-negative " +
        "first")
    val asg = assign.select(nodeCol.cast("long").as("id"),
        commCol.cast("long").as("cm"))
      .localCheckpoint(true) // read 3×: label guard, tot, intra joins
    guardCommLabels("modularityNumerator", asg)
    val deg = raw.select(col("a").as("id"))
      .unionAll(raw.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // unassigned nodes default to singleton communities labeled by the
    // (negated, collision-free given the guard) node id
    val tot = deg.join(asg, Seq("id"), "left")
      .select(coalesce(col("cm"), -col("id") - 1).as("cm"), col("deg"))
      .groupBy("cm").agg(sum("deg").as("tot"))
    val inn = raw
      .join(asg.select(col("id").as("a"), col("cm").as("ca")), Seq("a"))
      .join(asg.select(col("id").as("b"), col("cm").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cm")).agg(count(lit(1)).as("inn"))
    modularityFromCounts(m, tot, inn)
  }

  /** [[modularityNumerator]] over a WEIGHTED (multi-)edge list — the
    * quality readout for [[louvainOneLevelWeighted]] on EXTERNAL
    * similarity weights (round-12 verdict ask #3): with `w_c` the
    * intra-community weight (each canonical pair once; a SELF-LOOP at
    * a node of c contributes its w here and 2w to the node's degree —
    * A_ii = 2w, the louvain convention [[louvainPrepWeighted]] pins),
    * `tot_c` the weighted degree mass and m = Σw the total weight
    * including loops, `Q·(2m)² = Σ_c (4m·w_c − tot_c²)` — the same
    * exact integer sums, the same decimal(38,0) assembly, the same m
    * as the weighted local-move objective so level certificates
    * compare directly. Parallel edges sum on entry; nonpositive
    * weights drop; unassigned nodes are singletons (−id−1 — loops at
    * them still count into their own w_c via the left-join defaults).
    * Output ONE row `(two_m, q_num DECIMAL(38,0))`. */
  def modularityNumeratorWeighted(edges: DataFrame, srcCol: Column,
      dstCol: Column, weightCol: Column, assign: DataFrame,
      nodeCol: Column, commCol: Column): DataFrame = {
    val (raw, _, deg, m, minId) =
      louvainPrepWeighted(edges, srcCol, dstCol, weightCol)
    require(minId >= 0,
      s"modularityNumeratorWeighted: negative node id $minId — " +
        "unassigned-singleton labels are the negated ids (−id−1) and " +
        "would alias a real community; remap node ids to non-negative " +
        "first")
    val asg = assign.select(nodeCol.cast("long").as("id"),
        commCol.cast("long").as("cm"))
      .localCheckpoint(true) // read 3×: label guard, tot, intra joins
    guardCommLabels("modularityNumeratorWeighted", asg)
    val tot = deg.join(asg, Seq("id"), "left")
      .select(coalesce(col("cm"), -col("id") - 1).as("cm"), col("deg"))
      .groupBy("cm").agg(sum("deg").as("tot"))
    // LEFT joins + singleton defaults: a self-loop at an UNASSIGNED
    // node is intra for its own singleton (two unassigned endpoints of
    // a non-loop edge never collide — distinct ids, distinct labels)
    val inn = raw
      .join(asg.select(col("id").as("a"), col("cm").as("ca")),
        Seq("a"), "left")
      .join(asg.select(col("id").as("b"), col("cm").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), -col("a") - 1).as("ca"),
        coalesce(col("cb"), -col("b") - 1).as("cb"), col("w"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cm")).agg(sum("w").as("inn"))
    modularityFromCounts(m, tot, inn)
  }

  /** Community-label half of the modularity label-space guard (the
    * node-id half rides each caller's existing count/bounds pass for
    * free): one tiny min-agg over the just-checkpointed assignment. */
  private def guardCommLabels(op: String, asg: DataFrame): Unit = {
    val minCm = asg.agg(coalesce(min("cm"), lit(0L))).head().getLong(0)
    require(minCm >= 0,
      s"$op: negative community label $minCm — the singleton label " +
        "space (−id−1) is only disjoint from non-negative labels; " +
        "remap community labels to non-negative first")
  }

  /** The decimal(38,0) assembly of `Q·(2m)² = Σ_c (4m·in_c − tot_c²)`
    * shared by [[modularityNumerator]] and
    * [[modularityNumeratorWeighted]]: Long products overflow past
    * m ≈ 10⁹ (the round-12 hard cap this replaces), so both products
    * run in decimal(38,0) — |term| ≤ 8m² needs ≤ 10³⁸ digits, true for
    * every m ≤ 3·10¹⁸ (loudly guarded; 4m itself rides in as a
    * driver-side BigDecimal because 4·m overflows a Long past
    * 2.3·10¹⁸). `tot` is `(cm, tot)`, `inn` `(cm, inn)`; communities
    * missing from `inn` contribute −tot². Package-private so the spec
    * pins a hand-computed value at m just above the old 10⁹ cap
    * without materializing 10⁹ edges. */
  private[graft] def modularityFromCounts(m: Long, tot: DataFrame,
      inn: DataFrame): DataFrame = {
    require(m >= 0 && m <= 3000000000000000000L,
      s"modularityFromCounts: m = $m — |q_num| ≤ 8m² must stay inside " +
        "decimal(38,0)'s 10³⁸ digits, so m ≤ 3·10¹⁸; evaluate per " +
        "shard and merge the exact sums beyond that")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fourM = new java.math.BigDecimal(java.math.BigInteger
      .valueOf(m).multiply(java.math.BigInteger.valueOf(4L)))
    tot.join(inn, Seq("cm"), "left")
      .select((lit(fourM).cast(dec) *
        coalesce(col("inn"), lit(0L)).cast(dec) -
        col("tot").cast(dec) * col("tot").cast(dec)).as("term"))
      .agg(coalesce(sum("term"),
        lit(java.math.BigDecimal.ZERO)).cast(dec).as("q_num"))
      .select(lit(2L * m).as("two_m"), col("q_num"))
  }

  /** k-core decomposition membership: the maximal subgraph in which
    * every node keeps degree ≥ k — the standard "dense backbone"
    * extractor (spam nests and template farms in a similarity graph
    * are high-core; bridges and leaves peel away). Iterative peeling:
    * drop all nodes of induced degree < k, recompute degrees in the
    * surviving subgraph, repeat to fixpoint (each pass can expose new
    * low-degree nodes — the cascade is the algorithm). Output:
    * `(id, core_degree)` for every surviving node, `core_degree` its
    * degree WITHIN the k-core.
    *
    * Scale shape (per round): one grouped count for degrees + two
    * semi-joins to induce the subgraph — all equi on node ids, the
    * edge frame checkpointed every round so the plan stays O(1)
    * deep (the [[pageRank]] discipline). Rounds are data-dependent but
    * short in practice (each round must delete ≥ 1 node to continue,
    * and real graphs cascade in a handful); the fixpoint test rides
    * the checkpoint's materialization — no extra pass over the edges.
    * A peel still moving after `maxIters` rounds is not a k-core: it
    * throws an `IllegalStateException` naming `kCore` and the cap. */
  def kCore(edges: DataFrame, srcCol: Column, dstCol: Column, k: Int,
      maxIters: Int = 50): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(maxIters >= 1, "kCore: maxIters must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    def degrees(ed: DataFrame) = ed.select(col("a").as("id"))
      .unionAll(ed.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    // stable edge count = no edge left the graph: every node is >= k
    val e = Rounds.untilStable("kCore", raw
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct(), maxIters) { cur =>
      val keep = degrees(cur).filter(col("degree") >= k)
        .select(col("id"))
      cur.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    degrees(e).filter(col("degree") >= k)
      .select(col("id"), col("degree").as("core_degree"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list (direction and duplicates are normalized
    * away; self-loops drop). The community-density signal next to
    * [[pageRank]]'s centrality: clustering ≈ 1 marks tight cliques
    * (near-duplicate nests in a similarity graph), ≈ 0 marks hub spam.
    *
    * Node-iterator with DEGREE ORIENTATION — the classic trick that
    * bounds the wedge fan-out: each undirected edge orients from its
    * lower-(degree, id) endpoint, so every node's oriented out-degree
    * is O(√|E|) regardless of raw degree, and the wedge self-join
    * (oriented ⋈ oriented on the shared source) never explodes on
    * hubs. A wedge (a→b, a→c) closes iff the oriented edge b→c exists
    * — one more equi-join — and each triangle is found exactly once
    * (from its lowest-ordered corner). Per-corner counts then explode
    * ×3 and join back to the degree table. Three shuffles total, all
    * equi-joins on node ids; nothing quadratic in degree survives.
    * Output: `(id, degree, triangles, clustering)` for every node of
    * the graph, `clustering = 2·triangles / (degree·(degree−1))` at
    * 4dp (0 for degree < 2).
    *
    * `broadcastEdges`: resolve the closing-edge membership test with a
    * BROADCAST semi-join instead of a shuffle. The wedge frame is the
    * quadratic one (Σ outdeg² rows — it dwarfs the edge list on dense
    * graphs); broadcasting the edge set keeps every wedge in the task
    * that produced it (measured: 16.6 s → task time cut ~3× on the
    * sf0.1 co-purchase graph). Right whenever the edge list fits the
    * driver (bounded similarity graphs, co-occurrence graphs); leave
    * false at web-graph scale, where the closing lookup must shuffle. */
  /** k-truss decomposition — the triangle-strength core: the maximal
    * subgraph in which every edge participates in ≥ k−2 triangles
    * (Cohen 2008; the community backbone one notch stricter than
    * [[kCore]]). Synchronous peeling: compute per-edge support, drop
    * every edge below threshold, repeat until no edge leaves — the
    * fixpoint is unique (it is the maximal such subgraph), so peeling
    * order never matters and an oracle running extra converged rounds
    * agrees. Output: the truss edges `(a, b, support)` (canonical
    * a < b) with their final supports.
    *
    * Scale shape per round: triangles enumerate ONCE via the
    * [[triangleStats]] degree-orientation discipline (oriented
    * out-degree O(√|E|), wedge join never explodes on hubs), each
    * triangle explodes to its 3 canonical edges, one grouped count =
    * support; all joins are int equi-joins. Rounds run to the
    * fixpoint; a peel still moving after `maxIters` rounds throws an
    * `IllegalStateException` naming `kTruss` and the cap. */
  def kTruss(edges: DataFrame, srcCol: Column, dstCol: Column, k: Int,
      maxIters: Int = 50, broadcastClosing: Boolean = false): DataFrame = {
    require(k >= 2, "kTruss: k must be >= 2")
    require(maxIters >= 1, "kTruss: maxIters must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // stats-reset checkpoints ([[Rounds]]): each peel round's support
    // computation stacks ~5 inner joins on the previous round's
    // checkpoint, so carried sizeInBytes would compound geometrically
    // (the louvainRounds lesson). `sup` is the support of the last
    // round's input: at the fixpoint its edge set is the output's, so
    // it is reused; an empty input runs no round and gets its own.
    var sup: DataFrame = null
    val e = Rounds.untilStable("kTruss", raw
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct(), maxIters) { cur =>
      sup = edgeSupport(cur, broadcastClosing)
      sup.filter(col("support") >= k - 2).select(col("a"), col("b"))
    }
    if (sup == null) sup = edgeSupport(e, broadcastClosing)
    sup.filter(col("support") >= k - 2)
  }

  /** Per-edge triangle support over a canonical (a < b) edge set:
    * the [[triangleStats]] oriented enumeration, each triangle
    * exploded to its 3 canonical edges, zero-triangle edges kept at
    * support 0 via the left join. `broadcastClosing` resolves the
    * closing-edge membership with a broadcast semi-join — the q266
    * trade: one shuffle fewer per peel round while the (shrinking)
    * edge set fits the driver cap; leave false at corpus scale. */
  private def edgeSupport(und: DataFrame,
      broadcastClosing: Boolean): DataFrame = {
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
    val oriented0 = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // read 3× (both wedge sides + closing set); stats-reset checkpoint:
    // this frame re-derives from the peel loop's checkpoint every round
    // (the [[Rounds]] compounding lesson)
    val oriented = Rounds.checkpoint(oriented0).frame
    val closing = oriented.select(col("s").as("y"), col("t").as("z"))
      .unionAll(oriented.select(col("t").as("y"), col("s").as("z")))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
      .join(if (broadcastClosing) broadcast(closing) else closing,
        Seq("y", "z"), "left_semi")
    val sup = tri.select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("__tri"))
    und.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__tri"), lit(0L)).as("support"))
  }

  /** Multi-source weighted shortest paths by synchronous Bellman-Ford
    * relaxation — [[bfsDistances]] with edge weights: `rounds` rounds
    * of `dist(t) = min(dist(t), min over in-edges (dist(s) + w))`,
    * early-exiting once a round improves nothing (a converged round is
    * idempotent, so an oracle unrolling exactly `rounds` agrees).
    * Negative weights FAIL FAST (`require`) — with them `rounds` <
    * |V|−1 would silently truncate genuine paths; null-weight edges
    * (no usable cost) are dropped. Output `(id, dist)` for every node
    * reached within `rounds` hops (4dp; exact for integer weights).
    *
    * Scale shape per round: one equi-join of the frontier-bearing dist
    * frame against the edge list + one grouped min — ints and one
    * double shuffle, state |reached|, the [[bfsDistances]] discipline
    * with a weight column along for the ride. */
  def ssspBellmanFord(edges: DataFrame, srcCol: Column, dstCol: Column,
      weightCol: Column, sources: DataFrame, sourceIdCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "ssspBellmanFord: rounds must be >= 1")
    val e = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"), weightCol.cast("double").as("w"))
      .filter(col("w").isNotNull)
      .localCheckpoint(true)
    // fail-fast probe over the just-checkpointed blocks (cheap re-read):
    // a silently truncated graph is worse than an error here
    require(e.filter(col("w") < 0).isEmpty,
      "ssspBellmanFord: negative edge weights are unsupported " +
        "(rounds-bounded relaxation would truncate genuine paths)")
    // a round keeps each old row's distance as `prev`, so a node
    // improved iff it is new (no prev) or its distance dropped; the
    // count of improved nodes rides the round's checkpoint job
    val improved = Some(coalesce(sum(when(col("prev").isNull ||
      col("dist") < col("prev"), 1L).otherwise(0L)), lit(0L)))
    @annotation.tailrec
    def relax(v: DataFrame, r: Int): DataFrame = {
      val next = Rounds.checkpoint(v
        .select(col("id"), col("dist"), col("dist").as("prev"))
        .unionByName(v.join(e, v("id") === e("s")).select(e("t").as("id"),
          (v("dist") + e("w")).as("dist"), lit(null).cast("double").as("prev")))
        .groupBy("id").agg(min("dist").as("dist"), min("prev").as("prev")),
        improved)
      if (r == rounds || next.observed == 0L) next.frame
      else relax(next.frame.select(col("id"), col("dist")), r + 1)
    }
    val v = relax(Rounds.checkpoint(sources
      .select(sourceIdCol.cast("long").as("id")).distinct()
      .withColumn("dist", lit(0.0))).frame, 1)
    v.select(col("id"), round(col("dist"), 4).as("dist"))
  }

  /** Personalized PageRank (random walk with restart to a SEED set) in
    * the [[pageRank]] integer micro-unit discipline — "how relevant is
    * every node to THESE nodes": the teleport mass lands only on
    * seeds, `rank'(v) = 1[v ∈ S]·(100−d)/100·10⁶ +
    * d/100·Σ_{u→v} ⌊rank(u)/outdeg(u)⌋`, seeds initialized at 10⁶ and
    * everything else at 0, fixed `iters` rounds (the replayable
    * stance; dangling mass leaks as in [[pageRank]]). The
    * related-items / trust-propagation workhorse. Output
    * `(id, ppr_micro)` for every node.
    *
    * Same per-round shape as [[pageRank]]: one equi-join moving the
    * |V| rank frame + one integer-sum aggregation, checkpointed
    * O(1)-deep; the seed base joins broadcast. */
  def personalizedPageRank(edges: DataFrame, srcCol: Column,
      dstCol: Column, seeds: DataFrame, seedIdCol: Column,
      iters: Int = 3, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1, "personalizedPageRank: need at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100,
      "personalizedPageRank: dampingPct is a percentage")
    val e = edges.select(srcCol.cast("long").as("src"),
        dstCol.cast("long").as("dst"))
      .localCheckpoint(eager = true)
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(eager = true)
    val seedSet = seeds.select(seedIdCol.cast("long").as("id")).distinct()
    val withSeed = nodes
      .join(broadcast(seedSet.withColumn("__s", lit(1))), Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0)).as("is_seed"))
      .localCheckpoint(eager = true)
    val base = (100L - dampingPct) * 1000000L / 100L
    Rounds.repeat(withSeed.select(col("id"),
        (col("is_seed").cast("long") * 1000000L).as("ppr_micro")), iters)(
      powerStep(ew, withSeed, "ppr_micro div outdeg",
        s"cast(is_seed as bigint) * $base + s * $dampingPct div 100",
        "ppr_micro"))
  }

  /** Truncated Katz centrality over a DIRECTED edge list in
    * deterministic integer micro-units — the walk-counting centrality
    * between degree (1 hop) and [[pageRank]] (stationary):
    * `x' = β + α·Σ_{u→v} x(u)`, run for exactly `iters` rounds from
    * x = β, i.e. attenuated walk counts up to length `iters`
    * (finite-horizon Katz — the bounded-round stance every iterative
    * op here shares). `alphaPct` is α as an integer percentage and the
    * per-round sum uses integer division (`Σ·α div 100`), so the oracle
    * replays rounds bit-for-bit. Output `(id, katz_micro)` (β = 10⁶).
    * Overflow bound: `(α·d_max)^iters · 10⁶` must stay < 2⁶³ — with
    * the default 3 rounds that allows α·d_max ≈ 2·10⁴.
    *
    * Scale shape identical to [[pageRank]]: per round one equi-join
    * moving the |V| score frame along the checkpointed edges + one
    * integer-sum aggregation, O(1)-deep plans via per-round
    * checkpoints. */
  def katzCentrality(edges: DataFrame, srcCol: Column, dstCol: Column,
      alphaPct: Int = 10, iters: Int = 3): DataFrame = {
    require(iters >= 1, "katzCentrality: need at least one iteration")
    require(alphaPct >= 1 && alphaPct <= 100,
      "katzCentrality: alphaPct in [1, 100]")
    val e = edges.select(srcCol.cast("long").as("src"),
        dstCol.cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    Rounds.repeat(nodes.select(col("id"), lit(1000000L).as("katz_micro")),
        iters)(powerStep(e, nodes, "katz_micro",
      s"1000000 + s * $alphaPct div 100", "katz_micro"))
  }

  /** Pivot-sampled betweenness centrality (Brandes 2001 accumulation
    * from a deterministic pivot subset — the standard approximation
    * when exact all-sources Brandes is off the table): for each pivot,
    * a level-synchronous BFS accumulates shortest-path counts σ
    * (exact integers), then dependencies walk back level by level,
    * `δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))`, and a node's
    * score sums its δ over pivots (pivot excluded, the Brandes
    * convention). Pivots are the `maxPivots` SMALLEST ids of the
    * caller's candidate frame — content-determined, no RNG. Output:
    * `(id, betweenness)` (4dp) for every node with a positive score.
    *
    * Scale shape: per pivot per level one frontier⋈edges equi-join
    * (forward, σ as a grouped integer sum) and one successor join
    * (backward, δ as a grouped double sum); level frames checkpoint
    * O(1)-deep; cost is pivots × diameter join rounds — job-cadence
    * at local scale, per-round throughput on a cluster. The σ ratios
    * are exact-integer divisions, so cross-engine drift is confined
    * to the δ sums' last ulp. */
  def betweennessApprox(edges: DataFrame, srcCol: Column, dstCol: Column,
      pivotCandidates: DataFrame, pivotIdCol: Column, maxPivots: Int,
      maxDepth: Int): DataFrame = {
    require(maxPivots >= 1 && maxDepth >= 2,
      "betweennessApprox: maxPivots >= 1, maxDepth >= 2")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = raw.unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
      .localCheckpoint(true)
    // ALL pivots advance in ONE pivot-keyed frame per level (r15): the
    // former shape ran the whole forward+backward cadence PER PIVOT —
    // |pivots| × 2·depth sequential materialization jobs on a mostly
    // idle cluster. Keying every frame by `p` runs the identical
    // per-pivot math batched: rounds = max depth over pivots, a pivot
    // whose BFS exhausts early simply stops contributing rows (its
    // slices at deeper levels are empty, so its backward pass
    // initializes δ = 0 at ITS deepest level exactly as before). The
    // only output delta is per-(id) float ADDITION ORDER in the final
    // sum — which the former per-pivot union never pinned either —
    // plus δ = 0.0 rows for each pivot's own deepest level, which add
    // exactly 0.0 to sums and cannot flip the `> 0` filter.
    val seed = Rounds.checkpoint(pivotCandidates
      .select(pivotIdCol.cast("long").as("id"))
      .distinct().orderBy("id").limit(maxPivots)
      .select(col("id").as("p"), col("id"), lit(1L).as("sig"))).frame
    var levels = List(seed)
    var visitedSlices = List(seed.select(col("p"), col("id")))
    var depth = 0
    var exhausted = false
    while (depth < maxDepth && !exhausted) {
      // bound the visited-union fragmentation (r16): the anti-join side
      // used to be a union of one LogicalRDD scan PER LEVEL — k
      // fragments at depth k, the exact per-task-overhead pathology the
      // r15 bfsDistances lazy-union revert measured. Compact to ONE
      // checkpointed frame every 4 levels so the anti-join input stays
      // O(1) fragments at any depth, for one extra job per 4 levels.
      if (visitedSlices.size >= 4)
        visitedSlices = List(Rounds.checkpoint(
          visitedSlices.reduce(_ unionAll _)).frame)
      val visited = visitedSlices.reduce(_ unionAll _)
      // the emptiness test rides the level's checkpoint job
      val next = Rounds.checkpoint(levels.head.join(adj, col("id") === col("s"))
        .select(col("p"), col("t").as("id"), col("sig"))
        .join(visited, Seq("p", "id"), "left_anti")
        .groupBy("p", "id").agg(sum("sig").as("sig")))
      if (next.rows == 0) exhausted = true
      else {
        levels = next.frame :: levels
        visitedSlices ::= next.frame.select(col("p"), col("id"))
        depth += 1
      }
    }
    // backward: deltas walk from the deepest level toward the pivots.
    // `upper` carries (p, id, sig, d) for the WHOLE level L+1 — a node
    // with no deeper successors keeps δ = 0 but still passes its
    // (1 + 0) term down (dropping dead-ends loses real centrality
    // mass; caught against a hand-rolled reference). Each step scores
    // level L as δ(v) = Σ_{(v,w) ∈ DAG} σ(v)/σ(w) · (1 + δ(w)) —
    // the level-membership joins ARE the shortest-path-DAG filter.
    var upper = Rounds.checkpoint(levels.head
      .select(col("p"), col("id"), col("sig"), lit(0.0).as("d"))).frame
    var accSlices = List.empty[DataFrame]
    for ((l, idx) <- levels.tail.zipWithIndex) {
      val contrib = upper.as("u").join(adj, col("u.id") === adj("t"))
        .select(col("u.p").as("p"), adj("s").as("id"),
          col("u.sig").as("sigw"), col("u.d").as("dw"))
        .join(l.select(col("p"), col("id"), col("sig").as("sigv")),
          Seq("p", "id"))
        .select(col("p"), col("id"),
          (col("sigv").cast("double") / col("sigw") *
            (lit(1.0) + col("dw"))).as("c"))
        .groupBy("p", "id").agg(sum("c").as("d"))
      val down = Rounds.checkpoint(l
        .join(contrib, Seq("p", "id"), "left")
        .select(col("p"), col("id"), col("sig"),
          coalesce(col("d"), lit(0.0)).as("d"))).frame
      // the pivots' own level (the last processed) never scores
      if (idx < levels.tail.size - 1)
        accSlices ::= down.select(col("id"), col("d"))
      upper = down
    }
    val spark = edges.sparkSession
    import spark.implicits._
    accSlices.foldLeft(Seq.empty[(Long, Double)].toDF("id", "d"))(
        _ unionByName _)
      .groupBy("id").agg(round(sum("d"), 4).as("betweenness"))
      .filter(col("betweenness") > 0)
  }

  /** Degree assortativity coefficient (Newman 2002) — does the graph
    * wire hubs to hubs (r > 0, social networks) or hubs to leaves
    * (r < 0, the web, similarity graphs with celebrity documents)?
    * Pearson correlation of endpoint degrees over the UNDIRECTED edge
    * list with both orientations counted (the standard convention —
    * the edge list is its own transpose, so x/y moments coincide).
    * Output ONE row `(n_edges, r)` (4dp; degenerate graphs — constant
    * degree — null the r). One degree aggregation + one edge join +
    * one moment pass; nothing quadratic. */
  def degreeAssortativity(edges: DataFrame, srcCol: Column,
      dstCol: Column): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true) // read twice: degrees + the pair frame
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val dir = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val pairs = dir
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(col("da").cast("double").as("x"),
        col("db").cast("double").as("y"))
    pairs.agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        round(
          when(col("m") * col("sxx") - col("sx") * col("sx") > 0,
            (col("m") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("m") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("m") * col("syy") - col("sy") * col("sy")))),
          4).as("r"))
  }

  /** Modularity of a GIVEN partition (Newman–Girvan Q) — how much
    * denser are the communities than chance:
    * `Q = Σ_c (e_c/m − (d_c/2m)²)` with `e_c` the intra-community
    * edge count and `d_c` the community's total degree. The evaluation
    * half of community detection — score [[labelPropagation]] or
    * [[Dedup.duplicateClusters]] output, compare partitions, detect
    * degenerate splits (Q ≈ 0 means the "communities" are noise).
    * Output ONE row `(n_edges, n_communities, q)` (4dp). Unassigned
    * nodes form singleton communities implicitly (they contribute only
    * their degree term). One edge join against the broadcast-able
    * assignment + two grouped sums. */
  def modularity(edges: DataFrame, srcCol: Column, dstCol: Column,
      assign: DataFrame, nodeCol: Column, commCol: Column): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true) // read 3×: m, intra count, degrees
    val asg = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("c"))
    val withC = und
      .join(asg.select(col("id").as("a"), col("c").as("ca")),
        Seq("a"), "left")
      .join(asg.select(col("id").as("b"), col("c").as("cb")),
        Seq("b"), "left")
      // unassigned nodes get singleton communities keyed by -(id+1)
      // (disjoint from real labels, never colliding with each other)
      .select(coalesce(col("ca"), -col("a") - 1).as("ca"),
        coalesce(col("cb"), -col("b") - 1).as("cb"))
      .localCheckpoint(true) // read twice: intra edges + degree mass
    val m = withC.count()
    val intra = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
    val degMass = withC.select(col("ca").as("c"))
      .unionAll(withC.select(col("cb").as("c")))
      .groupBy("c").agg(count(lit(1)).as("dc"))
    degMass.join(intra, Seq("c"), "left")
      .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("ec").cast("double") / m -
          (col("dc") / (2.0 * m)) * (col("dc") / (2.0 * m))).as("q0"))
      .select(lit(m).as("n_edges"), col("n_communities"),
        round(col("q0"), 4).as("q"))
  }

  def triangleStats(edges: DataFrame, srcCol: Column,
      dstCol: Column, broadcastEdges: Boolean = false): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical undirected edge set (a < b), deduped. Checkpointed:
    // it is read three ways (degrees, orientation, and transitively
    // every wedge), and its upstream may be an expensive pair
    // expansion — without this each reader re-runs that plan.
    val und = raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .localCheckpoint(true) // read twice: orientation + final join
    // orient by (degree, id): lower endpoint → higher endpoint
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .localCheckpoint(true) // read 3×: both wedge sides + closing set
    // wedges from the shared oriented source; closing edge lookup
    val closing = oriented.select(col("s").as("y"), col("t").as("z"))
      .unionAll(oriented.select(col("t").as("y"), col("s").as("z")))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("x"), col("e1.t").as("y"), col("e2.t").as("z"))
      .join(if (broadcastEdges) broadcast(closing) else closing,
        Seq("y", "z"), "left_semi")
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(
          when(col("degree") >= 2,
            coalesce(col("triangles"), lit(0L)) * 2.0 /
              (col("degree") * (col("degree") - 1))).otherwise(0.0), 4)
          .as("clustering"))
  }

  /** Per-community CONDUCTANCE — the cut-quality readout that
    * complements [[modularity]]'s global score: for community C over a
    * simple undirected graph, `φ(C) = cut(C) / min(vol(C), 2m − vol(C))`
    * with `vol(C)` the degree mass inside C and `cut(C)` the edges
    * leaving C. Low conductance = a well-separated cluster; a
    * "community" with φ ≈ 1 is noise even if modularity liked the
    * overall partition (modularity is a SUM — it can hide a few bad
    * communities behind many good ones, which is exactly what a
    * per-community audit catches before a curation pass treats each
    * cluster as a unit). `cut` falls out of the identity
    * `cut_c = vol_c − 2·in_c` — no third aggregation pass. Unassigned
    * nodes are implicit singletons labeled −id−1 (the [[modularity]]
    * convention; negative ids/labels fail fast — same premise as
    * [[modularityNumerator]]). Output one row per community:
    * `(community, vol, inn, cut, conductance)` — conductance 4dp,
    * 0.0 for an isolated community (min volume 0).
    *
    * Scale shape: two assignment equi-joins on the edge list + two
    * grouped counts over the labeled frame — the [[modularity]] plan
    * exactly; output is |C| rows, never per-node. */
  def communityConductance(edges: DataFrame, srcCol: Column,
      dstCol: Column, assign: DataFrame, nodeCol: Column,
      commCol: Column): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("a"),
        dstCol.cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true) // read twice: id guard + labeled frame
    val minId = und.agg(coalesce(min(col("a")), lit(0L)))
      .head().getLong(0)
    require(minId >= 0,
      s"communityConductance: negative node id $minId — the singleton " +
        "label space (−id−1) requires non-negative ids")
    val asg = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("cm"))
    guardCommLabels("communityConductance", asg)
    val withC = und
      .join(asg.select(col("id").as("a"), col("cm").as("ca")),
        Seq("a"), "left")
      .join(asg.select(col("id").as("b"), col("cm").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), -col("a") - 1).as("ca"),
        coalesce(col("cb"), -col("b") - 1).as("cb"))
      .localCheckpoint(true) // read 3×: m + intra + degree mass
    val m = withC.count()
    val inn = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("inn"))
    val vol = withC.select(explode(array(col("ca"), col("cb")))
        .as("community"))
      .groupBy("community").agg(count(lit(1)).as("vol"))
    vol.join(inn, Seq("community"), "left")
      .select(col("community"), col("vol"),
        coalesce(col("inn"), lit(0L)).as("inn"),
        (col("vol") - lit(2L) * coalesce(col("inn"), lit(0L))).as("cut"))
      .withColumn("__den",
        least(col("vol"), lit(2L * m) - col("vol")))
      .select(col("community"), col("vol"), col("inn"), col("cut"),
        round(when(col("__den") > 0,
          col("cut").cast("double") / col("__den")).otherwise(0.0), 4)
          .as("conductance"))
  }

  /** Full k-core DECOMPOSITION — the core NUMBER of every node (the
    * largest k whose k-core contains it), where [[kCore]] answers only
    * the fixed-k membership question. One number per node orders the
    * whole density spectrum at once: "keep coreness ≥ 8" replaces a
    * bisection of [[kCore]] calls, and the coreness histogram is the
    * standard dense-backbone profile of a similarity graph. Algorithm:
    * the distributed h-index iteration (Montresor, De Pellegrini &
    * Miorandi 2013, "Distributed k-core decomposition"): start each
    * node at its degree and repeatedly set
    * `est(v) ← H(est(u) : u ∈ N(v))` — the h-index of its neighbors'
    * estimates (the largest h with ≥ h neighbors at ≥ h). Estimates
    * only decrease and the fixpoint IS the core number; a converged
    * round recomputes itself (idempotent), so an oracle unrolling
    * exactly `rounds` agrees with the op bit-for-bit whether or not
    * the fixpoint arrived — semantic convergence is pinned separately
    * by spec against a brute-force peel. Output `(id, core)`.
    *
    * Scale shape (per round): one equi-join of the |V|-sized estimate
    * frame against the static checkpointed adjacency, then the h-index
    * as a per-NODE window (`row_number` over neighbor estimates desc →
    * `max(least(est, rn))`) — fan-in bounded by the node's degree, the
    * [[louvainRounds]] argmax discipline. Degree-skewed hubs serialize
    * their own partition's window; at web scale pre-cap hub
    * neighborhoods or salt-and-merge (h-index of a union is the
    * h-index of per-shard TOP-h lists, so a two-stage merge exists
    * when a hub outgrows one task). Stats-reset checkpoints per round
    * ([[Rounds]], the compounding-BigInt lesson). */
  def coreNumbers(edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "coreNumbers: rounds must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val und = raw.select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
    val adj = Rounds.checkpoint(und.select(col("a").as("s"), col("b").as("t"))
      .unionAll(und.select(col("b").as("s"), col("a").as("t")))).frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy(col("nEst").desc, col("t"))
    Rounds.repeat(adj.groupBy("s").agg(count(lit(1)).as("est"))
        .select(col("s").as("id"), col("est")), rounds) { est =>
      adj
        .join(est.select(col("id").as("t"), col("est").as("nEst")),
          Seq("t"))
        .withColumn("rn", row_number().over(w))
        .select(col("s"), least(col("nEst"), col("rn")).as("cand"))
        .groupBy("s").agg(max("cand").as("est"))
        .select(col("s").as("id"), col("est"))
    }.select(col("id"), col("est").as("core"))
  }

  /** TOPOLOGICAL layers of a DIRECTED acyclic graph — `layer(v)` = the
    * longest path from any source (no-in-edge node) to v, by
    * synchronous max-relaxation: `layer(v) ← max(0, 1 + max over
    * in-edges layer(u))`, monotone non-decreasing, fixpoint at the
    * DAG depth, converged rounds idempotent (the [[bfsDistances]]
    * family's max twin). The scheduling readout for dependency DAGs —
    * pipeline stages, derivation lineage, layered crawl frontiers:
    * nodes in the same layer are mutually independent and can run
    * together. CYCLES FAIL FAST: the relaxation runs until a round
    * changes nothing, for at most `rounds + 1` rounds — a node on a
    * cycle keeps climbing forever, so that unchanged round is the
    * acyclicity certificate. A cycle, or a DAG deeper than `rounds`,
    * throws an `IllegalStateException` naming `topoLayers` and the cap
    * (`rounds + 1`), never a silently-wrong layer. Output
    * `(id, layer)`.
    *
    * Scale shape (per round): one equi-join of the |V| layer frame
    * against the static checkpointed edge list + one grouped max —
    * integer shuffles, stats-reset checkpoints; the rounds after
    * convergence are never run. */
  def topoLayers(edges: DataFrame, srcCol: Column, dstCol: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "topoLayers: rounds must be >= 1")
    val e = Rounds.checkpoint(edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t")).distinct()).frame
    val nodes = e.select(col("s").as("id"))
      .unionAll(e.select(col("t").as("id"))).distinct()
    // a round takes greatest(layer, …) over the same node set, so
    // layers are elementwise non-decreasing and Σlayer is unchanged IFF
    // a round moved nothing: the monotone Σ rides each round's
    // checkpoint, and the round after the last change is the
    // acyclicity certificate — hence the cap of `rounds + 1`
    Rounds.untilStable("topoLayers",
        nodes.select(col("id"), lit(0L).as("layer")), rounds + 1,
        Some(coalesce(sum(col("layer")), lit(0L)))) { l =>
      l.join(e.join(l.select(col("id").as("s"),
            (col("layer") + 1L).as("cand")), Seq("s"))
          .groupBy(col("t").as("id")).agg(max("cand").as("cand")),
          Seq("id"), "left")
        .select(col("id"),
          greatest(col("layer"), coalesce(col("cand"), lit(0L)))
            .as("layer"))
    }
  }

  /** STRONGLY connected components of a DIRECTED graph — the web-graph
    * structure readout ([[Dedup.duplicateClusters]] answers the
    * undirected question): link farms and template rings are
    * non-trivial SCCs, the crawlable core is the giant SCC, and the
    * SCC condensation is the DAG every link-authority computation
    * wants as input. Algorithm: phases of symmetric FORWARD/BACKWARD
    * min-label propagation — `f(v)` = the smallest id that reaches v,
    * `b(v)` = the smallest id v reaches, each to fixpoint; `f(v) =
    * b(v) = x` certifies v and x mutually reachable, so those nodes
    * finalize with their SCC's MINIMUM MEMBER ID as the label
    * (exactly [[Dedup.duplicateClusters]]' label convention), are
    * removed, and the next phase runs on the rest. Each phase opens
    * with a TRIM loop: an active node with no in-edge or no out-edge
    * in the active subgraph is a singleton SCC and finalizes without
    * any fixpoint (each trim round is two anti-joins — far cheaper
    * than a propagation round — so DAG periphery and tails peel at
    * O(tail-length) trim rounds, not fw/bw phases; the standard
    * FW-BW trimming optimization). Each remaining phase finalizes at
    * least the SCC of every active weak component's minimum id —
    * progress is guaranteed — but a CHAIN of NON-TRIVIAL SCCs still
    * costs a phase per link (the known synchronous-SCC bound, same
    * class as GraphX's implementation), so `maxPhases` is a loud
    * `require`, not a truncation; for DAG-heavy condensations run
    * [[topoLayers]] on the contracted graph instead. Output
    * `(id, scc)` for every node with an edge.
    *
    * Scale shape: every inner round is one equi-join of the |active|
    * label frame against the static active edge list + one grouped
    * min (integer shuffles, stats-reset checkpoints); convergence
    * detection rides a 1-row Σlabel aggregate (labels only decrease,
    * so Σ strictly drops iff anything changed — no comparison join);
    * finalized nodes leave `active` and the edge list via anti-joins
    * once per phase. Rounds per phase are bounded by the active
    * diameter: a propagation still moving after `maxRounds` rounds
    * throws an `IllegalStateException` naming
    * `stronglyConnectedComponents` and the cap. */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: Column,
      dstCol: Column, maxPhases: Int = 10,
      maxRounds: Int = 200): DataFrame = {
    require(maxPhases >= 1 && maxRounds >= 1,
      "stronglyConnectedComponents: maxPhases and maxRounds >= 1")
    var e = Rounds.checkpoint(edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t")).distinct()).frame
    val Rounds.Checkpoint(active0, activeCount0, _) = Rounds.checkpoint(
      e.select(col("s").as("id"))
        .unionAll(e.select(col("t").as("id"))).distinct())
    var active = active0
    var activeCount = activeCount0
    var result: Option[DataFrame] = None
    var phase = 0

    // min-label propagation over `dir` (s → t) to fixpoint; labels
    // only decrease, so Σlb strictly drops iff any row changed — the
    // Σ rides each round's checkpoint job
    def minProp(dir: DataFrame, init: DataFrame): DataFrame =
      Rounds.untilStable("stronglyConnectedComponents", init, maxRounds,
          Some(coalesce(sum(col("lb")), lit(0L)))) { cur =>
        cur.join(
            dir.join(cur.select(col("id").as("s"), col("lb").as("ls")),
                Seq("s"))
              .groupBy(col("t").as("id")).agg(min("ls").as("nl")),
            Seq("id"), "left")
          .select(col("id"),
            least(col("lb"), coalesce(col("nl"), col("lb"))).as("lb"))
      }

    while (activeCount > 0) {
      phase += 1
      require(phase <= maxPhases,
        s"stronglyConnectedComponents: $activeCount nodes still " +
          s"active after maxPhases = $maxPhases — the SCC condensation " +
          "chain is deeper than the budget; raise maxPhases (each " +
          "phase peels one link of the chain)")
      // trim: nodes with no in-edge or no out-edge in the active
      // subgraph are singleton SCCs — finalize without any fixpoint
      var trimming = true
      var trimRounds = 0
      while (trimming && activeCount > 0) {
        trimRounds += 1
        require(trimRounds <= maxRounds,
          s"stronglyConnectedComponents: trim exceeded maxRounds = " +
            s"$maxRounds — raise maxRounds")
        // trivial-count rides the checkpoint job
        val Rounds.Checkpoint(trivial, nTrivial, _) = Rounds.checkpoint(active
          .join(e.select(col("s").as("id")).distinct(), Seq("id"),
            "left_anti")
          .unionAll(active
            .join(e.select(col("t").as("id")).distinct(), Seq("id"),
              "left_anti"))
          .distinct())
        if (nTrivial == 0) trimming = false
        else {
          val done = trivial.select(col("id"), col("id").as("scc"))
          result = Some(result.fold(done)(r =>
            Rounds.checkpoint(r.unionAll(done)).frame))
          active = Rounds.checkpoint(
            active.join(trivial, Seq("id"), "left_anti")).frame
          activeCount -= nTrivial
          e = Rounds.checkpoint(e
            .join(trivial.select(col("id").as("s")), Seq("s"),
              "left_anti")
            .join(trivial.select(col("id").as("t")), Seq("t"),
              "left_anti")).frame
        }
      }
      if (activeCount == 0) {
        return result.get
      }
      val init = active.select(col("id"), col("id").as("lb"))
      val f = minProp(e, init)
      val b = minProp(e.select(col("t").as("s"), col("s").as("t")),
        init)
      val done = Rounds.checkpoint(f.join(b.select(col("id"),
          col("lb").as("lb2")), Seq("id"))
        .filter(col("lb") === col("lb2"))
        .select(col("id"), col("lb").as("scc"))).frame
      result = Some(result.fold(done)(r =>
        Rounds.checkpoint(r.unionAll(done)).frame))
      // active-count rides the checkpoint job
      val next = Rounds.checkpoint(active
        .join(done.select("id"), Seq("id"), "left_anti"))
      active = next.frame
      activeCount = next.rows
      if (activeCount > 0)
        e = Rounds.checkpoint(e
          .join(done.select(col("id").as("s")), Seq("s"), "left_anti")
          .join(done.select(col("id").as("t")), Seq("t"), "left_anti"))
          .frame
    }
    result.getOrElse(active.select(col("id"), col("id").as("scc")))
  }

  /** LINK-PREDICTION scores for non-adjacent node pairs at distance 2
    * — the classic neighborhood-overlap candidates (Liben-Nowell &
    * Kleinberg 2003): for every pair (a, b) with no edge but ≥
    * `minCommon` common neighbors, the common-neighbor count and the
    * neighborhood Jaccard in exact integer BASIS POINTS
    * (`⌊10⁴·cn/(deg_a + deg_b − cn)⌋` — no order-dependent float sums,
    * so the oracle replays the score bit-for-bit). In a similarity or
    * co-occurrence graph these pairs are the "should probably be
    * linked" set: hard-negative candidates for contrastive training,
    * missing-edge suggestions for a knowledge graph, near-cluster
    * merge candidates for dedup review. Output
    * `(a, b, cn, jaccard_bp)` with a < b.
    *
    * Scale shape: candidate pairs come from ONE wedge self-join of the
    * oriented adjacency on the middle node (fan-out Σ_y deg(y)² — the
    * [[triangleStats]] wedge bound; cap hub degrees upstream if the
    * graph has super-nodes), then one grouped count per pair, one
    * anti-join against the edge set, and two broadcast-able degree
    * joins. `minCommon` prunes AFTER the pair aggregation (the count
    * must see every wedge) but BEFORE the joins. */
  def linkPredictionScores(edges: DataFrame, srcCol: Column,
      dstCol: Column, minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, "linkPredictionScores: minCommon >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val und = raw.select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .localCheckpoint(true) // read 3×: wedges, anti-join, degrees
    val adj = und.select(col("a").as("y"), col("b").as("x"))
      .unionAll(und.select(col("b").as("y"), col("a").as("x")))
    val cand = adj.as("p").join(adj.as("q"),
        col("p.y") === col("q.y") && col("p.x") < col("q.x"))
      .groupBy(col("p.x").as("a"), col("q.x").as("b"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    cand
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        floor(col("cn") * lit(10000.0) /
          (col("da") + col("db") - col("cn"))).cast("long")
          .as("jaccard_bp"))
  }

  /** Pivot-sampled HARMONIC centrality — `C(v) = Σ_s 1/d(s, v)` over a
    * bounded source sample, the closeness variant that handles
    * disconnected graphs natively (unreachable pairs contribute 0, no
    * 1/∞ bookkeeping) — Boldi & Vigna 2014's recommended centrality
    * for web-scale graphs. Contributions are integer MICRO-units
    * (`10⁶ div d` per reached source, an exact Long sum — double
    * 1/d accumulation is order-dependent and would haze the oracle
    * hash). Output `(id, n_reached, harmonic_micro)` for every node
    * reached by at least one source (sources see themselves at d = 0,
    * contributing nothing).
    *
    * Scale shape: ONE tagged multi-source BFS — state `(src, id,
    * dist)` bounded by |V|·|sources| (sources are the caller's pivot
    * sample, the [[betweennessApprox]] stance), each round one
    * equi-join of the state frame against the static checkpointed
    * adjacency + one grouped min; `maxDepth` rounds, a converged round
    * is idempotent (min-union), so the fixed-round oracle unroll
    * replays exactly. No per-pivot loop: all sources advance in the
    * same jobs. */
  def harmonicCentrality(edges: DataFrame, srcCol: Column,
      dstCol: Column, sources: DataFrame, sourceIdCol: Column,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "harmonicCentrality: maxDepth must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = Rounds.checkpoint(raw
      .unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()).frame
    // NOTE (r15 measured, kept as-was): a frontier-based rewrite
    // (expand only the newly-discovered (src, id) pairs, anti-join
    // the accumulated slices, early-exit on an empty frontier) was
    // A/B'd and MEASURED SLOWER (q379 3.9→4.3 s clean-window 3-rep;
    // taskSec 11.7→14.0, jobs 31→49): the anti-join re-shuffles the
    // whole accumulated pair set every round — the same bytes the
    // grouped-min pass already moves — plus an extra count job per
    // round and fragmented union scans. Reverted.
    val init = Rounds.checkpoint(sources
      .select(sourceIdCol.cast("long").as("src"))
      .distinct()
      .select(col("src"), col("src").as("id"), lit(0L).as("dist"))).frame
    Rounds.repeat(init, maxDepth) { dist =>
      val nxt = dist.join(adj, col("id") === col("s"))
        .select(col("src"), col("t").as("id"),
          (col("dist") + 1L).as("dist"))
      dist.unionAll(nxt).groupBy("src", "id").agg(min("dist").as("dist"))
    }.filter(col("dist") > 0)
      .groupBy("id")
      .agg(count(lit(1)).as("n_reached"),
        sum(floor(lit(1000000.0) / col("dist")).cast("long"))
          .as("harmonic_micro"))
  }

  /** Degree-weighted link prediction — [[linkPredictionScores]] with
    * the two classical hub-discounted scores: a common neighbor that
    * connects half the graph says nothing, one with degree 3 says a
    * lot. Per non-adjacent distance-2 pair: `cn` (common neighbors),
    * Resource Allocation `Σ_y 1/deg(y)` and Adamic–Adar
    * `Σ_y 1/ln(deg(y))`, both in integer MICRO-units summed as Longs
    * (`⌊10⁶/deg⌋` is exact — the true ratio is ≥ 1/deg ≈ 10⁻⁶ away
    * from any integer; `⌊10⁶/ln deg⌋` floors one double whose
    * distance to an integer boundary is transcendental — the
    * [[harmonicCentrality]] micro-unit stance, no order-dependent
    * double accumulation). A common neighbor has deg ≥ 2 by
    * construction, so ln never sees 1. Output `(a, b, cn, ra_micro,
    * aa_micro)` for pairs with `cn ≥ minCommon`.
    *
    * Scale shape: identical to [[linkPredictionScores]] — the wedge
    * equi-join (bounded by Σ deg², the two-hop mass), one broadcast-
    * sized degree join on the wedge CENTER before grouping, one
    * grouped sum, one anti-join against the edge set. */
  def linkPredictionWeighted(edges: DataFrame, srcCol: Column,
      dstCol: Column, minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, "linkPredictionWeighted: minCommon >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val und = raw.select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .localCheckpoint(true) // read 3x: wedges, anti-join, degrees
    val adj = und.select(col("a").as("y"), col("b").as("x"))
      .unionAll(und.select(col("b").as("y"), col("a").as("x")))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    adj.as("p").join(adj.as("q"),
        col("p.y") === col("q.y") && col("p.x") < col("q.x"))
      .select(col("p.x").as("a"), col("q.x").as("b"),
        col("p.y").as("y"))
      .join(deg.select(col("id").as("y"), col("deg")), "y")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(floor(lit(1000000.0) / col("deg")).cast("long"))
          .as("ra_micro"),
        sum(floor(lit(1000000.0) / log(col("deg").cast("double")))
          .cast("long")).as("aa_micro"))
      .filter(col("cn") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus
    * generator: one walk of `steps` hops from EVERY node of the
    * undirected graph, the skip-gram training pairs for graph
    * embeddings read off with a self-join on the output. The "random"
    * choice is content-keyed (the md5 stance everywhere else in the
    * library): at step `s`, the walk at `cur` moves to the neighbor
    * minimizing `(md5(start:s:nbr), nbr)` — no RNG state, identical
    * on any engine, partitioning or run, and replayable by a SQL
    * oracle as an unrolled per-step argmin. Every node of the simple
    * graph has degree ≥ 1, so walks never die; backtracking is
    * allowed (the plain DeepWalk convention). Output
    * `(start, step, node)` for steps 0..steps.
    *
    * Scale shape: |V| walk states of constant width; each step is
    * ONE equi-join of the state frame against the static
    * checkpointed adjacency followed by one grouped min — the
    * [[bfsDistances]] round shape with the frontier pinned at |V|.
    * Walk count scales with nodes, never with edges². */
  def randomWalks(edges: DataFrame, srcCol: Column, dstCol: Column,
      steps: Int): DataFrame = {
    require(steps >= 1, "randomWalks: steps must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = Rounds.checkpoint(raw
      .unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()).frame
    var cur = Rounds.checkpoint(adj.select(col("s").as("start")).distinct()
      .select(col("start"), col("start").as("node"))).frame
    val slices = Seq.newBuilder[DataFrame]
    slices += cur.select(col("start"), lit(0L).as("step"),
      col("node"))
    for (st <- 1 to steps) {
      cur = Rounds.checkpoint(cur.join(adj, col("node") === col("s"))
        .select(col("start"),
          md5(concat_ws(":", col("start"), lit(st.toLong),
            col("t"))).as("h"),
          col("t"))
        .groupBy("start")
        .agg(min(struct(col("h"), col("t"))).as("m"))
        .select(col("start"), col("m.t").as("node"))).frame
      slices += cur.select(col("start"), lit(st.toLong).as("step"),
        col("node"))
    }
    slices.result().reduce(_ unionAll _)
  }

  /** Bipartite check of the pivot's connected component — "is this
    * really a two-mode graph": BFS layering from the minimum-id node,
    * then the classical certificate — the component is bipartite iff
    * NO edge joins two nodes of equal BFS-depth parity (a same-parity
    * edge closes an odd cycle; in a bipartite graph every edge
    * crosses parity). The two-mode validation an entity-resolution
    * pipeline runs before projecting a user–item graph. Scope is the
    * PIVOT'S component (the [[diameterDoubleSweep]] stance — a
    * per-component variant needs component labels first, whose cost
    * is the caller's call via [[graft.ops.Dedup.duplicateClusters]]).
    * The horizon is LOUD (depth = maxDepth rows fail fast). Output
    * ONE row `(seed, n_reached, n_edges, odd_edges, bipartite)`;
    * `odd_edges` counts the certificate's violations — the exact
    * worklist size for de-oddifying cleanup.
    *
    * Scale shape: one [[bfsDistances]] run + one edge join against
    * the |component| dist frame + one count; one bounded 1-row
    * collect for the horizon certificate. */
  def bipartiteCheck(edges: DataFrame, srcCol: Column,
      dstCol: Column, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "bipartiteCheck: maxDepth must be >= 1")
    val spark = edges.sparkSession
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val und = raw
      .unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
      .localCheckpoint(true) // read by the sweep + the parity join
    val pivotRows = und.agg(min(col("s")).as("id")).collect()
    if (pivotRows.isEmpty || pivotRows(0).isNullAt(0))
      return spark.range(0).select(col("id").as("seed"),
        col("id").as("n_reached"), col("id").as("n_edges"),
        col("id").as("odd_edges"),
        lit(true).as("bipartite"))
    val pivot = pivotRows(0).getLong(0)
    val dist = bfsDistances(und, col("s"), col("t"),
        spark.range(pivot, pivot + 1).select(col("id")), col("id"),
        maxDepth)
      .localCheckpoint(true) // read 3x: horizon + two edge joins
    val horizon = dist.agg(max("dist").as("m"),
      count(lit(1)).as("nr")).collect()(0)
    require(horizon.getLong(0) < maxDepth,
      s"bipartiteCheck: the sweep hit the maxDepth = $maxDepth " +
        "horizon — the component is not fully layered; raise " +
        "maxDepth past the component's eccentricity from the pivot")
    val undCanon = und.filter(col("s") < col("t"))
    val parity = undCanon
      .join(dist.select(col("id").as("s"), col("dist").as("da")),
        Seq("s"))
      .join(dist.select(col("id").as("t"), col("dist").as("db")),
        Seq("t"))
    parity.agg(count(lit(1)).as("n_edges"),
        sum(when(pmod(col("da") + col("db"), lit(2L)) === 0L, 1L)
          .otherwise(0L)).as("odd_edges"))
      .select(lit(pivot).as("seed"),
        lit(horizon.getLong(1)).as("n_reached"),
        col("n_edges"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"),
        (coalesce(col("odd_edges"), lit(0L)) === 0L).as("bipartite"))
  }

  /** Greedy maximal matching — round-synchronous mutual-min matching
    * (Israeli–Itai): every edge carries a fixed content-keyed
    * priority `(md5(a:b), a, b)` (the library's md5 stance — no RNG
    * state, engine/run/partitioning-invariant), each round every
    * active node nominates its minimum-priority incident edge, edges
    * nominated by BOTH endpoints match, matched nodes retire with
    * all their edges. Fixed random priorities give O(log m) rounds
    * with high probability; the globally-minimal active edge is
    * always mutual, so every round makes progress. The result is a
    * MAXIMAL matching (no augmentation claim — maximum matching is a
    * different, sequential animal), the greedy pair-picker for
    * duplicate-merge planning: each dup pair merges at most once per
    * pass. The round budget is LOUD: active edges left after
    * `rounds` fail fast rather than return a silently-non-maximal
    * matching. Output `(a, b, round)` — the matched edges and the
    * round each landed.
    *
    * Scale shape: per round ONE grouped struct-min over the 2·|E|
    * nominee rows + two equi-joins + two anti-joins, all on the
    * shrinking active set; stats-reset checkpoints per round (the
    * duplicateClusters discipline). The oracle unrolls the identical
    * rounds — converged (empty) rounds are no-ops, so a fixed-round
    * unroll replays exactly. */
  def maximalMatching(edges: DataFrame, srcCol: Column,
      dstCol: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, "maximalMatching: rounds must be >= 1")
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    // active-edge counts ride each checkpoint's materialization job, so
    // exhausted inputs exit early — converged (empty) rounds are
    // no-ops, so skipping them cannot change the output (their slices
    // would be empty frames).
    val Rounds.Checkpoint(act0, actN0, _) = Rounds.checkpoint(raw
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .select(col("a"), col("b"),
        md5(concat_ws(":", col("a"), col("b"))).as("h")))
    var act = act0
    var actN = actN0
    val eStruct = struct(col("h"), col("a"), col("b"))
    val slices = Seq.newBuilder[DataFrame]
    var r = 1
    while (r <= rounds && actN > 0) {
      val prio = act.select(col("a").as("id"), col("h"), col("a"),
          col("b"))
        .unionAll(act.select(col("b").as("id"), col("h"), col("a"),
          col("b")))
        .groupBy("id")
        .agg(min(struct(col("h"), col("a"), col("b"))).as("m"))
      val mr = Rounds.checkpoint(act
        .join(prio.select(col("id").as("a"), col("m").as("ma")), "a")
        .join(prio.select(col("id").as("b"), col("m").as("mb")), "b")
        .filter(col("ma") === eStruct && col("mb") === eStruct)
        .select(col("a"), col("b"), lit(r.toLong).as("round"))).frame
      slices += mr
      val mn = mr.select(col("a").as("id"))
        .unionAll(mr.select(col("b").as("id")))
      val next = Rounds.checkpoint(act
        .join(mn, col("a") === col("id"), "left_anti")
        .join(mn, col("b") === col("id"), "left_anti"))
      act = next.frame
      actN = next.rows
      r += 1
    }
    require(actN == 0L,
      s"maximalMatching: active edges remain after rounds = $rounds " +
        "— the matching is not yet maximal; raise rounds (mutual-min "
        + "retires a constant fraction of edges per round, so a few " +
        "more suffice)")
    val out = slices.result()
    if (out.isEmpty) // exhausted before round 1: empty matching
      act.select(col("a"), col("b"), lit(0L).as("round")).limit(0)
    else out.reduce(_ unionAll _)
  }

  /** Double-sweep diameter bound — the classical 2-BFS estimate
    * (Magnien, Latapy & Habib 2009): BFS from the minimum-id node,
    * BFS again from the farthest node found, and the second
    * eccentricity is a LOWER bound on the diameter that is exact on
    * trees and empirically tight on real graphs — the "how deep is
    * this crawl graph" gauge at two BFS's cost instead of |V|.
    * Both sweeps run on the pivot's connected component (documented:
    * a disconnected graph bounds ITS component). Ties in the
    * farthest-node argmax break on min id. The horizon is LOUD: if
    * either sweep still has distance = `maxDepth` rows the bound may
    * be truncated, and the op fails fast with the remedy rather than
    * reporting a silently-low diameter. Output ONE row `(pivot,
    * ecc_pivot, far_node, diameter_lb, far_end, n_reached)`.
    *
    * Scale shape: two [[bfsDistances]] runs (each: rounds ≤ ecc,
    * frontier equi-joins against the checkpointed adjacency) plus
    * two 1-row TakeOrdered collects (bounded driver traffic — the
    * [[topoLayers]] certificate stance). */
  def diameterDoubleSweep(edges: DataFrame, srcCol: Column,
      dstCol: Column, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "diameterDoubleSweep: maxDepth must be >= 1")
    val spark = edges.sparkSession
    val raw = edges.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val und = raw
      .unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
      .localCheckpoint(true) // read by both sweeps
    def sweep(seed: DataFrame): DataFrame =
      bfsDistances(und, col("s"), col("t"), seed, col("id"), maxDepth)
    def farthest(d: DataFrame, sweepName: String): (Long, Long, Long) = {
      val row = d.orderBy(col("dist").desc, col("id")).limit(1)
        .crossJoin(d.agg(count(lit(1)).as("nr"))).collect()(0)
      require(row.getLong(1) < maxDepth,
        s"diameterDoubleSweep: the $sweepName sweep hit the " +
          s"maxDepth = $maxDepth horizon — the eccentricity may be " +
          "truncated; raise maxDepth past the graph's diameter")
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    val pivotRows = und.agg(min(col("s")).as("id")).collect()
    if (pivotRows.isEmpty || pivotRows(0).isNullAt(0))
      return spark.range(0).select(col("id").as("pivot"),
        col("id").as("ecc_pivot"), col("id").as("far_node"),
        col("id").as("diameter_lb"), col("id").as("far_end"),
        col("id").as("n_reached"))
    val pivot = pivotRows(0).getLong(0)
    val (farNode, eccPivot, _) = farthest(
      sweep(spark.range(pivot, pivot + 1).select(col("id"))),
      "first")
    val (farEnd, diamLb, nReached) = farthest(
      sweep(spark.range(farNode, farNode + 1).select(col("id"))),
      "second")
    spark.range(1).select(lit(pivot).as("pivot"),
      lit(eccPivot).as("ecc_pivot"), lit(farNode).as("far_node"),
      lit(diamLb).as("diameter_lb"), lit(farEnd).as("far_end"),
      lit(nReached).as("n_reached"))
  }
}
