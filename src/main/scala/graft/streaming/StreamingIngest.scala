package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ingest.IngestJob
import graft.store.VectorStore

/**
 * Incremental ingest (SURVEY §1.1 "Stream" extension point): a Structured
 * Streaming file source watches the docs directory, and each micro-batch
 * of new files goes through the SAME write end as the batch pipeline —
 * [[IngestJob.sink]] in append mode — so decode → chunk → normalize →
 * embed, the table writes and the counts are the batch ones verbatim.
 * The store keeps its layout: fixed-centroid IVF assignment when it has
 * centroids, incremental HNSW linking when it has a graph, and an
 * `index_metadata.json` count advanced by each batch's chunks.
 *
 * The reference has no streaming (its 500 ms GUI timer is UI polling,
 * SURVEY §1.1); its checkpoint/resume machinery (C2) maps to the streaming
 * checkpoint directory here.
 */
object StreamingIngest {

  /** Schema of the `binaryFile` source (required for streaming reads). */
  val binarySchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  def start(spark: SparkSession, docsDir: String, warehouse: String, db: String,
      cfg: IngestJob.Config = IngestJob.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      dedupeWatermark: Option[String] = Some("10 minutes")): StreamingQuery = {
    val store = new VectorStore(spark, warehouse)
    // The layout follows the side tables the store has; one that exists
    // but cannot be read fails here, before any batch appends (FLAT files
    // appended to an IVF store would escape its cluster pruning).
    // IVF: each batch is assigned row-locally against the FIXED centroids
    // (no retraining) and appended under its cluster directories, so an
    // [[graft.query.Searcher.Ivf]] search's pruning stays valid; re-cluster
    // by re-running writeVectorsIvf when drift warrants it. HNSW: each
    // batch links into the persisted graph ([[VectorStore.appendHnsw]]),
    // so a [[graft.query.Searcher.Hnsw]] search stays current without a
    // rebuild.
    val centroids = Option.when(store.hasTable(db, "centroids"))(store.centroids(db))
      .filter(_.nonEmpty)
    val hnsw = store.hasTable(db, "hnsw_meta")
    if (hnsw) store.hnswMeta(db)
    // The vector count is read once per query, then advanced by each
    // batch's own chunk count — never a per-batch recount of the table.
    // It shares foreachBatch's at-least-once semantics (a retried,
    // partially written batch appends twice); `compactVectors` or a
    // manual recount re-baselines.
    var mode = IngestJob.Append(store.numVectors(db), centroids, hnsw)

    val binary = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .load(docsDir)
    // content-level dedup ACROSS micro-batches: the file source already
    // skips re-listed paths, but re-delivered content under a new path
    // (copies, atomic-rename re-drops) would duplicate vectors. Keyed
    // state on sha2(content) with dropDuplicatesWithinWatermark bounds the
    // state by the watermark horizon — at 100 TB/day the state holds one
    // 32-byte hash per in-horizon file, not the files (None disables).
    val src = dedupeWatermark.fold(binary) { w =>
      binary
        .withColumn("content_hash", sha2(col("content"), 256))
        .withWatermark("modificationTime", w)
        .dropDuplicatesWithinWatermark("content_hash")
        .drop("content_hash")
    }

    src.writeStream
      .option("checkpointLocation", s"${store.dbDir(db)}/_ingest_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val res = IngestJob.sink(batch, store, db, cfg, mode)
          mode = mode.copy(vectorsBefore = mode.vectorsBefore + res.chunks)
        }
      }
      .start()
  }
}

/**
 * Streaming analytics over the `events` shape (SURVEY §2.9 extension):
 * watermarked tumbling-window aggregation — the streaming twin of batch
 * Q38 — plus custom-state sessionization via `flatMapGroupsWithState`.
 */
object StreamingOps {

  /** Tumbling-window counts/sums per event_type with late-data watermark. */
  def windowedEventStats(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("s"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("s"))

  /**
   * Watermarked stream-stream interval join: each left event joined to the
   * same-key right events whose timestamp falls in
   * `[left.ts - window, left.ts]`. Both sides carry watermarks, so join
   * state is bounded by `watermark + window` per key — the streaming
   * analogue of the batch as-of/range join (q73), with state eviction in
   * place of a carry-forward window. Column contract: both frames expose
   * `ts TIMESTAMP` and the key column; output qualifies columns with
   * `l_` / `r_` prefixes.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      windowMs: Long, watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    val cond = expr(
      s"l.$key = r.$key AND " +
      s"r.ts >= l.ts - INTERVAL $windowMs MILLISECONDS AND r.ts <= l.ts")
    l.join(r, cond)
      .select(col(s"l.$key").as(key),
        col("l.ts").as("l_ts"), col("r.ts").as("r_ts"))
  }

  /**
   * Streaming decontamination: flag each incoming document by how many
   * distinct word `n`-grams it shares with a STATIC benchmark corpus —
   * the ingest-time twin of [[graft.ops.QualitySignals.contamination]].
   * Returns the input columns plus `n_shared`; filter `n_shared <
   * minShared` for the clean stream.
   *
   * Streaming shape: deliberately STATELESS. The benchmark gram set is
   * driver-collected once at stream start and ships as a literal inside
   * the expression (eval sets are tiny next to any corpus — the same
   * assumption the batch operator's broadcast makes), so the check is a
   * row-local `array_intersect` — no stream aggregation, no watermark,
   * no state store, works in append mode on any trigger. A benchmark too
   * large for a literal belongs in a stream-static join instead; that
   * variant would still be stateless but pays a per-batch join.
   */
  def decontaminate(docs: DataFrame, textCol: Column,
      bench: DataFrame, benchTextCol: Column, n: Int = 3): DataFrame = {
    import graft.ops.QualitySignals.grams
    val benchGrams: Seq[String] = bench
      .select(split(trim(benchTextCol), "\\s+").as("tk"))
      .select(explode(grams(col("tk"), n)).as("g"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    // tk staged as a real projection: split() inlined into the gram
    // lambda would re-run the regex per array element (grams scaladoc)
    docs.withColumn("__tk", split(trim(textCol), "\\s+"))
      .withColumn("n_shared",
        size(array_intersect(array_distinct(grams(col("__tk"), n)),
          typedLit(benchGrams))))
      .drop("__tk")
  }

  final case class SnapState(ver: Long, id: Long, text: String)
  final case class SnapRow(key: String, ver: Long, id: Long, text: String)

  /** Streaming twin of [[graft.ops.Dedup.latestSnapshot]]: the current
    * version per key maintained ACROSS micro-batches with explicit state
    * (`flatMapGroupsWithState`, update mode) — a row is emitted only
    * when a key's winner CHANGES, so out-of-order recrawls (an older
    * version arriving after a newer one, the case a per-batch struct-max
    * cannot see) are absorbed silently. Same winner rule: highest
    * version, ties toward the smallest id. Input columns:
    * `key STRING, ver LONG, id LONG, text STRING`. State is one
    * (ver, id, text) per live key — bound it with retention policy in
    * the query (state TTL) when the key space is unbounded. */
  def streamingLatestSnapshot(updates: DataFrame): org.apache.spark.sql.Dataset[SnapRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = updates.sparkSession
    import spark.implicits._
    val typed = updates
      .select(col("key").cast("string"), col("ver").cast("long"),
        col("id").cast("long"), col("text").cast("string"))
      .as[(String, Long, Long, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, Long, String)],
       state: GroupState[SnapState]) =>
        val before = state.getOption
        var cur = before
        for ((_, ver, id, text) <- rows) {
          val better = cur.forall(s =>
            ver > s.ver || (ver == s.ver && id < s.id))
          if (better) cur = Some(SnapState(ver, id, text))
        }
        cur match {
          case Some(s) if before != cur =>
            state.update(s)
            Iterator.single(SnapRow(key, s.ver, s.id, s.text))
          case _ => Iterator.empty
        }
    }
  }

  /** TTL twin of [[streamingLatestSnapshot]] for UNBOUNDED key spaces:
    * `ver` doubles as event-time milliseconds (the natural crawl
    * timestamp), and a key whose winner has not been refreshed for
    * `ttlMs` past the watermark is EVICTED — state stays bounded by the
    * live-key working set instead of growing with every key ever seen.
    * Eviction emits a tombstone `(key, -1, -1, "")` so downstream
    * snapshot materializers can delete the key; a later recrawl simply
    * re-creates it as fresh. Same winner rule as the untimed variant. */
  def streamingLatestSnapshotTtl(updates: DataFrame,
      ttlMs: Long): org.apache.spark.sql.Dataset[SnapRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be > 0")
    val spark = updates.sparkSession
    import spark.implicits._
    val typed = updates
      .select(col("key").cast("string"), col("ver").cast("long"),
        col("id").cast("long"), col("text").cast("string"),
        timestamp_millis(col("ver").cast("long")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .as[(String, Long, Long, String, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
      (key: String, rows: Iterator[(String, Long, Long, String, java.sql.Timestamp)],
       state: GroupState[SnapState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.single(SnapRow(key, -1L, -1L, ""))
        } else {
          val before = state.getOption
          var cur = before
          for ((_, ver, id, text, _) <- rows) {
            val better = cur.forall(s =>
              ver > s.ver || (ver == s.ver && id < s.id))
            if (better) cur = Some(SnapState(ver, id, text))
          }
          cur.foreach { s =>
            state.update(s)
            // re-arm on every batch that touches the key; a timeout
            // timestamp at-or-behind the watermark is rejected, so a
            // winner already older than the TTL evicts on the next tick
            state.setTimeoutTimestamp(
              math.max(s.ver + ttlMs, state.getCurrentWatermarkMs() + 1))
          }
          cur match {
            case Some(s) if before != cur =>
              Iterator.single(SnapRow(key, s.ver, s.id, s.text))
            case _ => Iterator.empty
          }
        }
    }
  }

  final case class KmvState(hashes: Seq[Long])
  final case class KmvRow(grp: String, n_kept: Long, est_distinct: Double)

  /** Streaming twin of [[graft.ops.Scale.kmvDistinct]] — the mergeable
    * path that op's scaladoc promises: per group the state is the k
    * smallest DISTINCT md5-60-bit hashes seen so far (k longs, the
    * fixed-size sync no exact distinct can offer); each micro-batch
    * merges its values' hashes in and re-emits the group's current
    * estimate in update mode. Same estimator, same md5 determinism —
    * the streaming estimate equals the batch op run on the union of
    * everything fed so far, which is what the parity spec pins.
    * Input columns: `grp STRING, v STRING`. */
  def streamingKmvDistinct(values: DataFrame,
      k: Int): org.apache.spark.sql.Dataset[KmvRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 2, "streamingKmvDistinct: k >= 2")
    val spark = values.sparkSession
    import spark.implicits._
    val range = 1152921504606846976.0 // 2^60
    val typed = values
      .select(col("grp").cast("string"), col("v").cast("string"))
      .as[(String, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (grp: String, rows: Iterator[(String, String)],
       state: GroupState[KmvState]) =>
        val prev = state.getOption.map(_.hashes).getOrElse(Seq.empty)
        val merged = scala.collection.mutable.TreeSet[Long](prev: _*)
        rows.foreach { case (_, v) =>
          if (v != null) {
            merged += graft.expr.PortableHash.hex15(v)
            if (merged.size > k) merged -= merged.last
          }
        }
        val kept = merged.toSeq // ascending
        state.update(KmvState(kept))
        val est =
          if (kept.size < k) kept.size.toDouble
          else (k - 1) * range / kept.last.toDouble
        Iterator.single(KmvRow(grp, kept.size.toLong,
          BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
    }
  }

  final case class AmsState(n: Long, z: Seq[Long])
  final case class AmsRow(grp: String, n_rows: Long, k: Long,
      f2_sum: Long)

  /** Streaming twin of [[graft.ops.Scale.amsF2]] — the live self-join
    * size readout. The AMS sketch is mergeable BY CONSTRUCTION (sign
    * sums commute and add), so the per-key state is exactly the k
    * running sign sums plus a row count; each micro-batch folds its
    * rows in and emits the key's current `(n_rows, k, f2_sum)`.
    * Parity with the batch op over the union of batches is
    * UNCONDITIONAL — md5 signs are per-value, integer sums are
    * order-independent — no arrival-order caveat (the
    * [[streamingKmvDistinct]] class of twin). One deliberate
    * divergence from the batch op's decimal(38,0): `f2_sum` here is a
    * Long with LOUD overflow (`Math.multiplyExact`/`addExact` throw),
    * which caps the twin at |Z| ≈ 3·10⁹ rows per key — a live per-key
    * feed past that belongs in the batch op's decimal path, and a
    * silent wrap would be worse than a crash. Input columns:
    * `grp STRING, v STRING`. */
  def streamingAmsF2(values: DataFrame,
      k: Int): org.apache.spark.sql.Dataset[AmsRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 1 && k <= 64, s"streamingAmsF2: k in [1, 64], got $k")
    val spark = values.sparkSession
    import spark.implicits._
    val typed = values
      .select(col("grp").cast("string"), col("v").cast("string"))
      .as[(String, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (grp: String, rows: Iterator[(String, String)],
       state: GroupState[AmsState]) =>
        val st = state.getOption.getOrElse(AmsState(0L, Seq.fill(k)(0L)))
        var n = st.n
        val z = st.z.toArray
        rows.foreach { case (_, v) =>
          if (v != null) {
            n += 1
            var j = 1
            while (j <= k) {
              // zero-padded j: the batch op's injective seed encoding
              // (advisor r13) — twins must draw identical signs
              z(j - 1) +=
                (if (graft.expr.PortableHash.hex15(f"$j%02d:$v") % 2 == 0)
                   1L
                 else -1L)
              j += 1
            }
          }
        }
        state.update(AmsState(n, z.toSeq))
        var f2 = 0L
        z.foreach { zi =>
          f2 = Math.addExact(f2, Math.multiplyExact(zi, zi))
        }
        Iterator.single(AmsRow(grp, n, k.toLong, f2))
    }
  }

  final case class KAnonState(n: Long, svals: Seq[String])
  final case class KAnonRow(grp: String, n: Long, n_sensitive: Long,
      under_k: Boolean, under_l: Boolean)

  /** Streaming twin of [[graft.ops.Curation.kAnonymityReport]] — the
    * LIVE release gate: as rows stream in, each quasi-identifier
    * group's current k-anonymity / l-diversity status updates in
    * place, so a pipeline can hold a publish until every group it
    * touched clears (groups only IMPROVE as data accumulates — n and
    * distinct-sensitive are monotone — which is what makes a live
    * gate meaningful: a group that clears stays cleared). State is
    * bounded BY THE SEMANTICS: `under_l` only asks whether the group
    * has reached `l` distinct sensitive values, so at most `l`
    * values are ever stored per group (l-sufficient counting) — the
    * emitted `n_sensitive` therefore SATURATES at `l`, the one
    * documented divergence from the batch op's exact distinct
    * (parity: flags always agree; counts agree below the cap, the
    * StreamingSpec pin). Unlike the batch report this emits EVERY
    * updated group each batch, compliant or not — the "now
    * compliant" transition is the signal a gate waits for. Input
    * columns: `grp STRING` (the pre-concatenated quasi-identifier
    * combination), `sv STRING`. */
  def streamingKAnonymity(rows: DataFrame, k: Int,
      l: Int): org.apache.spark.sql.Dataset[KAnonRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 1 && l >= 1, "streamingKAnonymity: k, l must be >= 1")
    val spark = rows.sparkSession
    import spark.implicits._
    val typed = rows
      .select(col("grp").cast("string"), col("sv").cast("string"))
      .as[(String, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (grp: String, it: Iterator[(String, String)],
       state: GroupState[KAnonState]) =>
        val st = state.getOption.getOrElse(KAnonState(0L, Nil))
        var n = st.n
        val sv = scala.collection.mutable.LinkedHashSet(st.svals: _*)
        it.foreach { case (_, s) =>
          n += 1
          if (sv.size < l && s != null) sv += s
        }
        state.update(KAnonState(n, sv.toSeq))
        Iterator.single(KAnonRow(grp, n, sv.size.toLong,
          n < k, sv.size < l))
    }
  }

  final case class HwState(l: Double, b: Double, s: Seq[Double], i: Int)
  final case class HwRow(k: Long, n: Long, level: Double, trend: Double,
      forecast: Double)

  /** Streaming twin of [[graft.ops.Temporal.holtWintersSmooth]] — the
    * live seasonal forecaster: per key the state is the (level, trend,
    * m-length seasonal vector, count) quadruple the batch fold carries,
    * O(m) per key regardless of history; each batch sorts ITS rows by
    * `(t, tb)` and replays the identical IEEE recurrence, emitting the
    * key's current smoothed row in update mode. Equal to the batch op
    * when each key's points arrive time-ordered across batches (the
    * watermarked normal case, the [[streamingScd2]] convention);
    * out-of-order rows fold in arrival order — revising history needs
    * the batch replay, the price of O(m) state. Input columns:
    * `k LONG, t LONG, tb LONG, y DOUBLE`. */
  def streamingHoltWinters(points: DataFrame, alpha: Double, beta: Double,
      gamma: Double, period: Int, horizon: Int = 1)
      : org.apache.spark.sql.Dataset[HwRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1, "streamingHoltWinters: params in (0, 1)")
    require(period >= 2 && horizon >= 0,
      "streamingHoltWinters: period >= 2, horizon >= 0")
    val spark = points.sparkSession
    import spark.implicits._
    val typed = points
      .select(col("k").cast("long"), col("t").cast("long"),
        col("tb").cast("long"), col("y").cast("double"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[(Long, Long, Long, Double)],
       state: GroupState[HwState]) =>
        var st = state.getOption
          .getOrElse(HwState(0.0, 0.0, Seq.fill(period)(0.0), 0))
        val sArr = st.s.toArray
        var (l, b, i) = (st.l, st.b, st.i)
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, y) =>
          val pos = i % period
          val sOld = sArr(pos)
          // the batch HOF's exact expression trees (same IEEE order)
          val l1 = if (i == 0) y
            else alpha * (y - sOld) + (1.0 - alpha) * (l + b)
          val b1 = if (i == 0) 0.0
            else beta * (l1 - l) + (1.0 - beta) * b
          sArr(pos) = gamma * (y - l1) + (1.0 - gamma) * sOld
          l = l1; b = b1; i += 1
        }
        st = HwState(l, b, sArr.toSeq, i)
        state.update(st)
        if (i == 0) Iterator.empty
        else {
          def r4(x: Double) = BigDecimal(x)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val slot = ((i + horizon - 1) % period + period) % period
          Iterator.single(HwRow(key, i.toLong, r4(l), r4(b),
            r4(l + horizon.toDouble * b + sArr(slot))))
        }
    }
  }

  final case class PropState(nA: Long, xA: Long, nB: Long, xB: Long)
  final case class PropRow(exp: String, n_a: Long, n_b: Long, p_a: Double,
      p_b: Double, z: Option[Double], significant: Boolean)

  /** Streaming twin of [[graft.ops.Experiment.proportionTest]] — the
    * live experiment dashboard: per experiment the state is four longs
    * (per-arm unit and conversion counts); each batch's units fold in
    * and the current pooled two-proportion z re-emits in update mode.
    * The running readout equals the batch test over every unit fed so
    * far (exact integer state — no approximation anywhere), which is
    * what the parity spec pins. Peeking caveat documented: a
    * sequentially-watched z crosses 1.96 more often than its nominal
    * level; this mirrors the batch statistic, it does not correct for
    * continuous monitoring. Each unit must arrive once (the ingest
    * convention). Input columns: `exp STRING, arm INT (0/1), c LONG`. */
  def streamingProportionTest(units: DataFrame)
      : org.apache.spark.sql.Dataset[PropRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = units.sparkSession
    import spark.implicits._
    val typed = units
      .select(col("exp").cast("string"), col("arm").cast("int"),
        col("c").cast("long"))
      .as[(String, Int, Long)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (exp: String, rows: Iterator[(String, Int, Long)],
       state: GroupState[PropState]) =>
        var s = state.getOption.getOrElse(PropState(0L, 0L, 0L, 0L))
        rows.foreach { case (_, arm, c) =>
          if (arm == 0) s = s.copy(nA = s.nA + 1, xA = s.xA + c)
          else if (arm == 1) s = s.copy(nB = s.nB + 1, xB = s.xB + c)
        }
        state.update(s)
        if (s.nA == 0 || s.nB == 0) Iterator.empty
        else {
          val pa = s.xA.toDouble / s.nA
          val pb = s.xB.toDouble / s.nB
          val pp = (s.xA + s.xB).toDouble / (s.nA + s.nB)
          val z =
            if (pp > 0 && pp < 1)
              Some((pb - pa) / math.sqrt(pp * (1.0 - pp) *
                (1.0 / s.nA + 1.0 / s.nB)))
            else None
          def r4(x: Double) = BigDecimal(x)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Iterator.single(PropRow(exp, s.nA, s.nB, r4(pa), r4(pb),
            z.map(r4), z.exists(v => math.abs(v) > 1.96)))
        }
    }
  }

  final case class SprtState(llr: Double, n: Long, decided: Int,
      nAt: Long)
  final case class SprtRow(k: String, n: Long, decision: String,
      n_at_decision: Option[Long], llr_final: Double)

  /** Streaming twin of [[graft.ops.Experiment.sprtTest]] — the test
    * SPRT was actually designed for: outcomes arrive over time and the
    * experiment STOPS at the first Wald-bound crossing. State per key
    * is one double (the running LLR), one count, and the sticky
    * decision; each batch's outcomes fold in (t, tb) order with the
    * exact per-row increments the batch window sums, so the running
    * LLR is bit-identical to the batch statistic over everything fed
    * so far (the parity spec pins it). A decision, once crossed, never
    * un-decides — later outcomes keep folding into `llr_final` but
    * `n_at_decision` is frozen, exactly like the batch op's
    * first-crossing readout. Cross-batch arrival must respect event
    * order per key (the ingest convention; same caveat as
    * [[streamingHoltWinters]]). Input columns:
    * `k STRING, t LONG, tb LONG, x INT (0/1)`. */
  def streamingSprt(units: DataFrame, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2)
      : org.apache.spark.sql.Dataset[SprtRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "streamingSprt: p0, p1 in (0, 1), p0 != p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "streamingSprt: alpha, beta in (0, 1)")
    val wPos = math.log(p1 / p0)
    val wNeg = math.log((1.0 - p1) / (1.0 - p0))
    val lower = math.log(beta / (1.0 - alpha))
    val upper = math.log((1.0 - beta) / alpha)
    val spark = units.sparkSession
    import spark.implicits._
    val typed = units
      .select(col("k").cast("string"), col("t").cast("long"),
        col("tb").cast("long"), col("x").cast("int"))
      .as[(String, Long, Long, Int)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, Long, Int)],
       state: GroupState[SprtState]) =>
        var s = state.getOption.getOrElse(SprtState(0.0, 0L, 0, 0L))
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, x) =>
          s = s.copy(llr = s.llr + (if (x == 1) wPos else wNeg),
            n = s.n + 1)
          if (s.decided == 0) {
            if (s.llr >= upper) s = s.copy(decided = 1, nAt = s.n)
            else if (s.llr <= lower) s = s.copy(decided = -1, nAt = s.n)
          }
        }
        state.update(s)
        if (s.n == 0) Iterator.empty
        else {
          def r4(x: Double) = BigDecimal(x)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val dec = s.decided match {
            case 1 => "accept_h1"
            case -1 => "accept_h0"
            case _ => "continue"
          }
          Iterator.single(SprtRow(key, s.n, dec,
            if (s.decided == 0) None else Some(s.nAt), r4(s.llr)))
        }
    }
  }

  final case class PairCellState(cells: Seq[(Double, Double, Long)])
  final case class SpearmanRow(k: String, n: Long, rho: Option[Double])

  /** Streaming twin of [[graft.ops.Experiment.spearmanCorr]] — the
    * incremental rank-correlation readout: per key the state is the
    * COUNTED (x, y) cell table (bounded by the distinct pair count —
    * the discretized-metric regime this readout is for; `maxCells`
    * guards the assumption), and each batch's emission recomputes the
    * exact tie-corrected midrank Pearson over those cells, so the last
    * emission equals the batch statistic over everything fed (the
    * parity spec pins it at the shared 4dp rounding). Midranks replay
    * the batch arithmetic bit-for-bit: rank(v) = |smaller| +
    * (count+1)/2, moments weighted by cell counts. Input columns:
    * `k STRING, x DOUBLE, y DOUBLE`. */
  def streamingSpearman(pairs: DataFrame, maxCells: Int = 100000)
      : org.apache.spark.sql.Dataset[SpearmanRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxCells >= 1, "streamingSpearman: maxCells >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    val typed = pairs
      .select(col("k").cast("string"), col("x").cast("double"),
        col("y").cast("double"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Double, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Double, Double)],
       state: GroupState[PairCellState]) =>
        val m = scala.collection.mutable.HashMap.empty[(Double, Double), Long]
        state.getOption.foreach(_.cells.foreach { case (x, y, c) =>
          m.update((x, y), c) })
        rows.foreach { case (_, x, y) =>
          m.update((x, y), m.getOrElse((x, y), 0L) + 1L) }
        if (m.size > maxCells) throw new IllegalStateException(
          s"streamingSpearman: > $maxCells distinct (x, y) cells for " +
            s"key '$key' — the metric isn't discretized; bin it " +
            "upstream or raise maxCells")
        state.update(PairCellState(m.toSeq.map { case ((x, y), c) =>
          (x, y, c) }))
        if (m.isEmpty) Iterator.empty
        else {
          // midranks over counted values: rank(v) = |smaller| + (t+1)/2
          def ranks(vals: Seq[(Double, Long)]): Map[Double, Double] = {
            var cum = 0L
            vals.sortBy(_._1).map { case (v, t) =>
              val r = cum + (t + 1) / 2.0; cum += t; v -> r
            }.toMap
          }
          val rx = ranks(m.toSeq.groupBy(_._1._1)
            .map { case (v, cs) => v -> cs.map(_._2).sum }.toSeq)
          val ry = ranks(m.toSeq.groupBy(_._1._2)
            .map { case (v, cs) => v -> cs.map(_._2).sum }.toSeq)
          var n = 0L
          var sx, sy, sxx, syy, sxy = 0.0
          // fold in sorted-cell order so re-feeds replay identically
          m.toSeq.sortBy { case ((x, y), _) => (x, y) }.foreach {
            case ((x, y), c) =>
              val (a, b) = (rx(x), ry(y))
              n += c; sx += c * a; sy += c * b
              sxx += c * a * a; syy += c * b * b; sxy += c * a * b
          }
          val varX = n * sxx - sx * sx
          val varY = n * syy - sy * sy
          def r4(v: Double) = BigDecimal(v)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val rho =
            if (varX > 0 && varY > 0)
              Some(r4((n * sxy - sx * sy) /
                (math.sqrt(varX) * math.sqrt(varY))))
            else None
          Iterator.single(SpearmanRow(key, n, rho))
        }
    }
  }

  final case class BootState(n: Long, sumV: Double, sv: Seq[Double],
      sw: Seq[Long])
  final case class BootRow(k: String, n: Long, mean: Double,
      lo: Option[Double], hi: Option[Double])

  /** Streaming twin of [[graft.ops.Experiment.bootstrapMeanCI]] — the
    * Poisson bootstrap's killer streaming property made explicit: the
    * per-replicate state is just (Σwv, Σw) counter PAIRS, which fold
    * row by row in any order, so a LIVE confidence interval for the
    * mean costs O(nBoot) state per key and zero resampling. The md5
    * weight draw keys on (id, replicate) — identical to the batch op —
    * so the final emission equals the batch interval over everything
    * fed (the parity spec pins it; double-addition ORDER may differ
    * from the batch shuffle's, a ≤1-ulp effect the spec tolerances).
    * Input columns: `k STRING, id LONG, v DOUBLE`. */
  def streamingBootstrapMean(values: DataFrame, nBoot: Int = 50,
      alpha: Double = 0.05): org.apache.spark.sql.Dataset[BootRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(nBoot >= 4 && nBoot <= 10000,
      "streamingBootstrapMean: nBoot in [4, 10000]")
    require(alpha > 0 && alpha < 1, "streamingBootstrapMean: alpha in (0, 1)")
    val cum = graft.ops.Experiment.poissonCum.toArray
    val loRank = math.max(1, math.ceil(alpha / 2 * nBoot).toInt)
    val hiRank = math.min(nBoot, math.ceil((1 - alpha / 2) * nBoot).toInt)
    val spark = values.sparkSession
    import spark.implicits._
    val typed = values
      .select(col("k").cast("string"), col("id").cast("long"),
        col("v").cast("double"))
      .filter(col("v").isNotNull)
      .as[(String, Long, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, Double)],
       state: GroupState[BootState]) =>
        val st = state.getOption.getOrElse(
          BootState(0L, 0.0, Vector.fill(nBoot)(0.0),
            Vector.fill(nBoot)(0L)))
        var n = st.n; var sumV = st.sumV
        val sv = st.sv.toArray; val sw = st.sw.toArray
        rows.foreach { case (_, id, v) =>
          n += 1; sumV += v
          var b = 0
          while (b < nBoot) {
            val u = graft.expr.PortableHash.hex15(s"$id:$b").toDouble /
              1152921504606846976.0
            var w = 8
            var j = 0
            var found = false
            while (j < cum.length && !found) {
              if (u < cum(j)) { w = j; found = true }
              j += 1
            }
            if (w > 0) { sv(b) += w * v; sw(b) += w }
            b += 1
          }
        }
        state.update(BootState(n, sumV, sv.toVector, sw.toVector))
        if (n == 0) Iterator.empty
        else {
          val means = (0 until nBoot).iterator
            .filter(b => sw(b) > 0)
            .map(b => (sv(b) / sw(b), b))
            .toIndexedSeq.sortBy(identity)
          Iterator.single(BootRow(key, n, sumV / n,
            means.lift(loRank - 1).map(_._1),
            means.lift(hiRank - 1).map(_._1)))
        }
    }
  }

  final case class DriftRow(k: String, cm: Long, tot: Long, inn: Long,
      dup_dropped: Long)
  final case class DriftState(cells: Seq[(Long, Long, Long)], dups: Long)

  /** Loud pre-count guard for the drift twins' frozen-reference
    * driver collects (round-13 verdict ask #1): a |V|-sized
    * assignment or degree table collected into a broadcast map must
    * fit the driver BY DECLARATION, not by luck — past the knob the
    * message names the batch equi-join alternative, exactly the
    * [[graft.ops.TextAnalysis.winnowOverlapAgainst]] stance. ~48 B
    * per (Long, Long) map entry. */
  private def guardFrozenCollect(n: Long, op: String, what: String,
      maxEntries: Long): Unit =
    require(n <= maxEntries,
      s"$op: the $what has $n entries > maxAssignEntries = " +
        f"$maxEntries (${n * 48e-9}%.1f GiB as a driver map at ~48 B/" +
        "entry) — a live twin cannot hold a web-scale frozen reference " +
        "on the driver; keep the batch equi-join over the persisted " +
        "assignment/degree table (Graph.modularityNumerator / " +
        "degreeAssortativity) instead, or raise maxAssignEntries " +
        "deliberately")

  /** Streaming twin of [[graft.ops.Graph.modularityNumerator]] — LIVE
    * community-quality drift (the one graph readout that streams
    * naturally): hold an assignment FROZEN (yesterday's Louvain run —
    * collected to a task-side broadcast map, the same fits-in-memory
    * bound the round-12 broadcast joins carried) and fold arriving
    * edges into per-community integer counters — `tot` (+2 if both
    * endpoints share the community, else +1 to each side's community)
    * and `inn` (+1 on shared) — state bounded by the number of
    * communities per key. The live modularity numerator is then
    * `Σ_c (4m·inn_c − tot_c²)` with `2m = Σ_c tot_c`, computable from
    * the emitted table at any instant; as the graph grows away from
    * the frozen partition, Q decays — the re-cluster trigger.
    *
    * Duplicate edges: the batch op distincts; a streaming twin cannot
    * globally without unbounded state, so each MICRO-BATCH dedups its
    * own rows (canonical (min, max) pairs in the per-key invocation —
    * batch-bounded memory) and counts what it dropped into the
    * cumulative `dup_dropped` column (round-12 verdict ask #8): a feed
    * that violates the cross-batch dedup contract now shows a nonzero
    * counter on the within-batch portion instead of silently inflating
    * tot/inn. CROSS-batch duplicates remain the caller's contract (the
    * ingest convention, same caveat as
    * [[StreamingOps.streamingSprt]]'s ordering). Unassigned endpoints
    * default to singleton communities labeled `−id−1`, exactly like
    * the batch op — so node ids and labels must be NON-NEGATIVE
    * (checked loudly: driver-side on the frozen assignment, per-row on
    * the stream; a negative id's −id−1 would alias a real label —
    * advisor, round 12). The frozen assignment is held as a driver map
    * broadcast per task, so its size is pre-counted and guarded loudly
    * by `maxAssignEntries` (round-13 verdict ask #1 — the same
    * loud-guard discipline the consolidated emitter applies to its
    * pair set): at web scale (|V| ≈ 10⁹⁺) keep the batch
    * [[graft.ops.Graph.modularityNumerator]] equi-join over a
    * PERSISTED assignment table instead of a live twin. Input columns:
    * `k STRING, a LONG, b LONG`; output `(k, cm, tot, inn,
    * dup_dropped)` in Update mode, `dup_dropped` repeated per row (it
    * is per-key state). */
  def streamingModularityDrift(edges: DataFrame, assign: DataFrame,
      nodeCol: Column, commCol: Column,
      maxAssignEntries: Long = 20000000L)
      : org.apache.spark.sql.Dataset[DriftRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = edges.sparkSession
    import spark.implicits._
    val asgFrame = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("cm")).localCheckpoint(true)
    guardFrozenCollect(asgFrame.count(), "streamingModularityDrift",
      "frozen assignment", maxAssignEntries)
    val asgRows = asgFrame.collect()
    asgRows.foreach { r =>
      require(r.getLong(0) >= 0 && r.getLong(1) >= 0,
        "streamingModularityDrift: negative node id or community " +
          s"label (${r.getLong(0)} -> ${r.getLong(1)}) — the −id−1 " +
          "singleton label space would alias it; remap to " +
          "non-negative first")
    }
    val bc = spark.sparkContext.broadcast(
      asgRows.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val typed = edges.select(col("k").cast("string"),
        col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .as[(String, Long, Long)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, Long)],
       state: GroupState[DriftState]) =>
        val asg = bc.value
        val st = state.getOption.getOrElse(DriftState(Nil, 0L))
        val cells =
          scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        st.cells.foreach { case (cm, tot, inn) => cells(cm) = (tot, inn) }
        var dups = st.dups
        val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
        def bump(cm: Long, dTot: Long, dIn: Long): Unit = {
          val (t0, i0) = cells.getOrElse(cm, (0L, 0L))
          cells(cm) = (t0 + dTot, i0 + dIn)
        }
        rows.foreach { case (_, a0, b0) =>
          if (a0 < 0 || b0 < 0)
            throw new IllegalArgumentException(
              s"streamingModularityDrift: negative node id ($a0, $b0) " +
                "— the −id−1 singleton label space would alias a real " +
                "community; remap ids to non-negative first")
          val a = math.min(a0, b0)
          val b = math.max(a0, b0)
          if (!seen.add((a, b))) dups += 1
          else {
            val ca = asg.getOrElse(a, -a - 1)
            val cb = asg.getOrElse(b, -b - 1)
            if (ca == cb) bump(ca, 2L, 1L)
            else { bump(ca, 1L, 0L); bump(cb, 1L, 0L) }
          }
        }
        state.update(DriftState(
          cells.iterator.map { case (cm, (t, i)) => (cm, t, i) }.toSeq,
          dups))
        cells.iterator.map { case (cm, (t, i)) =>
          DriftRow(key, cm, t, i, dups) }
    }
  }

  /** Streaming degree-assortativity drift against a FROZEN degree
    * snapshot — the [[streamingModularityDrift]] frozen-reference
    * pattern for the hubs-wire-to-hubs readout (round-12 verdict ask
    * #6): each arriving edge looks both endpoints up in the frozen
    * degree table (broadcast joins) and folds FOUR integer moment
    * counters per key — `n_e`, `s_xy = Σ dx·dy`, `s_x = Σ(dx+dy)`,
    * `s_x2 = Σ(dx²+dy²)` — a plain streaming aggregation, O(1) state
    * per key. The live coefficient of the streamed edge population
    * over the frozen degrees (both-orientations convention; x/y
    * moments coincide) reads off the counters as
    * `r = (2·n_e·2·s_xy − s_x²) / (2·n_e·s_x2 − s_x²)`; replaying the
    * snapshot's own edges reproduces
    * [[graft.ops.Graph.degreeAssortativity]] exactly (the parity spec
    * pins it). Edges with an endpoint absent from the snapshot DROP —
    * the readout is over the frozen node set. Input `k STRING,
    * a LONG, b LONG`; output `(k, n_e, s_xy, s_x, s_x2)` in Update
    * mode. */
  def streamingAssortativityDrift(edges: DataFrame, degrees: DataFrame,
      idCol: Column, degCol: Column): DataFrame = {
    val deg = degrees.select(idCol.cast("long").as("id"),
      degCol.cast("long").as("d"))
    val e = edges.select(col("k").cast("string"), col("a").cast("long"),
        col("b").cast("long"))
      .filter(col("a") =!= col("b"))
    e.join(broadcast(deg.select(col("id").as("a"), col("d").as("da"))),
        Seq("a"))
      .join(broadcast(deg.select(col("id").as("b"), col("d").as("db"))),
        Seq("b"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_e"),
        sum(col("da") * col("db")).as("s_xy"),
        sum(col("da") + col("db")).as("s_x"),
        sum(col("da") * col("da") + col("db") * col("db")).as("s_x2"))
  }

  /** Streaming wedge-closure (triangle-rate) drift against a FROZEN
    * edge snapshot — the densification readout next to
    * [[streamingModularityDrift]]'s Q (round-12 verdict ask #6): an
    * arriving edge (a, b) CLOSES a wedge when a and b share ≥ 1
    * common neighbor in the snapshot — arrivals completing triangles
    * instead of opening frontier. The snapshot's distance-2 pair set
    * is built ONCE batch-side (canonical, distinct; Σ deg²-bounded —
    * the broadcast-reference form, the
    * [[graft.ops.TextAnalysis.winnowOverlapAgainst]] stance: at web
    * scale keep the persisted pair table and an equi-join shape
    * instead), then every micro-batch is one broadcast left join +
    * two integer counters per key. The live closure rate is
    * `n_closing / n_e` at any instant; the parity spec replays the
    * batch formula. Input `k STRING, a LONG, b LONG`; output
    * `(k, n_e, n_closing)` in Update mode. */
  def streamingWedgeClosure(edges: DataFrame, frozen: DataFrame,
      srcCol: Column, dstCol: Column): DataFrame = {
    val raw = frozen.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = raw.unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
    val p2 = adj.as("x").join(adj.as("y"),
        col("x.t") === col("y.t") && col("x.s") < col("y.s"))
      .select(col("x.s").as("pa"), col("y.s").as("pb"))
      .distinct()
      .localCheckpoint(true) // built once, reused every micro-batch
    val e = edges.select(col("k").cast("string"), col("a").cast("long"),
        col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .select(col("k"), least(col("a"), col("b")).as("pa"),
        greatest(col("a"), col("b")).as("pb"))
    e.join(broadcast(p2.withColumn("__c", lit(1))), Seq("pa", "pb"),
        "left")
      .groupBy("k")
      .agg(count(lit(1)).as("n_e"),
        sum(coalesce(col("__c"), lit(0)).cast("long")).as("n_closing"))
  }

  final case class GraphDriftState(cells: Seq[(Long, Long, Long)],
      dups: Long, nE: Long, nDegE: Long, sXy: Long, sX: Long, sX2: Long,
      nClosing: Long)
  final case class GraphDriftRow(k: String, cm: Long, tot: Long,
      inn: Long, dup_dropped: Long, n_e: Long, n_deg_e: Long, s_xy: Long,
      s_x: Long, s_x2: Long, n_closing: Long)

  /** CONSOLIDATED graph-drift emitter — [[streamingModularityDrift]] +
    * [[streamingAssortativityDrift]] + [[streamingWedgeClosure]] folded
    * in ONE pass over the edge stream (ROADMAP round-13 #4: the three
    * share the frozen-reference pattern, so a caller wanting all three
    * re-clustering readouts paid 3× state plus three per-micro-batch
    * broadcast joins; here one keyed state row carries the community
    * cells AND the six scalar counters, and the frozen lookups ride one
    * task as broadcast maps). Counter semantics are EXACTLY the three
    * singles' on the same feed (the parity spec pins each):
    *
    *   - modularity cells `(cm, tot, inn)` + cumulative `dup_dropped`
    *     — within-micro-batch canonical dedup, −id−1 singletons for
    *     unassigned endpoints, loud negative-id guards;
    *   - assortativity moments `(n_deg_e, s_xy, s_x, s_x2)` over
    *     arrivals whose BOTH endpoints sit in the frozen degree
    *     snapshot (the single op names its count `n_e`; here it is
    *     `n_deg_e` since the wedge family counts ALL non-loop
    *     arrivals) — duplicates count, as in the single op;
    *   - wedge closure `(n_e, n_closing)` against the frozen
    *     distance-2 pair set — duplicates count, as in the single op.
    *
    * The frozen pair set is built batch-side exactly like
    * [[streamingWedgeClosure]] but lives as a broadcast HashSet inside
    * the state function (the per-key invocation cannot join), so its
    * size is pre-counted and guarded loudly: Σdeg²-bounded graphs past
    * `maxFrozenPairs` should keep the single wedge op's persisted
    * pair-table + equi-join shape instead. The frozen assignment and
    * degree snapshot get the SAME treatment (round-13 verdict ask #1):
    * both are pre-counted against `maxAssignEntries` before the driver
    * collect, the failure message naming the batch equi-join ops to
    * use when |V| outgrows a driver map. Output one row per
    * (key, community cell) with the scalar counters repeated per row
    * (the `dup_dropped` convention — they are per-key state). Input
    * `k STRING, a LONG, b LONG`; Update mode. */
  def streamingGraphDrift(edges: DataFrame, assign: DataFrame,
      nodeCol: Column, commCol: Column, degrees: DataFrame,
      idCol: Column, degCol: Column, frozen: DataFrame, srcCol: Column,
      dstCol: Column, maxFrozenPairs: Long = 10000000L,
      maxAssignEntries: Long = 20000000L)
      : org.apache.spark.sql.Dataset[GraphDriftRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = edges.sparkSession
    import spark.implicits._
    val asgFrame = assign.select(nodeCol.cast("long").as("id"),
      commCol.cast("long").as("cm")).localCheckpoint(true)
    guardFrozenCollect(asgFrame.count(), "streamingGraphDrift",
      "frozen assignment", maxAssignEntries)
    val asgRows = asgFrame.collect()
    asgRows.foreach { r =>
      require(r.getLong(0) >= 0 && r.getLong(1) >= 0,
        "streamingGraphDrift: negative node id or community label " +
          s"(${r.getLong(0)} -> ${r.getLong(1)}) — the −id−1 singleton " +
          "label space would alias it; remap to non-negative first")
    }
    val bcAsg = spark.sparkContext.broadcast(
      asgRows.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val degFrame = degrees.select(idCol.cast("long").as("id"),
      degCol.cast("long").as("d")).localCheckpoint(true)
    guardFrozenCollect(degFrame.count(), "streamingGraphDrift",
      "frozen degree snapshot", maxAssignEntries)
    val bcDeg = spark.sparkContext.broadcast(
      degFrame.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val raw = frozen.select(srcCol.cast("long").as("s"),
        dstCol.cast("long").as("t"))
      .filter(col("s") =!= col("t"))
    val adj = raw.unionAll(raw.select(col("t").as("s"), col("s").as("t")))
      .distinct()
    val p2 = adj.as("x").join(adj.as("y"),
        col("x.t") === col("y.t") && col("x.s") < col("y.s"))
      .select(col("x.s").as("pa"), col("y.s").as("pb"))
      .distinct()
      .localCheckpoint(true) // counted, then collected once
    val nPairs = p2.count()
    require(nPairs <= maxFrozenPairs,
      s"streamingGraphDrift: the frozen snapshot's distance-2 pair set " +
        s"has $nPairs pairs > maxFrozenPairs = $maxFrozenPairs (" +
        f"${nPairs * 48e-9}%.1f GiB as a driver HashSet at ~48 B/pair) " +
        "— the consolidated emitter holds it in executor memory per " +
        "task; past this size use streamingWedgeClosure's persisted " +
        "pair-table + broadcast-join shape for the closure readout " +
        "and this op for the rest, or raise maxFrozenPairs deliberately")
    val bcPairs = spark.sparkContext.broadcast(
      p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val typed = edges.select(col("k").cast("string"),
        col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .as[(String, Long, Long)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, Long)],
       state: GroupState[GraphDriftState]) =>
        val asg = bcAsg.value
        val dmap = bcDeg.value
        val pairs = bcPairs.value
        val st = state.getOption.getOrElse(
          GraphDriftState(Nil, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
        val cells =
          scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        st.cells.foreach { case (cm, tot, inn) => cells(cm) = (tot, inn) }
        var dups = st.dups
        var nE = st.nE; var nDegE = st.nDegE; var sXy = st.sXy
        var sX = st.sX; var sX2 = st.sX2; var nClosing = st.nClosing
        val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
        def bump(cm: Long, dTot: Long, dIn: Long): Unit = {
          val (t0, i0) = cells.getOrElse(cm, (0L, 0L))
          cells(cm) = (t0 + dTot, i0 + dIn)
        }
        rows.foreach { case (_, a0, b0) =>
          if (a0 < 0 || b0 < 0)
            throw new IllegalArgumentException(
              s"streamingGraphDrift: negative node id ($a0, $b0) — " +
                "the −id−1 singleton label space would alias a real " +
                "community; remap ids to non-negative first")
          val a = math.min(a0, b0)
          val b = math.max(a0, b0)
          // wedge family: every non-loop arrival (duplicates count —
          // the single op is a plain agg over arrivals)
          nE += 1
          if (pairs.contains((a, b))) nClosing += 1
          // assortativity: arrivals with both endpoints in the frozen
          // degree snapshot (duplicates count, same reason)
          (dmap.get(a), dmap.get(b)) match {
            case (Some(da), Some(db)) =>
              nDegE += 1; sXy += da * db; sX += da + db
              sX2 += da * da + db * db
            case _ => ()
          }
          // modularity: within-batch canonical dedup, as the single op
          if (!seen.add((a, b))) dups += 1
          else {
            val ca = asg.getOrElse(a, -a - 1)
            val cb = asg.getOrElse(b, -b - 1)
            if (ca == cb) bump(ca, 2L, 1L)
            else { bump(ca, 1L, 0L); bump(cb, 1L, 0L) }
          }
        }
        state.update(GraphDriftState(
          cells.iterator.map { case (cm, (t, i)) => (cm, t, i) }.toSeq,
          dups, nE, nDegE, sXy, sX, sX2, nClosing))
        cells.iterator.map { case (cm, (t, i)) =>
          GraphDriftRow(key, cm, t, i, dups, nE, nDegE, sXy, sX, sX2,
            nClosing) }
    }
  }

  final case class BootDiffState(nA: Long, nB: Long, sumA: Double,
      sumB: Double, sva: Seq[Double], swa: Seq[Long], svb: Seq[Double],
      swb: Seq[Long])
  final case class BootDiffRow(k: String, n_a: Long, n_b: Long,
      diff: Option[Double], lo: Option[Double], hi: Option[Double])

  /** Streaming twin of [[graft.ops.Experiment.bootstrapDiffCI]] — the
    * LIVE A/B readout: per replicate the state is two (Σwv, Σw)
    * counter pairs (one per arm) that fold row by row in any order,
    * and the md5 weight draw keys on (id, replicate) exactly like the
    * batch op (ids are globally unique, one stream serves both arms),
    * so the final emission equals the batch interval over everything
    * fed (parity spec pins it; double-addition ORDER may differ from
    * the batch shuffle's, a ≤1-ulp effect the spec tolerances). A
    * replicate contributes a diff only when BOTH arms drew positive
    * total weight — the batch op's `swa > 0 && swb > 0` filter; a rank
    * that selects no replicate emits None bounds (the streaming
    * stance — a live readout must keep emitting; the batch op
    * raise_errors instead, the documented divergence on this edge).
    * Rows with an arm outside {armA, armB} are ignored. Input columns:
    * `k STRING, id LONG, arm STRING, v DOUBLE`. */
  def streamingBootstrapDiff(values: DataFrame, armA: String,
      armB: String, nBoot: Int = 50, alpha: Double = 0.05)
      : org.apache.spark.sql.Dataset[BootDiffRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(nBoot >= 4 && nBoot <= 10000,
      "streamingBootstrapDiff: nBoot in [4, 10000]")
    require(alpha > 0 && alpha < 1, "streamingBootstrapDiff: alpha in (0, 1)")
    require(armA != armB, "streamingBootstrapDiff: arms must differ")
    val cum = graft.ops.Experiment.poissonCum.toArray
    val loRank = math.max(1, math.ceil(alpha / 2 * nBoot).toInt)
    val hiRank = math.min(nBoot, math.ceil((1 - alpha / 2) * nBoot).toInt)
    val spark = values.sparkSession
    import spark.implicits._
    val typed = values
      .select(col("k").cast("string"), col("id").cast("long"),
        col("arm").cast("string"), col("v").cast("double"))
      .filter(col("v").isNotNull && col("arm").isin(armA, armB))
      .as[(String, Long, String, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Long, String, Double)],
       state: GroupState[BootDiffState]) =>
        val st = state.getOption.getOrElse(
          BootDiffState(0L, 0L, 0.0, 0.0,
            Vector.fill(nBoot)(0.0), Vector.fill(nBoot)(0L),
            Vector.fill(nBoot)(0.0), Vector.fill(nBoot)(0L)))
        var nA = st.nA; var nB = st.nB
        var sumA = st.sumA; var sumB = st.sumB
        val sva = st.sva.toArray; val swa = st.swa.toArray
        val svb = st.svb.toArray; val swb = st.swb.toArray
        rows.foreach { case (_, id, arm, v) =>
          val isA = arm == armA
          if (isA) { nA += 1; sumA += v } else { nB += 1; sumB += v }
          var b = 0
          while (b < nBoot) {
            val u = graft.expr.PortableHash.hex15(s"$id:$b").toDouble /
              1152921504606846976.0
            var w = 8
            var j = 0
            var found = false
            while (j < cum.length && !found) {
              if (u < cum(j)) { w = j; found = true }
              j += 1
            }
            if (w > 0) {
              if (isA) { sva(b) += w * v; swa(b) += w }
              else { svb(b) += w * v; swb(b) += w }
            }
            b += 1
          }
        }
        state.update(BootDiffState(nA, nB, sumA, sumB,
          sva.toVector, swa.toVector, svb.toVector, swb.toVector))
        if (nA == 0 && nB == 0) Iterator.empty
        else {
          val diffs = (0 until nBoot).iterator
            .filter(b => swa(b) > 0 && swb(b) > 0)
            .map(b => (sva(b) / swa(b) - svb(b) / swb(b), b))
            .toIndexedSeq.sortBy(identity)
          val diff = if (nA > 0 && nB > 0) Some(sumA / nA - sumB / nB)
            else None
          Iterator.single(BootDiffRow(key, nA, nB, diff,
            diffs.lift(loRank - 1).map(_._1),
            diffs.lift(hiRank - 1).map(_._1)))
        }
    }
  }

  final case class KendallRow(k: String, n: Long, concordant: Long,
      discordant: Long, tau_b: Option[Double])

  /** Streaming twin of [[graft.ops.Experiment.kendallTau]] — the same
    * counted (x, y)-cell state as [[streamingSpearman]] (ONE state
    * serves both readouts; this op keeps its own copy so the two
    * streams stay independent), with the tau-b concordance readout
    * recomputed per batch: C/D from the cell-pair double loop (|cells|²
    * per key per batch — the discretized-metric contract), tie counts
    * from the margins, `τ_b = (C − D)/√((n₀−n₁)(n₀−n₂))`. Integer
    * arithmetic end to end, so the last emission equals the batch
    * statistic exactly. Input columns: `k STRING, x DOUBLE,
    * y DOUBLE`. */
  def streamingKendall(pairs: DataFrame, maxCells: Int = 2000)
      : org.apache.spark.sql.Dataset[KendallRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxCells >= 1, "streamingKendall: maxCells >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    val typed = pairs
      .select(col("k").cast("string"), col("x").cast("double"),
        col("y").cast("double"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .as[(String, Double, Double)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Double, Double)],
       state: GroupState[PairCellState]) =>
        val m = scala.collection.mutable.HashMap.empty[(Double, Double), Long]
        state.getOption.foreach(_.cells.foreach { case (x, y, c) =>
          m.update((x, y), c) })
        rows.foreach { case (_, x, y) =>
          m.update((x, y), m.getOrElse((x, y), 0L) + 1L) }
        if (m.size > maxCells) throw new IllegalStateException(
          s"streamingKendall: > $maxCells distinct (x, y) cells for " +
            s"key '$key' — the |cells|^2 readout needs binned metrics; " +
            "bin upstream or raise maxCells")
        state.update(PairCellState(m.toSeq.map { case ((x, y), c) =>
          (x, y, c) }))
        if (m.isEmpty) Iterator.empty
        else {
          val cells = m.toArray
          var cc = 0L; var dd = 0L
          var i = 0
          while (i < cells.length) {
            var j = 0
            while (j < cells.length) {
              val ((xi, yi), ci) = cells(i)
              val ((xj, yj), cj) = cells(j)
              if (xi < xj) {
                if (yj > yi) cc += ci * cj
                else if (yj < yi) dd += ci * cj
              }
              j += 1
            }
            i += 1
          }
          val n = m.values.sum
          val tpx = m.groupBy(_._1._1).values
            .map(cs => { val t = cs.values.sum; t * (t - 1) }).sum
          val tpy = m.groupBy(_._1._2).values
            .map(cs => { val t = cs.values.sum; t * (t - 1) }).sum
          val n0 = n * (n - 1) / 2
          val n1 = tpx / 2; val n2 = tpy / 2
          def r4(v: Double) = BigDecimal(v)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val tau =
            if (n0 > n1 && n0 > n2)
              Some(r4((cc - dd) /
                math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)))
            else None
          Iterator.single(KendallRow(key, n, cc, dd, tau))
        }
    }
  }

  final case class LabelCellState(cells: Seq[(String, String, Long)])
  final case class KappaRow(k: String, n: Long, po: Double, pe: Double,
      kappa: Option[Double])

  /** Streaming twin of [[graft.ops.Experiment.cohensKappa]] — live
    * annotator/model agreement: per key the state is the label-pair
    * contingency table (bounded by |labels|², `maxCells`-guarded), and
    * each batch emits the current `(n, po, pe, kappa)` so the last
    * emission equals the batch statistic over everything fed. Disjoint
    * label sets give p_e = 0, kappa = p_o — the batch op's (fixed)
    * textbook convention; degenerate tables with p_e = 1 null the
    * kappa, also as batch. Input columns: `k STRING, a STRING,
    * b STRING`. */
  def streamingKappa(labels: DataFrame, maxCells: Int = 10000)
      : org.apache.spark.sql.Dataset[KappaRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxCells >= 1, "streamingKappa: maxCells >= 1")
    val spark = labels.sparkSession
    import spark.implicits._
    val typed = labels
      .select(col("k").cast("string"), col("a").cast("string"),
        col("b").cast("string"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .as[(String, String, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, String, String)],
       state: GroupState[LabelCellState]) =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        state.getOption.foreach(_.cells.foreach { case (a, b, c) =>
          m.update((a, b), c) })
        rows.foreach { case (_, a, b) =>
          m.update((a, b), m.getOrElse((a, b), 0L) + 1L) }
        if (m.size > maxCells) throw new IllegalStateException(
          s"streamingKappa: > $maxCells label-pair cells for key " +
            s"'$key' — these aren't categorical labels; raise maxCells " +
            "to proceed deliberately")
        state.update(LabelCellState(m.toSeq.map { case ((a, b), c) =>
          (a, b, c) }))
        if (m.isEmpty) Iterator.empty
        else {
          val n = m.values.sum.toDouble
          val diag = m.collect { case ((a, b), c) if a == b => c }.sum
          val ra = m.groupBy(_._1._1).map { case (a, cs) =>
            a -> cs.values.sum }
          val cb = m.groupBy(_._1._2).map { case (b, cs) =>
            b -> cs.values.sum }
          // margin products over COMMON labels only; disjoint sets → 0
          val mp = ra.toSeq.sortBy(_._1).map { case (l, r) =>
            r.toDouble * cb.getOrElse(l, 0L) }.sum
          val po = diag / n
          val pe = mp / (n * n)
          def r4(v: Double) = BigDecimal(v)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val kappa =
            if (pe < 1) Some(r4((po - pe) / (1.0 - pe))) else None
          Iterator.single(KappaRow(key, n.toLong, r4(po), r4(pe), kappa))
        }
    }
  }

  final case class PostingState(df: Long, tf: Long, postings: Seq[Long])
  final case class PostingRow(term: String, df: Long, tf_total: Long,
      postings: Seq[Long])

  /** Streaming twin of [[graft.ops.Keyword.postingLists]] — inverted-
    * index maintenance, the classic streaming-ingest job: per term the
    * state is `(df, tf_total, min-cap posting ids)` — bounded by `cap`
    * longs regardless of how hot the term is, and the min-k posting
    * set is MERGEABLE (k smallest of a union = k smallest of the
    * per-batch k-smallest), so arrival order never changes the final
    * index. Each batch's token occurrences key by term; per-batch
    * distinct docs advance df (each document is assumed to arrive
    * ONCE, whole — the ingest convention every streaming twin here
    * shares; re-fed docs would double-count df exactly as they would
    * re-run any batch pipeline). Emits the term's current row per
    * batch in update mode; the last emission per term equals the
    * batch op over everything fed (the parity spec), with `minDf`
    * left to the reader — a stream can't know a term's final df.
    * Input columns: `id LONG, text STRING`. */
  def streamingPostingLists(docs: DataFrame,
      cap: Int): org.apache.spark.sql.Dataset[PostingRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(cap >= 1, "streamingPostingLists: cap >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val occ = docs
      .select(col("id").cast("long").as("id"),
        explode(array_remove(split(trim(col("text")), "\\s+"), ""))
          .as("term"))
      .as[(Long, String)]
    occ.groupByKey(_._2).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (term: String, rows: Iterator[(Long, String)],
       state: GroupState[PostingState]) =>
        val prev = state.getOption.getOrElse(PostingState(0L, 0L, Seq.empty))
        val batchDocs = scala.collection.mutable.HashMap.empty[Long, Long]
        rows.foreach { case (id, _) =>
          batchDocs(id) = batchDocs.getOrElse(id, 0L) + 1L
        }
        val posts = scala.collection.mutable.TreeSet[Long](prev.postings: _*)
        batchDocs.keysIterator.foreach { id =>
          posts += id
          if (posts.size > cap) posts -= posts.last
        }
        val next = PostingState(prev.df + batchDocs.size,
          prev.tf + batchDocs.valuesIterator.sum, posts.toSeq)
        state.update(next)
        Iterator.single(PostingRow(term, next.df, next.tf, next.postings))
    }
  }

  final case class Scd2State(version: Long, validFrom: Long, attrs: String)
  final case class Scd2Row(k: Long, version: Long, valid_from: Long,
      valid_to: Option[Long], is_current: Long, state: String)

  /** Streaming twin of [[graft.ops.Warehouse.scd2]]: the OPEN interval
    * per key held as explicit state (one (version, valid_from, attrs)
    * triple — O(1) per key regardless of history length); each batch
    * sorts ITS rows by `(t, tb)` and applies the same run-collapse
    * rule, emitting in update mode a CLOSED row (valid_to set,
    * is_current 0) plus the new OPEN row (valid_to null, is_current 1)
    * whenever the attribute value changes — consumers keep the latest
    * emission per (k, version). Exactly equal to the batch history
    * when each key's changes arrive time-ordered across batches (the
    * watermarked normal case); a row OLDER than the open interval's
    * start is dropped — revising closed history needs the batch
    * replay, which is the price of O(1) state. Input columns:
    * `k LONG, t TIMESTAMP, tb LONG, state STRING`. */
  def streamingScd2(changes: DataFrame): org.apache.spark.sql.Dataset[Scd2Row] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = changes.sparkSession
    import spark.implicits._
    val typed = changes
      .select(col("k").cast("long"), unix_micros(col("t").cast("timestamp")),
        col("tb").cast("long"), col("state").cast("string"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[(Long, Long, Long, String)],
       state: GroupState[Scd2State]) =>
        var cur = state.getOption
        val out = scala.collection.mutable.ArrayBuffer[Scd2Row]()
        for ((_, t, _, attrs) <- rows.toSeq.sortBy { case (_, t, tb, _) => (t, tb) }) {
          cur match {
            case None =>
              cur = Some(Scd2State(1L, t, attrs))
              out += Scd2Row(key, 1L, t, None, 1L, attrs)
            case Some(s) if t >= s.validFrom && attrs != s.attrs =>
              out += Scd2Row(key, s.version, s.validFrom, Some(t), 0L, s.attrs)
              cur = Some(Scd2State(s.version + 1, t, attrs))
              out += Scd2Row(key, s.version + 1, t, None, 1L, attrs)
            case _ => // same run, or older than the open interval: no-op
          }
        }
        cur.foreach(state.update)
        out.iterator
    }
  }

  final case class HHState(counts: Map[String, Long])
  final case class HHRow(shard: Int, term: String, est: Long)

  /** Streaming heavy hitters: the Misra–Gries sketch maintained ACROSS
    * micro-batches with explicit state — the streaming twin of
    * [[graft.ops.Scale.heavyHittersSketch]], sharing its insert kernel.
    * Tokens shard by md5 (`nShards` state groups), so each term's whole
    * count lives in exactly one group and a global heavy hitter is
    * always a shard heavy hitter; per-shard state is bounded at
    * `capacity` counters REGARDLESS of vocabulary size — the reason
    * this runs forever where an exact per-token count would not. Each
    * batch re-emits the touched shards' current candidate sets
    * `(shard, term, est)` in update mode, plus a TOMBSTONE row
    * (`est = -1`) for every term the batch decremented OUT of the
    * sketch — without it a term emitted in an earlier batch would
    * linger in the downstream snapshot at a stale estimate the MG
    * bound no longer covers. Consumers: keep each (shard, term)'s
    * LATEST emission, drop rows with `est < 0`, then take the global
    * top-N by `est`. Estimates carry the MG guarantee:
    * true_count − shard_tokens/capacity ≤ est ≤ true_count. */
  def streamingHeavyHitters(docs: DataFrame, capacity: Int,
      nShards: Int = 8): org.apache.spark.sql.Dataset[HHRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(capacity >= 1 && nShards >= 1, "capacity and nShards must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("text").cast("string")).as[String]
      .flatMap { t =>
        if (t == null) Iterator.empty
        else graft.ops.Dedup.trimSpaces(t).split("\\s+").iterator
          .filter(_.nonEmpty)
      }
      .map(tok =>
        ((graft.expr.PortableHash.hex15(tok) % nShards).toInt, tok))
    toks.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (shard: Int, rows: Iterator[(Int, String)],
       state: GroupState[HHState]) =>
        val prev = state.getOption.map(_.counts).getOrElse(Map.empty)
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        prev.foreach { case (k, v) => m(k) = v }
        rows.foreach { case (_, tok) =>
          graft.ops.Scale.misraGriesAdd(m, tok, capacity)
        }
        state.update(HHState(m.toMap))
        // the state is exactly the last emission, so terms it held that
        // the sketch no longer does are the ones needing retraction
        val evicted = (prev.keySet -- m.keySet).toSeq.sorted
        m.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
          .map { case (t, c) => HHRow(shard, t, c) } ++
          evicted.iterator.map(t => HHRow(shard, t, -1L))
    }
  }

  final case class HHDecayState(counts: Map[String, Long], sinceDecay: Int)

  /** [[streamingHeavyHitters]] with TTL-style aging for DRIFTING
    * streams: every `decayEveryBatches` micro-batches each shard HALVES
    * its counters (integer floor; zeros drop and emit tombstones)
    * before inserting the batch — an exponential decay with per-batch
    * factor 2^(−1/decayEveryBatches), so a term that stops arriving
    * fades out of the candidate set instead of squatting on a counter
    * forever (the plain sketch never forgets: yesterday's viral token
    * blocks today's). Estimates are MG bounds on the DECAYED count —
    * recency-weighted frequency, the quantity a drift monitor wants.
    * State stays ≤ `capacity` counters + one batch clock per shard. */
  def streamingHeavyHittersDecay(docs: DataFrame, capacity: Int,
      nShards: Int = 8,
      decayEveryBatches: Int = 1): org.apache.spark.sql.Dataset[HHRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(capacity >= 1 && nShards >= 1, "capacity and nShards must be >= 1")
    require(decayEveryBatches >= 1, "decayEveryBatches must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("text").cast("string")).as[String]
      .flatMap { t =>
        if (t == null) Iterator.empty
        else graft.ops.Dedup.trimSpaces(t).split("\\s+").iterator
          .filter(_.nonEmpty)
      }
      .map(tok =>
        ((graft.expr.PortableHash.hex15(tok) % nShards).toInt, tok))
    toks.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (shard: Int, rows: Iterator[(Int, String)],
       state: GroupState[HHDecayState]) =>
        val prev = state.getOption.getOrElse(HHDecayState(Map.empty, 0))
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        val clock = prev.sinceDecay + 1
        val (decayed, nextClock) =
          if (clock >= decayEveryBatches) (true, 0) else (false, clock)
        prev.counts.foreach { case (k, v) =>
          val nv = if (decayed) v / 2 else v
          if (nv > 0) m(k) = nv
        }
        rows.foreach { case (_, tok) =>
          graft.ops.Scale.misraGriesAdd(m, tok, capacity)
        }
        state.update(HHDecayState(m.toMap, nextClock))
        val evicted = (prev.counts.keySet -- m.keySet).toSeq.sorted
        m.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
          .map { case (t, c) => HHRow(shard, t, c) } ++
          evicted.iterator.map(t => HHRow(shard, t, -1L))
    }
  }

  final case class FunnelState(reached: Seq[Long])
  final case class FunnelRow(k: Long, step_idx: Int, step: String,
      reached_at: java.sql.Timestamp)

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.ops.Temporal.funnelSteps]]: per-key earliest in-order step
    * completions maintained ACROSS micro-batches with explicit state
    * (one `reached` micros per step, bounded at |steps| longs per key
    * REGARDLESS of event volume). Each batch sorts ITS events by
    * (time, step) and runs the same greedy tightening scan over the
    * carried state; rows emit in update mode whenever a step's
    * completion time changes — read the latest emission per
    * (k, step_idx). Exactly equal to the batch frame when each key's
    * events arrive time-ordered across batches (the watermarked normal
    * case); a LATE cross-batch event still tightens the chain into a
    * VALID in-order completion but may miss an earlier one the batch
    * replay would find (the state keeps no event history to revisit —
    * that bound is the price of O(|steps|) state). Input columns:
    * `keyCol LONG, typeCol STRING, timeCol TIMESTAMP`. */
  def streamingFunnelSteps(events: DataFrame, steps: Seq[String],
      keyCol: String = "user_id", typeCol: String = "event_type",
      timeCol: String = "ts"): org.apache.spark.sql.Dataset[FunnelRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "streamingFunnelSteps: steps must be non-empty and distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex.toMap
    val typed = events.select(col(keyCol).cast("long"),
        col(typeCol).cast("string"), col(timeCol).cast("timestamp"))
      .as[(Long, String, java.sql.Timestamp)]
      .filter(r => r._2 != null && idx.contains(r._2) && r._3 != null)
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
       state: GroupState[FunnelState]) =>
        val acc = state.getOption.map(_.reached.toArray)
          .getOrElse(Array.fill(steps.length)(Long.MaxValue))
        val before = acc.clone()
        def micros(ts: java.sql.Timestamp): Long = {
          val i = ts.toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
        val batch = rows.map { case (_, tp, ts) => (micros(ts), idx(tp)) }
          .toArray.sortInPlaceBy { case (t, si) => (t, si) }
        batch.foreach { case (t, si) =>
          if ((si == 0 || t >= acc(si - 1)) && t < acc(si)) acc(si) = t
        }
        state.update(FunnelState(acc.toSeq))
        steps.indices.iterator
          .filter(i => acc(i) != before(i))
          .map { i =>
            val us = acc(i)
            FunnelRow(k, i + 1, steps(i), java.sql.Timestamp.from(
              java.time.Instant.ofEpochSecond(us / 1000000L,
                (us % 1000000L) * 1000L)))
          }
    }
  }

  final case class AnomState(ring: Seq[Double])
  final case class AnomRow(id: Long, k: Long, value: Double, n_prior: Long,
      z: Option[Double], is_anomaly: Long)

  /** Streaming rolling z-score anomalies — the incremental twin of
    * [[graft.ops.Temporal.anomalies]]: each event scores against its
    * key's trailing `nRows` PRIOR values carried across micro-batches
    * as a ring buffer (state bounded at `nRows` doubles per key
    * REGARDLESS of volume). Per batch the key's events sort by
    * (time, id) and replay through the same score-then-push scan the
    * batch frame's window computes, with identical gating (z null
    * below `minPrior` priors or at zero variance; the flag fires on
    * the 4dp-rounded |z|). Equal to the batch op per event when each
    * key's events arrive time-ordered across batches; a late event
    * scores against the state as of ITS arrival — the price of not
    * keeping event history. Output is append-ready (one row per
    * event, never revised). Input: `keyCol LONG, idCol LONG,
    * timeCol TIMESTAMP, valCol DOUBLE`. */
  def streamingAnomalies(events: DataFrame, nRows: Int, minPrior: Int = 3,
      threshold: Double = 3.0, keyCol: String = "user_id",
      idCol: String = "event_id", timeCol: String = "ts",
      valCol: String = "value"): org.apache.spark.sql.Dataset[AnomRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(nRows >= 1 && minPrior >= 1 && minPrior <= nRows,
      "streamingAnomalies: need nRows >= 1 and minPrior in [1, nRows]")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col(keyCol).cast("long"),
        col(idCol).cast("long"), col(timeCol).cast("timestamp"),
        col(valCol).cast("double"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
      .filter(r => r._3 != null)
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
       state: GroupState[AnomState]) =>
        val ring = scala.collection.mutable.Queue.empty[Double]
        state.getOption.foreach(s => ring ++= s.ring)
        val batch = rows.toArray.sortBy(r => (r._3.getTime, r._2))
        val out = batch.map { case (_, id, _, v) =>
          val n = ring.size
          val z = if (n >= minPrior) {
            val mu = ring.sum / n
            val sd = math.sqrt(
              ring.iterator.map(x => (x - mu) * (x - mu)).sum / (n - 1))
            if (sd > 0) Some(r4((v - mu) / sd)) else None
          } else None
          ring.enqueue(v)
          if (ring.size > nRows) ring.dequeue()
          AnomRow(id, k, v, n.toLong, z,
            if (z.exists(zz => math.abs(zz) >= threshold)) 1L else 0L)
        }
        state.update(AnomState(ring.toSeq))
        out.iterator
    }
  }

  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, value_sum: Double)

  /** Per-user inactivity-gap sessionization with explicit state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes when
    * no event arrives for `gapMs` past the watermark. Input columns:
    * `ts TIMESTAMP, user_id LONG, value DOUBLE`. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    // cast before the watermark: a cast afterwards would mint a fresh
    // attribute and silently drop the event-time tag
    val typed = events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("value").cast("double"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
       state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(Session(user, s.start, s.last, s.n, s.sum))
        } else {
          val batch = rows.toSeq
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          var cur = state.getOption
          for ((_, ts, v) <- batch.sortBy(_._2.getTime)) {
            val t = ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                  sum = s.sum + v))
              case Some(s) =>
                closed += Session(user, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, v))
              case None =>
                cur = Some(SessionState(t, t, 1, v))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.last + gapMs)
          }
          closed.iterator
        }
    }
  }

  final case class CcfState(lastT: Long,
      hist: Seq[(Long, Long, Long)],
      n: Seq[Long], sx: Seq[Long], sy: Seq[Long], sxy: Seq[Long],
      sxx: Seq[Long], syy: Seq[Long])
  final case class CcfRow(key: Long, lag: Long, n: Long,
      r: Option[Double])

  /** Streaming twin of [[graft.ops.Temporal.crossCorrelation]] — the
    * live lead/lag panel: per key the state is the last `maxLag`
    * grid points (the ring the future pairs still need) plus 2·maxLag
    * + 1 integer moment tuples, O(maxLag) total; every arriving point
    * closes its (x_{t−d}, y_t) and (x_t, y_{t−d}) pairs against the
    * ring, so the per-lag moments — and the emitted r — EQUAL the
    * batch op over every point fed so far, gaps in `t` included
    * (pairs pair by GRID DISTANCE, not arrival order; a missing
    * grain simply never pairs, exactly like the batch equi-join).
    * Readout in BigDecimal like the batch decimal(38,0) path. Long
    * arithmetic overflow-LOUD; in-order arrival per key enforced
    * (the [[streamingResidualDw]] stance). Emits one row per lag per
    * key per batch. Input columns: `k LONG, t LONG, x LONG, y
    * LONG`. */
  def streamingCcf(points: DataFrame, maxLag: Int)
      : org.apache.spark.sql.Dataset[CcfRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(maxLag >= 1, "streamingCcf: maxLag must be >= 1")
    val spark = points.sparkSession
    import spark.implicits._
    val width = 2 * maxLag + 1
    val typed = points
      .select(col("k").cast("long"), col("t").cast("long"),
        col("x").cast("long"), col("y").cast("long"))
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[(Long, Long, Long, Long)],
       state: GroupState[CcfState]) =>
        var st = state.getOption.getOrElse(CcfState(Long.MinValue,
          Seq.empty, Seq.fill(width)(0L), Seq.fill(width)(0L),
          Seq.fill(width)(0L), Seq.fill(width)(0L),
          Seq.fill(width)(0L), Seq.fill(width)(0L)))
        val n = st.n.toArray; val sx = st.sx.toArray
        val sy = st.sy.toArray; val sxy = st.sxy.toArray
        val sxx = st.sxx.toArray; val syy = st.syy.toArray
        var hist = st.hist.toList
        var lastT = st.lastT
        def bump(lag: Int, xv: Long, yv: Long): Unit = {
          val i = lag + maxLag
          n(i) = Math.addExact(n(i), 1L)
          sx(i) = Math.addExact(sx(i), xv)
          sy(i) = Math.addExact(sy(i), yv)
          sxy(i) = Math.addExact(sxy(i), Math.multiplyExact(xv, yv))
          sxx(i) = Math.addExact(sxx(i), Math.multiplyExact(xv, xv))
          syy(i) = Math.addExact(syy(i), Math.multiplyExact(yv, yv))
        }
        rows.toSeq.sortBy(_._2).foreach { case (_, t, x, y) =>
          require(t > lastT,
            s"streamingCcf: t = $t arrived at or before the key's " +
              s"last seen t = $lastT — lagged pairs cannot reorder " +
              "history; feed each key's grid in time order")
          bump(0, x, y)
          hist.foreach { case (ts, xs, ys) =>
            val d = t - ts
            if (d >= 1 && d <= maxLag) {
              bump(d.toInt, xs, y)   // r(+d): x earlier, y now
              bump(-d.toInt, x, ys)  // r(−d): x now, y earlier
            }
          }
          hist = ((t, x, y) :: hist).filter(_._1 > t - maxLag)
          lastT = t
        }
        st = CcfState(lastT, hist, n.toSeq, sx.toSeq, sy.toSeq,
          sxy.toSeq, sxx.toSeq, syy.toSeq)
        state.update(st)
        (-maxLag to maxLag).iterator.map { lag =>
          val i = lag + maxLag
          val bn = BigDecimal(n(i))
          val cx = bn * BigDecimal(sxx(i)) -
            BigDecimal(sx(i)) * BigDecimal(sx(i))
          val cy = bn * BigDecimal(syy(i)) -
            BigDecimal(sy(i)) * BigDecimal(sy(i))
          val cov = bn * BigDecimal(sxy(i)) -
            BigDecimal(sx(i)) * BigDecimal(sy(i))
          val r =
            if (n(i) >= 2 && cx > 0 && cy > 0)
              Some(BigDecimal(cov.toDouble /
                math.sqrt(cx.toDouble * cy.toDouble))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
            else None
          CcfRow(key, lag.toLong, n(i), r)
        }
    }
  }

  final case class DwState(lastT: Long, prev: Long, n: Long, sv: Long,
      svv: Long, sdd: Long)
  final case class DwRow(key: Long, n: Long, dw: Option[Double])

  /** Streaming twin of the Durbin–Watson half of
    * [[graft.ops.Temporal.residualDiagnostics]] — the live "is this
    * metric just noise" gauge. DW is the one residual diagnostic
    * that IS O(1)-streamable exactly: differences kill the mean
    * (`e_t − e_{t−1} = v_t − v_{t−1}`), so per key the state is five
    * Longs (`lastT, prev, n, Σv, Σv², Σ(Δv)²`) and the readout
    * `DW = n·ΣΔ² / (n·Σv² − (Σv)²)` equals the batch op over every
    * point fed so far, computed in BigDecimal like the batch
    * decimal(38,0) path (the parity spec pins it). The runs half is
    * NOT emitted — residual signs depend on the final mean, so any
    * O(1) online version would silently disagree with the batch test
    * (the bootstrap-divergence lesson: omit loudly rather than
    * approximate silently). State-side Long arithmetic is overflow-
    * LOUD (`Math.addExact`/`multiplyExact` — the streamingAmsF2
    * stance). Points must arrive in t order per key (within a batch
    * they sort; a cross-batch regression fails fast — a differenced
    * statistic cannot reorder history). Input columns:
    * `k LONG, t LONG, v LONG`. */
  def streamingResidualDw(points: DataFrame)
      : org.apache.spark.sql.Dataset[DwRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = points.sparkSession
    import spark.implicits._
    val typed = points
      .select(col("k").cast("long"), col("t").cast("long"),
        col("v").cast("long"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[(Long, Long, Long)],
       state: GroupState[DwState]) =>
        var st = state.getOption
          .getOrElse(DwState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
        rows.toSeq.sortBy(_._2).foreach { case (_, t, v) =>
          require(t > st.lastT,
            s"streamingResidualDw: t = $t arrived at or before the " +
              s"key's last seen t = ${st.lastT} — a differenced " +
              "statistic cannot reorder history; feed each key's " +
              "series in time order")
          val sdd =
            if (st.n == 0L) 0L
            else {
              val dv = Math.subtractExact(v, st.prev)
              Math.addExact(st.sdd, Math.multiplyExact(dv, dv))
            }
          st = DwState(t, v, Math.addExact(st.n, 1L),
            Math.addExact(st.sv, v),
            Math.addExact(st.svv, Math.multiplyExact(v, v)), sdd)
        }
        state.update(st)
        if (st.n == 0L) Iterator.empty
        else {
          val n = BigDecimal(st.n)
          val den = n * BigDecimal(st.svv) -
            BigDecimal(st.sv) * BigDecimal(st.sv)
          val dw =
            if (den > 0)
              Some(BigDecimal((n * BigDecimal(st.sdd)).toDouble /
                den.toDouble)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
            else None
          Iterator.single(DwRow(key, st.n, dw))
        }
    }
  }
}
