package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{Chunk, SearchHit}
import graft.query.Searcher
import graft.store.VectorStore

/**
 * Public session facade (SURVEY §1.3): engine internals stay `DataFrame`
 * for Catalyst; this object exposes the typed `Dataset[_]` API over a
 * warehouse and registers the engine's tables + functions for plain
 * `spark.sql` use.
 */
final class GraftSession(val spark: SparkSession, warehouse: String) {

  val store = new VectorStore(spark, warehouse)
  val searcher = new Searcher(spark, store)

  /** Register `<db>_vectors/_documents/_chunk_doc_map` temp views and all
    * engine SQL functions, so the database is queryable from `spark.sql`. */
  def open(db: String): Unit = {
    graft.functions.registerAll(spark)
    store.vectors(db).createOrReplaceTempView(s"${db}_vectors")
    store.documents(db).createOrReplaceTempView(s"${db}_documents")
    store.chunkDocMap(db).createOrReplaceTempView(s"${db}_chunk_doc_map")
  }

  /** Typed chunk records of a database (`Dataset[Chunk]`). */
  def chunks(db: String): Dataset[Chunk] = {
    import spark.implicits._
    store.vectors(db).select("id", "vector", "text", "metadata").as[Chunk]
  }

  /** Typed search (`Dataset[SearchHit]`) over any [[Searcher.Index]], same
    * semantics as [[graft.query.Searcher.search]]. */
  def search(db: String, query: String, p: Searcher.Params = Searcher.Params(),
      index: Searcher.Index = Searcher.Flat): Dataset[SearchHit] = {
    import spark.implicits._
    searcher.search(db, query, p, index).as[SearchHit]
  }

  /** Hybrid (BM25 + cosine RRF) search; drops the fusion score to return
    * the typed hit shape — use `searcher.searchHybrid` for the scores. */
  def searchHybrid(db: String, query: String,
      p: Searcher.Params = Searcher.Params()): Dataset[SearchHit] = {
    import spark.implicits._
    searcher.searchHybrid(db, query, p)
      .select("id", "text", "metadata", "similarity_score", "distance")
      .as[SearchHit]
  }

  // ---- training-data curation (typed facade over graft.ops.Curation) ----
  // Column arguments are NAMES here (the session API ergonomics stance);
  // the object methods keep Column params for composition.

  /** Typed [[graft.ops.Curation.leakageSafeSplit]]: near-dup clusters
    * move into train/val/test together. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, trainPct: Int = 90,
      valPct: Int = 5): Dataset[graft.model.SplitAssignment] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.leakageSafeSplit(docs, col(idCol), col(textCol),
        threshold, trainPct = trainPct, valPct = valPct)
      .as[graft.model.SplitAssignment]
  }

  /** Typed [[graft.ops.Curation.curriculumOrder]]: easy-to-hard bins,
    * deterministically re-shuffled within bins per epoch. */
  def curriculumOrder(docs: DataFrame, idCol: String, scoreCol: String,
      nBins: Int = 10, epoch: Int = 0): Dataset[graft.model.CurriculumSlot] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.curriculumOrder(docs, col(idCol), col(scoreCol),
        nBins, epoch)
      .as[graft.model.CurriculumSlot]
  }

  /** Typed [[graft.ops.Curation.contrastiveTriplets]] over a pre-built
    * kNN edge frame ([[graft.ops.Ann.knnGraph]]/`knnGraphIvf`). */
  def contrastiveTriplets(docs: DataFrame, idCol: String, textCol: String,
      knnEdges: DataFrame, threshold: Double): Dataset[graft.model.Triplet] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.contrastiveTriplets(docs, col(idCol), col(textCol),
        knnEdges, threshold)
      .as[graft.model.Triplet]
  }

  /** Typed [[graft.ops.Curation.epochShuffle]]: the deterministic
    * per-epoch global dataloader order. */
  def epochShuffle(docs: DataFrame, idCol: String,
      epoch: Int): Dataset[graft.model.EpochSlot] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.epochShuffle(docs, col(idCol), epoch)
      .as[graft.model.EpochSlot]
  }

  /** The daily-ingest scrub chain ([[VectorStore.scrubGate]]) with name-
    * based columns: fold a batch or append stream through the persisted
    * artifacts of `db`, left to right. */
  def scrubGate(db: String, artifacts: Seq[graft.ops.ScrubArtifact],
      batch: DataFrame, idCol: String = "id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.col
    store.scrubGate(db, artifacts, batch, col(idCol), col(textCol))
  }

  /** Typed [[graft.ops.Curation.preferencePairs]]: per-prompt-group DPO
    * chosen/rejected extremes. */
  def preferencePairs(docs: DataFrame, groupCol: String, idCol: String,
      scoreCol: String,
      minMargin: Double = 0.0): Dataset[graft.model.PreferencePair] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.preferencePairs(docs, col(groupCol), col(idCol),
        col(scoreCol), minMargin)
      .as[graft.model.PreferencePair]
  }

  /** Typed [[graft.ops.Curation.fimTransform]]: deterministic
    * fill-in-the-middle PSM rewrite of a `rate` fraction. */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      rate: Double = 0.5): Dataset[graft.model.FimExample] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.fimTransform(docs, col(idCol), col(textCol), rate)
      .as[graft.model.FimExample]
  }

  /** Typed [[graft.ops.Curation.spanCorruption]]: the T5 denoising
    * objective with md5-deterministic spans. */
  def spanCorruption(docs: DataFrame, idCol: String, textCol: String,
      stride: Int = 8,
      spanLen: Int = 2): Dataset[graft.model.CorruptedExample] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.spanCorruption(docs, col(idCol), col(textCol),
        stride, spanLen)
      .as[graft.model.CorruptedExample]
  }

  /** Typed [[graft.ops.Curation.domainRollup]]: per-source quality gate
    * verdicts (pair with [[graft.ops.Curation.domainFilter]] to drop). */
  def domainRollup(docs: DataFrame, sourceCol: String, scoreCol: String,
      minMean: Double, lowFloor: Double,
      maxLowShare: Double = 1.0): Dataset[graft.model.DomainVerdict] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.domainRollup(docs, col(sourceCol), col(scoreCol),
        minMean, lowFloor, maxLowShare)
      .as[graft.model.DomainVerdict]
  }

  /** Typed [[graft.ops.Ann.bitextMine]]: margin-ratio cross-set pairs
    * with the mutual-best precision flag. */
  def bitextMine(a: DataFrame, aId: String, aVec: String, b: DataFrame,
      bId: String, bVec: String, k: Int = 4,
      threshold: Double = 1.0): Dataset[graft.model.BitextPair] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Ann.bitextMine(a, col(aId), col(aVec), b, col(bId),
        col(bVec), k, threshold)
      .as[graft.model.BitextPair]
  }

  /** Typed [[graft.ops.TextAnalysis.conversationAssemble]]: turn rows →
    * templated chat documents with the alternation-validity verdict. */
  def assembleConversations(turns: DataFrame, convCol: String,
      roleCol: String, textCol: String, orderCol: String,
      idCol: String): Dataset[graft.model.Conversation] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.TextAnalysis.conversationAssemble(turns, col(convCol),
        col(roleCol), col(textCol), col(orderCol), col(idCol))
      .as[graft.model.Conversation]
  }

  /** Typed [[graft.ops.Curation.domainReweight]]: one DoReMi
    * multiplicative-weights round over per-domain mean loss. */
  def domainReweight(docs: DataFrame, sourceCol: String, lossCol: String,
      refWeights: Map[String, Double], eta: Double = 1.0,
      eps: Double = 0.0): Dataset[graft.model.DomainWeight] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.domainReweight(docs, col(sourceCol), col(lossCol),
        refWeights, eta, eps)
      .as[graft.model.DomainWeight]
  }

  /** [[graft.ops.Curation.temperatureSample]] with name-based columns:
    * deterministic (share^(1/T)) stratum rebalancing. */
  def temperatureSample(docs: DataFrame, keyCol: String, stratumCol: String,
      temperature: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Curation.temperatureSample(docs, col(keyCol), col(stratumCol),
      temperature)
  }

  /** Typed [[graft.ops.Ann.retrievalMetrics]]: grade a ranked system
    * result against a ranked truth at k. */
  def retrievalMetrics(system: DataFrame, truth: DataFrame,
      k: Int): Dataset[graft.model.RetrievalQuality] = {
    import spark.implicits._
    graft.ops.Ann.retrievalMetrics(system, truth, k)
      .as[graft.model.RetrievalQuality]
  }

  /** Typed [[graft.ops.Classify.logisticPredict]] under a
    * [[graft.ops.Classify.logisticTrain]] model frame. */
  def logisticScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame,
      binary: Boolean = false): Dataset[graft.model.LogisticScore] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Classify.logisticPredict(docs, col(idCol), col(textCol),
        model, binary)
      .as[graft.model.LogisticScore]
  }

  /** [[graft.ops.Temporal.asofJoin]] with name-based columns: the most
    * recent `right` row per key at-or-before each `left` row's time
    * (`direction = "forward"`: the earliest at-or-after). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, payload: Seq[String], rightTiebreak: String,
      toleranceMicros: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.asofJoin(left, right, keys, timeCol, payload,
      col(rightTiebreak), toleranceMicros, direction = direction)
  }

  /** [[graft.ops.Temporal.asofJoinNearest]] with name-based columns:
    * the closer of the two as-of directions, ties backward. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, payload: Seq[String], rightTiebreak: String,
      toleranceMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.asofJoinNearest(left, right, keys, timeCol,
      payload, col(rightTiebreak), toleranceMicros)
  }

  /** [[graft.ops.Temporal.intervalOverlapJoin]] with name-based
    * columns: every overlapping (a, b) interval pair, exactly once. */
  def intervalOverlapJoin(a: DataFrame, aId: String, aStart: String,
      aEnd: String, b: DataFrame, bId: String, bStart: String,
      bEnd: String, bucketWidthMicros: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.intervalOverlapJoin(a, col(aId), col(aStart),
      col(aEnd), b, col(bId), col(bStart), col(bEnd), bucketWidthMicros)
  }

  /** [[graft.ops.Temporal.timeWeightedAvg]] with name-based columns:
    * the TWAP / time-weighted sensor mean over fixed buckets. */
  def timeWeightedAvg(events: DataFrame, keyCol: String, timeCol: String,
      valCol: String, bucketWidthMicros: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.timeWeightedAvg(events, col(keyCol), col(timeCol),
      col(valCol), bucketWidthMicros)
  }

  /** [[graft.ops.Temporal.funnelSteps]] with name-based columns: the
    * per-key ordered-funnel completion frame. */
  def funnelSteps(events: DataFrame, keyCol: String, typeCol: String,
      timeCol: String, steps: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.funnelSteps(events, col(keyCol), col(typeCol),
      col(timeCol), steps)
  }

  /** [[graft.ops.Temporal.rangeJoin]] with name-based columns: each
    * (point, containing-interval) pair via bucketized equi-join. */
  def rangeJoin(points: DataFrame, pId: String, pTime: String,
      intervals: DataFrame, iId: String, iStart: String, iEnd: String,
      bucketWidthMicros: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.rangeJoin(points, col(pId), col(pTime),
      intervals, col(iId), col(iStart), col(iEnd), bucketWidthMicros)
  }

  /** Typed [[graft.ops.Hnsw.buildExact]]: the layered ANN graph. */
  def hnswBuild(emb: DataFrame, idCol: String, vecCol: String, m: Int,
      maxLevel: Int): Dataset[graft.model.HnswEdge] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Hnsw.buildExact(emb, col(idCol), col(vecCol), m, maxLevel)
      .as[graft.model.HnswEdge]
  }

  /** Beam search over a [[hnswBuild]] graph: top-k ids by cosine. */
  def hnswSearch(edges: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, query: Array[Float], k: Int, maxLevel: Int,
      ef: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Hnsw.search(edges, emb, col(idCol), col(vecCol), query, k,
      maxLevel, ef)
  }

  /** Typed [[graft.ops.Rerank.distillationPairs]]: teacher-scored KD
    * triples over a first-stage candidate list. */
  def distillationPairs(cands: DataFrame, qIdCol: String, qTextCol: String,
      dIdCol: String, dTextCol: String, scorer: graft.ops.CrossScorer,
      posK: Int, negK: Int): Dataset[graft.model.DistillPair] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Rerank.distillationPairs(cands, col(qIdCol), col(qTextCol),
        col(dIdCol), col(dTextCol), scorer, posK, negK)
      .as[graft.model.DistillPair]
  }

  /** Typed [[graft.ops.Curation.ictPairs]]: inverse-cloze query/context
    * training pairs. */
  def ictPairs(docs: DataFrame, idCol: String, textCol: String,
      unitTokens: Int = 4): Dataset[graft.model.IctPair] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.ictPairs(docs, col(idCol), col(textCol), unitTokens)
      .as[graft.model.IctPair]
  }

  /** Typed [[graft.ops.Curation.packAssign]]: per-document bin slots
    * under the first-fit-in-order packing contract. */
  def packAssign(docs: DataFrame, idCol: String, order: Seq[String],
      tokensCol: String, budget: Long): Dataset[graft.model.PackSlot] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Curation.packAssign(docs, col(idCol), order.map(col),
        col(tokensCol), budget)
      .as[graft.model.PackSlot]
  }

  /** Typed [[graft.ops.Ivf.embeddingOutliers]]: cosine-to-centroid
    * semantic stray gate. */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, nlist: Int = 8): Dataset[graft.model.EmbeddingOutlier] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Ivf.embeddingOutliers(emb, col(idCol), col(vecCol), tau, nlist)
      .as[graft.model.EmbeddingOutlier]
  }

  /** Typed [[graft.ops.Ivf.diverseSample]]: k rows spread round-robin
    * across embedding cells. */
  def diverseSample(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 8): Dataset[graft.model.DiversePick] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Ivf.diverseSample(emb, col(idCol), col(vecCol), k, nlist)
      .as[graft.model.DiversePick]
  }

  /** Typed [[graft.ops.Profile.dqReport]] + `dqUnique` + `dqRefIntegrity`
    * in one call: row rules, key-uniqueness sets and FK checks, unioned
    * into the shared report shape. */
  def dqChecks(df: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      uniqueKeys: Seq[(String, Seq[String])] = Nil,
      refChecks: Seq[(String, String, DataFrame, String)] = Nil)
      : Dataset[graft.model.DqCheck] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val parts =
      (if (rules.nonEmpty) Seq(graft.ops.Profile.dqReport(df, rules))
       else Nil) ++
      (if (uniqueKeys.nonEmpty)
        Seq(graft.ops.Profile.dqUnique(df,
          uniqueKeys.map { case (n, ks) => (n, ks.map(col)) }))
       else Nil) ++
      refChecks.map { case (rule, fk, parent, pk) =>
        graft.ops.Profile.dqRefIntegrity(df, col(fk), parent, col(pk), rule)
      }
    require(parts.nonEmpty, "dqChecks: need at least one check")
    parts.reduce(_ unionByName _).as[graft.model.DqCheck]
  }

  /** [[graft.ops.Warehouse.scd2]] with name-based columns: SCD type-2
    * history from a change log. */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
      tiebreakCol: String, attrs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Warehouse.scd2(changes, col(keyCol), col(tsCol),
      col(tiebreakCol), attrs.map(a => a -> col(a)))
  }

  /** [[graft.ops.Linkage.sortedNeighborhoodJoin]] with name-based
    * columns: window-blocked JW candidate pairs. */
  def sortedNeighborhood(df: DataFrame, idCol: String, sortKeyCol: String,
      strCol: String, window: Int, minSim: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Linkage.sortedNeighborhoodJoin(df, col(idCol),
      col(sortKeyCol), col(strCol), window, minSim)
  }

  /** Typed [[graft.ops.Analytics.kaplanMeier]] survival curve. */
  def kaplanMeier(subjects: DataFrame, durCol: String,
      observedCol: String): Dataset[graft.model.KmStep] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Analytics.kaplanMeier(subjects, col(durCol), col(observedCol))
      .as[graft.model.KmStep]
  }

  /** Typed [[graft.ops.Analytics.associationRules]] basket affinity. */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minPairs: Long = 1L)
      : Dataset[graft.model.AssocRule] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Analytics.associationRules(baskets, col(basketCol),
        col(itemCol), minPairs)
      .as[graft.model.AssocRule]
  }

  /** Typed [[graft.ops.Temporal.holtSmooth]] per-key level+trend. */
  def holtSmooth(df: DataFrame, keyCol: String, timeCol: String,
      tiebreakCol: String, valCol: String, alpha: Double, beta: Double,
      horizon: Int = 1): Dataset[graft.model.HoltState] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Temporal.holtSmooth(df, col(keyCol), col(timeCol),
        col(tiebreakCol), col(valCol), alpha, beta, horizon)
      .as[graft.model.HoltState]
  }

  /** [[graft.ops.Temporal.funnelStepsWindowed]] with name-based columns:
    * the conversion-deadline funnel. */
  def funnelStepsWindowed(events: DataFrame, keyCol: String,
      typeCol: String, timeCol: String, steps: Seq[String],
      windowMicros: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.funnelStepsWindowed(events, col(keyCol),
      col(typeCol), col(timeCol), steps, windowMicros)
  }

  /** Typed [[graft.ops.Suffix.maximalRepeats]] boilerplate miner. */
  def maximalRepeats(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, maxLen: Int, minCount: Int = 2)
      : Dataset[graft.model.MaximalRepeat] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Suffix.maximalRepeats(docs, col(idCol), col(textCol),
        minLen, maxLen, minCount)
      .as[graft.model.MaximalRepeat]
  }

  /** [[graft.ops.Scale.skewReport]] with a name-based key: the
    * pre-shuffle straggler audit. */
  def skewReport(df: DataFrame, keyCol: String, topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Scale.skewReport(df, col(keyCol), topN)
  }

  /** [[graft.ops.Scale.kmvDistinct]] with name-based columns: the
    * mergeable distinct sketch. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Scale.kmvDistinct(df, groupCols, col(valCol), k)
  }

  /** [[graft.ops.Experiment.mannWhitney]] with name-based columns: the
    * nonparametric two-arm readout. */
  def mannWhitney(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.mannWhitney(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Experiment.welchTTest]] with name-based columns: the
    * means test with the honest effective df. */
  def welchTTest(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.welchTTest(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Experiment.proportionTest]] with name-based columns:
    * the two-arm conversion-rate z. */
  def proportionTest(units: DataFrame, armCol: String,
      convCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.proportionTest(units, col(armCol), col(convCol))
  }

  /** [[graft.ops.Experiment.kruskalWallis]] with name-based columns:
    * the k-arm rank test. */
  def kruskalWallis(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.kruskalWallis(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Experiment.chiSquareIndependence]] with name-based
    * columns: categorical independence + Cramér's V. */
  def chiSquareIndependence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.chiSquareIndependence(df, col(aCol), col(bCol))
  }

  /** [[graft.ops.Temporal.autocorrelation]] with name-based columns:
    * the per-key ACF at lags 1..maxLag. */
  def autocorrelation(df: DataFrame, idCol: String, keys: Seq[String],
      timeCol: String, valCol: String, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.autocorrelation(df, col(idCol), keys, col(timeCol),
      col(valCol), maxLag)
  }

  /** [[graft.ops.Temporal.cusumChangepoint]] with name-based columns:
    * the per-key mean-shift detector. */
  def cusumChangepoint(df: DataFrame, idCol: String, keys: Seq[String],
      timeCol: String, valCol: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.cusumChangepoint(df, col(idCol), keys, col(timeCol),
      col(valCol), threshold)
  }

  /** [[graft.ops.Temporal.theilSen]] with name-based columns: the
    * robust per-key trend over a bounded series. */
  def theilSen(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.theilSen(df, keys, col(xCol), col(yCol))
  }

  /** Typed [[graft.ops.Keyword.postingLists]] inverted-index catalog. */
  def postingLists(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int, cap: Int): Dataset[graft.model.PostingEntry] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Keyword.postingLists(docs, col(idCol), col(textCol),
        minDf, cap)
      .as[graft.model.PostingEntry]
  }

  /** Typed [[graft.ops.Graph.kCore]] dense-backbone membership. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): Dataset[graft.model.CoreNode] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Graph.kCore(edges, col(srcCol), col(dstCol), k)
      .as[graft.model.CoreNode]
  }

  /** Typed [[graft.ops.Graph.bfsDistances]] hop counts from a seed
    * frame. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, sourceIdCol: String,
      maxDepth: Int): Dataset[graft.model.HopDistance] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Graph.bfsDistances(edges, col(srcCol), col(dstCol), sources,
        col(sourceIdCol), maxDepth)
      .as[graft.model.HopDistance]
  }

  /** Typed [[graft.ops.Graph.hits]] hub/authority scores. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): Dataset[graft.model.HitsScore] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.ops.Graph.hits(edges, col(srcCol), col(dstCol), iters)
      .as[graft.model.HitsScore]
  }

  /** [[graft.ops.Curation.systematicSample]] with name-based sort
    * columns: the evenly-spread audit sample. */
  def systematicSample(df: DataFrame, sortCols: Seq[String], step: Int,
      offset: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Curation.systematicSample(df, sortCols.map(col), step, offset)
  }

  /** [[graft.ops.Scale.kmvSetOps]] with name-based columns: pairwise
    * union/Jaccard/intersection estimates from k-min sketches. */
  def kmvSetOps(df: DataFrame, groupCol: String, valCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Scale.kmvSetOps(df, col(groupCol), col(valCol), k)
  }

  /** [[graft.ops.Temporal.holtWintersSmooth]] with name-based columns:
    * the additive level+trend+seasonal triple per key. */
  def holtWintersSmooth(df: DataFrame, keyCol: String, timeCol: String,
      tiebreakCol: String, valCol: String, alpha: Double, beta: Double,
      gamma: Double, period: Int, horizon: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.holtWintersSmooth(df, col(keyCol), col(timeCol),
      col(tiebreakCol), col(valCol), alpha, beta, gamma, period, horizon)
  }

  /** [[graft.ops.Graph.labelPropagation]] with name-based columns:
    * semi-supervised label spread from a clamped seed frame. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String, seedLabelCol: String,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.labelPropagation(edges, col(srcCol), col(dstCol),
      seeds, col(seedIdCol), col(seedLabelCol), iters)
  }

  /** [[graft.ops.Curation.crossFold]]: the content-addressed k-fold
    * bucket column. */
  def crossFold(key: String, k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    graft.ops.Curation.crossFold(col(key), k)
  }

  /** [[graft.ops.TextAnalysis.gloveCooccurrence]] with a name-based
    * column: the windowed distance-weighted co-occurrence matrix. */
  def gloveCooccurrence(docs: DataFrame, textCol: String, window: Int,
      minCount: Long = 1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.gloveCooccurrence(docs, col(textCol), window,
      minCount)
  }

  /** [[graft.ops.Ann.pcaProject]] with name-based columns: projection
    * onto the top principal directions (fixed-sweep power iteration). */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      nComponents: Int = 2, sweeps: Int = 40): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Ann.pcaProject(emb, col(idCol), col(vecCol), dim,
      nComponents, sweeps)
  }

  /** [[graft.ops.Classify.isotonicCalibrate]] with name-based columns:
    * segment-merge PAV calibration over pre-binned scores. */
  def isotonicCalibrate(df: DataFrame, binCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.isotonicCalibrate(df, col(binCol), col(labelCol))
  }

  /** [[graft.ops.Classify.rocAuc]] with name-based columns: exact
    * tie-aware AUC + Gini of a score against a 0/1 label. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.rocAuc(df, col(scoreCol), col(labelCol))
  }

  /** [[graft.ops.Classify.calibrationError]] with name-based columns:
    * binned ECE/MCE reliability audit. */
  def calibrationError(df: DataFrame, probCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.calibrationError(df, col(probCol), col(labelCol),
      bins)
  }

  /** [[graft.ops.Classify.liftTable]] with name-based columns: decile
    * lift & cumulative gains. */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.liftTable(df, col(scoreCol), col(labelCol), k)
  }

  /** [[graft.ops.Curation.targetEncode]] with name-based columns:
    * leakage-safe out-of-fold smoothed target encoding. */
  def targetEncode(df: DataFrame, idCol: String, catCol: String,
      targetCol: String, foldCol: String,
      smoothing: Double = 20.0): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Curation.targetEncode(df, col(idCol), col(catCol),
      col(targetCol), col(foldCol), smoothing)
  }

  /** [[graft.ops.Profile.quantileNormalize]] with name-based columns:
    * per-group mapping onto the pooled value distribution. */
  def quantileNormalize(df: DataFrame, idCol: String, grpCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Profile.quantileNormalize(df, col(idCol), col(grpCol),
      col(valCol))
  }

  /** [[graft.ops.Experiment.mutualInformation]] with name-based
    * columns: MI + sqrt-normalized NMI between two categoricals. */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.mutualInformation(df, col(aCol), col(bCol))
  }

  /** [[graft.ops.TextAnalysis.sgnsPairs]] with a name-based column:
    * word2vec SGNS pairs with deterministic unigram negatives. */
  def sgnsPairs(docs: DataFrame, textCol: String, window: Int,
      minCount: Long, negatives: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.sgnsPairs(docs, col(textCol), window,
      minCount, negatives)
  }

  /** [[graft.ops.Temporal.holtWintersMultiplicative]] with name-based
    * columns: seasonal-ratio damped-trend triple smoothing. */
  def holtWintersMultiplicative(df: DataFrame, keyCol: String,
      timeCol: String, tiebreakCol: String, valCol: String,
      alpha: Double, beta: Double, gamma: Double, period: Int,
      phi: Double = 1.0, horizon: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.holtWintersMultiplicative(df, col(keyCol),
      col(timeCol), col(tiebreakCol), col(valCol), alpha, beta, gamma,
      period, phi, horizon)
  }

  /** [[graft.ops.Temporal.pacf]] with name-based columns: partial
    * autocorrelation via the Durbin-Levinson recursion. */
  def pacf(df: DataFrame, idCol: String, keys: Seq[String],
      timeCol: String, valCol: String, maxLag: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.pacf(df, col(idCol), keys, col(timeCol),
      col(valCol), maxLag)
  }

  /** [[graft.ops.Experiment.sprtTest]] with name-based columns: Wald's
    * sequential probability ratio test with first-crossing readout. */
  def sprtTest(units: DataFrame, keyCol: String, timeCol: String,
      tiebreakCol: String, outcomeCol: String, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.sprtTest(units, col(keyCol), col(timeCol),
      col(tiebreakCol), col(outcomeCol), p0, p1, alpha, beta)
  }

  /** [[graft.ops.Graph.kTruss]] with name-based columns: the
    * triangle-strength community backbone. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.kTruss(edges, col(srcCol), col(dstCol), k, maxIters)
  }

  /** [[graft.ops.Graph.ssspBellmanFord]] with name-based columns:
    * multi-source weighted shortest paths. */
  def ssspBellmanFord(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame, sourceIdCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.ssspBellmanFord(edges, col(srcCol), col(dstCol),
      col(weightCol), sources, col(sourceIdCol), rounds)
  }

  /** [[graft.ops.Ann.dbscan]] with name-based columns: exact density
    * clustering over a 2-d projection via the eps-grid equi-join. */
  def dbscan(df: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Ann.dbscan(df, col(idCol), col(xCol), col(yCol), eps,
      minPts, maxIters)
  }

  /** [[graft.ops.TextAnalysis.rakeKeywords]] with name-based columns:
    * per-document RAKE keyphrases. */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxPhraseLen: Int = 4,
      topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.rakeKeywords(docs, col(idCol), col(textCol),
      stopwords, maxPhraseLen, topK)
  }

  /** [[graft.ops.Experiment.anovaF]] with name-based columns: one-way
    * F with eta-squared. */
  def anovaF(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.anovaF(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Experiment.bhFdr]] with name-based columns:
    * per-family Benjamini-Hochberg adjusted p-values. */
  def bhFdr(tests: DataFrame, familyCol: String, keyCol: String,
      pCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.bhFdr(tests, col(familyCol), col(keyCol),
      col(pCol))
  }

  /** [[graft.ops.Experiment.mcnemarTest]] with name-based columns:
    * paired-binary flip test. */
  def mcnemarTest(pairs: DataFrame, beforeCol: String,
      afterCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.mcnemarTest(pairs, col(beforeCol), col(afterCol))
  }

  /** [[graft.ops.Experiment.brownForsythe]] with name-based columns:
    * median-based variance-equality test. */
  def brownForsythe(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.brownForsythe(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Classify.conformalInterval]] with name-based columns:
    * split-conformal prediction intervals. */
  def conformalInterval(df: DataFrame, idCol: String, predCol: String,
      actualCol: String, calFlagCol: String,
      alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.conformalInterval(df, col(idCol), col(predCol),
      col(actualCol), col(calFlagCol), alpha)
  }

  /** [[graft.ops.Analytics.frequentEventSequences]] with name-based
    * columns: contiguous event n-gram mining. */
  def frequentEventSequences(events: DataFrame, keyCol: String,
      typeCol: String, timeCol: String, tiebreakCol: String, n: Int,
      minSupport: Long = 1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Analytics.frequentEventSequences(events, col(keyCol),
      col(typeCol), col(timeCol), col(tiebreakCol), n, minSupport)
  }

  /** [[graft.ops.Experiment.ipsEstimate]] with name-based columns:
    * inverse-propensity off-policy value. */
  def ipsEstimate(logs: DataFrame, contextCol: String, armCol: String,
      rewardCol: String, policy: DataFrame, pContextCol: String,
      pArmCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.ipsEstimate(logs, col(contextCol), col(armCol),
      col(rewardCol), policy, col(pContextCol), col(pArmCol))
  }

  /** [[graft.ops.Profile.momentsProfile]] with a name-based column:
    * per-group mean/variance/skew/excess-kurtosis. */
  def momentsProfile(df: DataFrame, keys: Seq[String],
      valCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Profile.momentsProfile(df, keys, col(valCol))
  }

  /** [[graft.ops.Profile.trimmedMean]] with a name-based column:
    * per-group percentile-band trimmed mean. */
  def trimmedMean(df: DataFrame, keys: Seq[String], valCol: String,
      lo: Double = 0.1, hi: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Profile.trimmedMean(df, keys, col(valCol), lo, hi)
  }

  /** [[graft.ops.TextAnalysis.vocabularyGrowth]] with name-based
    * columns: the Heaps-law cumulative types-vs-tokens curve. */
  def vocabularyGrowth(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.vocabularyGrowth(docs, col(idCol), col(textCol))
  }

  /** [[graft.ops.Graph.degreeAssortativity]] with name-based columns:
    * the hub-wiring Pearson coefficient. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.degreeAssortativity(edges, col(srcCol), col(dstCol))
  }

  /** [[graft.ops.Graph.modularity]] with name-based columns: Newman-
    * Girvan Q of a given partition. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assign: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.modularity(edges, col(srcCol), col(dstCol), assign,
      col(nodeCol), col(commCol))
  }

  /** [[graft.ops.Ann.knnClassify]] with name-based columns: leave-one-
    * out k-NN majority vote over embedding labels. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Ann.knnClassify(emb, col(idCol), col(vecCol),
      col(labelCol), k)
  }

  /** [[graft.ops.Ann.daviesBouldin]] with name-based columns: the
    * cluster-separation index of a labelled partition. */
  def daviesBouldin(emb: DataFrame, idCol: String, vecCol: String,
      clusterCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Ann.daviesBouldin(emb, col(idCol), col(vecCol),
      col(clusterCol))
  }

  /** [[graft.ops.Keyword.tfidfSimilarityPairs]] with name-based
    * columns: lexical document-pair cosine via the inverted index. */
  def tfidfSimilarityPairs(docs: DataFrame, idCol: String,
      textCol: String, maxDf: Long, threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Keyword.tfidfSimilarityPairs(docs, col(idCol),
      col(textCol), maxDf, threshold)
  }

  /** [[graft.ops.Graph.katzCentrality]] with name-based columns:
    * truncated attenuated walk counts in integer micro-units. */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      alphaPct: Int = 10, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.katzCentrality(edges, col(srcCol), col(dstCol),
      alphaPct, iters)
  }

  /** [[graft.ops.Graph.betweennessApprox]] with name-based columns:
    * pivot-sampled Brandes betweenness. */
  def betweennessApprox(edges: DataFrame, srcCol: String, dstCol: String,
      pivotCandidates: DataFrame, pivotIdCol: String, maxPivots: Int,
      maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.betweennessApprox(edges, col(srcCol), col(dstCol),
      pivotCandidates, col(pivotIdCol), maxPivots, maxDepth)
  }

  /** [[graft.ops.Graph.personalizedPageRank]] with name-based columns:
    * random walk with restart to a seed set. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedIdCol: String,
      iters: Int = 3, dampingPct: Int = 85): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.personalizedPageRank(edges, col(srcCol), col(dstCol),
      seeds, col(seedIdCol), iters, dampingPct)
  }

  /** [[graft.ops.Analytics.nelsonAalen]] with name-based columns:
    * cumulative hazard + Fleming-Harrington survival. */
  def nelsonAalen(subjects: DataFrame, durCol: String,
      observedCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Analytics.nelsonAalen(subjects, col(durCol),
      col(observedCol))
  }

  /** [[graft.ops.Analytics.lorenzCurve]] with a name-based column:
    * cumulative value-share quantile points. */
  def lorenzCurve(df: DataFrame, valCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Analytics.lorenzCurve(df, col(valCol), k)
  }

  /** [[graft.ops.Experiment.spearmanCorr]] with name-based columns:
    * tie-corrected rank correlation. */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.spearmanCorr(df, col(xCol), col(yCol))
  }

  /** [[graft.ops.Experiment.cohensKappa]] with name-based columns:
    * chance-corrected agreement between two labelings. */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.cohensKappa(df, col(aCol), col(bCol))
  }

  /** [[graft.ops.Experiment.kendallTau]] with name-based columns:
    * tie-corrected concordance association over binned metrics. */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.kendallTau(df, col(xCol), col(yCol))
  }

  /** [[graft.ops.Experiment.featureScreen]] with name-based columns:
    * one-pass info-gain / gain-ratio screen of categorical features. */
  def featureScreen(df: DataFrame, features: Seq[String],
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.featureScreen(df,
      features.map(f => f -> col(f)), col(labelCol))
  }

  /** [[graft.ops.TextAnalysis.chao1Richness]] with name-based columns:
    * per-group vocabulary-ceiling (species-richness) estimate. */
  def chao1Richness(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.chao1Richness(docs, col(groupCol), col(textCol))
  }

  /** [[graft.ops.Temporal.forecastBacktest]] with name-based columns:
    * fixed-origin seasonal-naive MAE/MASE/sMAPE backtest. */
  def forecastBacktest(df: DataFrame, idCol: String, keys: Seq[String],
      timeCol: String, valCol: String, period: Int,
      horizon: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.forecastBacktest(df, col(idCol), keys,
      col(timeCol), col(valCol), period, horizon)
  }

  /** [[graft.ops.Temporal.theilSenTrend]] with name-based columns:
    * robust median-of-pairwise-slopes trend per key. */
  def theilSenTrend(df: DataFrame, idCol: String, keys: Seq[String],
      timeCol: String, valCol: String,
      maxPoints: Int = 1000): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.theilSenTrend(df, col(idCol), keys, col(timeCol),
      col(valCol), maxPoints)
  }

  /** [[graft.ops.Classify.isotonicCalibrateByKey]] with name-based
    * columns: per-key PAV calibration. */
  def isotonicCalibrateByKey(df: DataFrame, keyCol: String,
      binCol: String, labelCol: String,
      maxBins: Int = 100000): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Classify.isotonicCalibrateByKey(df, col(keyCol),
      col(binCol), col(labelCol), maxBins)
  }

  /** [[graft.ops.Analytics.gappedSequences]] with name-based columns:
    * gap-allowed 2/3-item sequential patterns (bounded PrefixSpan). */
  def gappedSequences(events: DataFrame, keyCol: String, typeCol: String,
      timeCol: String, tiebreakCol: String, maxEventsPerKey: Int,
      minSupport: Long = 1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Analytics.gappedSequences(events, col(keyCol), col(typeCol),
      col(timeCol), col(tiebreakCol), maxEventsPerKey, minSupport)
  }

  /** [[graft.ops.Experiment.bootstrapMeanCI]] with name-based columns:
    * md5-deterministic Poisson-bootstrap CI for the mean. */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valCol: String,
      nBoot: Int = 200, alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.bootstrapMeanCI(df, col(idCol), col(valCol),
      nBoot, alpha)
  }

  /** [[graft.ops.Experiment.bootstrapDiffCI]] with name-based columns:
    * two-sample Poisson-bootstrap CI for a difference of means. */
  def bootstrapDiffCI(df: DataFrame, idCol: String, armCol: String,
      valCol: String, armA: String, armB: String, nBoot: Int = 200,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.bootstrapDiffCI(df, col(idCol), col(armCol),
      col(valCol), armA, armB, nBoot, alpha)
  }

  /** [[graft.ops.TextAnalysis.bleuPairs]] with name-based columns:
    * compiled per-partition BLEU-2 over a bounded pair frame. */
  def bleuPairs(pairs: DataFrame, aIdCol: String, bIdCol: String,
      refTextCol: String, candTextCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TextAnalysis.bleuPairs(pairs, col(aIdCol), col(bIdCol),
      col(refTextCol), col(candTextCol))
  }

  /** [[graft.ops.Graph.louvainOneLevel]] with name-based columns:
    * deterministic one-level Louvain community detection. */
  def louvainOneLevel(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.louvainOneLevel(edges, col(srcCol), col(dstCol),
      rounds)
  }

  /** [[graft.ops.Analytics.activeUsersAudit]] with name-based columns:
    * the self-certifying exact-vs-HLL rolling active-users audit. */
  def activeUsersAudit(events: DataFrame, keyCol: String, timeCol: String,
      windows: Seq[Int], tol: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Analytics.activeUsersAudit(events, col(keyCol),
      col(timeCol), windows, tol)
  }

  /** [[graft.ops.Graph.refineConnectivity]] with name-based columns:
    * Leiden-style connectivity refinement of a community assignment. */
  def refineConnectivity(edges: DataFrame, srcCol: String,
      dstCol: String, assign: DataFrame, nodeCol: String,
      commCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.refineConnectivity(edges, col(srcCol), col(dstCol),
      assign, col(nodeCol), col(commCol))
  }

  /** [[graft.ops.Graph.communityConductance]] with name-based columns:
    * per-community cut quality (vol/inn/cut/φ). */
  def communityConductance(edges: DataFrame, srcCol: String,
      dstCol: String, assign: DataFrame, nodeCol: String,
      commCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.communityConductance(edges, col(srcCol),
      col(dstCol), assign, col(nodeCol), col(commCol))
  }

  /** [[graft.ops.Graph.coreNumbers]] with name-based columns: the full
    * core decomposition by distributed h-index iteration. */
  def coreNumbers(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.coreNumbers(edges, col(srcCol), col(dstCol), rounds)
  }

  /** [[graft.ops.Graph.harmonicCentrality]] with name-based columns:
    * pivot-sampled harmonic centrality in integer micro-units. */
  def harmonicCentrality(edges: DataFrame, srcCol: String,
      dstCol: String, sources: DataFrame, sourceIdCol: String,
      maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.harmonicCentrality(edges, col(srcCol), col(dstCol),
      sources, col(sourceIdCol), maxDepth)
  }

  /** [[graft.ops.Graph.linkPredictionScores]] with name-based columns:
    * common-neighbor + Jaccard-bp scores for distance-2 non-edges. */
  def linkPredictionScores(edges: DataFrame, srcCol: String,
      dstCol: String, minCommon: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.linkPredictionScores(edges, col(srcCol),
      col(dstCol), minCommon)
  }

  /** [[graft.ops.Experiment.mannKendall]] with name-based columns:
    * per-key non-parametric trend test (tie-corrected). */
  def mannKendall(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.mannKendall(df, col(keyCol), col(orderCol),
      col(valueCol))
  }

  /** [[graft.ops.Experiment.seasonalMannKendall]] with name-based
    * columns: the within-season variant (Hirsch–Slack). */
  def seasonalMannKendall(df: DataFrame, keyCol: String,
      orderCol: String, phaseCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.seasonalMannKendall(df, col(keyCol),
      col(orderCol), col(phaseCol), col(valueCol))
  }

  /** [[graft.ops.Experiment.logRankTest]] with name-based columns:
    * two-group survival-curve difference test. */
  def logRankTest(subjects: DataFrame, durCol: String,
      observedCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.logRankTest(subjects, col(durCol),
      col(observedCol), col(groupCol))
  }

  /** [[graft.ops.Experiment.cmhTest]] with name-based columns:
    * stratified 2×2 association (CMH χ² + MH odds ratio). */
  def cmhTest(units: DataFrame, stratumCol: String, armCol: String,
      successCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.cmhTest(units, col(stratumCol), col(armCol),
      col(successCol))
  }

  /** [[graft.ops.Experiment.didEstimate]] with name-based columns:
    * two-group × pre/post difference-in-differences. */
  def didEstimate(units: DataFrame, groupCol: String, postCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.didEstimate(units, col(groupCol), col(postCol),
      col(valueCol))
  }

  /** [[graft.ops.Temporal.seasonalDecompose]] with name-based columns:
    * additive moving-average seasonal decomposition. */
  def seasonalDecompose(df: DataFrame, tCol: String, vCol: String,
      period: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.seasonalDecompose(df, col(tCol), col(vCol),
      period)
  }

  /** [[graft.ops.Temporal.changePointSplit]] with name-based columns:
    * the binary-segmentation changepoint primitive. */
  def changePointSplit(df: DataFrame, tCol: String,
      vCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.changePointSplit(df, col(tCol), col(vCol))
  }

  /** [[graft.ops.Scale.amsF2]] with name-based columns: the AMS
    * second-moment (self-join size) sketch. */
  def amsF2(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Scale.amsF2(df, col(keyCol), k)
  }

  /** [[graft.ops.Experiment.effectSizes]] with name-based columns:
    * Cohen's d / Hedges' g / Cliff's δ for a two-arm comparison. */
  def effectSizes(units: DataFrame, armCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.effectSizes(units, col(armCol), col(metricCol))
  }

  /** [[graft.ops.Graph.topoLayers]] with name-based columns:
    * longest-path DAG layers with the loud acyclicity check. */
  def topoLayers(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.topoLayers(edges, col(srcCol), col(dstCol), rounds)
  }

  /** [[graft.ops.Graph.stronglyConnectedComponents]] with name-based
    * columns: directed SCC labels (min member id). */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxPhases: Int = 10,
      maxRounds: Int = 200): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.stronglyConnectedComponents(edges, col(srcCol),
      col(dstCol), maxPhases, maxRounds)
  }

  /** [[graft.ops.Curation.kAnonymityReport]] with name-based columns:
    * the k-anonymity / l-diversity release audit. */
  def kAnonymityReport(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int, l: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Curation.kAnonymityReport(df,
      quasiCols.map(n => n -> col(n)), col(sensitiveCol), k, l)
  }

  /** [[graft.ops.Experiment.wilcoxonSignedRank]] with name-based
    * columns: the paired pre/post test. */
  def wilcoxonSignedRank(pairs: DataFrame, preCol: String,
      postCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.wilcoxonSignedRank(pairs, col(preCol),
      col(postCol))
  }

  /** [[graft.ops.Experiment.fisherExact]] with name-based columns:
    * the small-cell 2×2 exact test. */
  def fisherExact(units: DataFrame, aCol: String, bCol: String,
      maxN: Long = 20000L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.fisherExact(units, col(aCol), col(bCol), maxN)
  }

  /** [[graft.ops.Experiment.friedmanTest]] with name-based columns:
    * blocked repeated-measures rank test. */
  def friedmanTest(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.friedmanTest(df, col(blockCol), col(treatCol),
      col(valueCol))
  }

  /** [[graft.ops.Temporal.crossCorrelation]] with name-based columns:
    * lead/lag correlation between two series on one grid. */
  def crossCorrelation(df: DataFrame, tCol: String, xCol: String,
      yCol: String, maxLag: Int,
      maxGrains: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.crossCorrelation(df, col(tCol), col(xCol),
      col(yCol), maxLag, maxGrains)
  }

  /** [[graft.ops.Temporal.residualDiagnostics]] with name-based
    * columns: per-key Durbin–Watson + runs test. */
  def residualDiagnostics(df: DataFrame, keyCol: String, tCol: String,
      vCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Temporal.residualDiagnostics(df, col(keyCol), col(tCol),
      col(vCol))
  }

  /** [[graft.ops.Graph.linkPredictionWeighted]] with name-based
    * columns: RA/AA hub-discounted link prediction. */
  def linkPredictionWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, minCommon: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.linkPredictionWeighted(edges, col(srcCol),
      col(dstCol), minCommon)
  }

  /** [[graft.ops.Graph.randomWalks]] with name-based columns: the
    * deterministic DeepWalk corpus generator. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      steps: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.randomWalks(edges, col(srcCol), col(dstCol), steps)
  }

  /** [[graft.ops.Graph.diameterDoubleSweep]] with name-based columns:
    * the 2-BFS diameter lower bound with a loud horizon. */
  def diameterDoubleSweep(edges: DataFrame, srcCol: String,
      dstCol: String, maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.diameterDoubleSweep(edges, col(srcCol),
      col(dstCol), maxDepth)
  }

  /** [[graft.ops.Experiment.enrichmentTest]] with name-based columns:
    * per-key hypergeometric over-representation audit. */
  def enrichmentTest(units: DataFrame, keyCol: String, aCol: String,
      bCol: String, maxNPerKey: Long = 20000L): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.enrichmentTest(units, col(keyCol), col(aCol),
      col(bCol), maxNPerKey)
  }

  /** [[graft.ops.Experiment.jonckheereTerpstra]] with name-based
    * columns: ordered-alternative trend test. */
  def jonckheereTerpstra(units: DataFrame, groupOrderCol: String,
      metricCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.jonckheereTerpstra(units, col(groupOrderCol),
      col(metricCol))
  }

  /** [[graft.ops.Graph.bipartiteCheck]] with name-based columns:
    * BFS-parity two-mode validation of the pivot's component. */
  def bipartiteCheck(edges: DataFrame, srcCol: String, dstCol: String,
      maxDepth: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.bipartiteCheck(edges, col(srcCol), col(dstCol),
      maxDepth)
  }

  /** [[graft.ops.Graph.maximalMatching]] with name-based columns:
    * round-synchronous greedy maximal matching. */
  def maximalMatching(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.maximalMatching(edges, col(srcCol), col(dstCol),
      rounds)
  }

  /** [[graft.ops.Experiment.cochranQ]] with name-based columns:
    * blocked binary-outcome test. */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      successCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Experiment.cochranQ(df, col(blockCol), col(treatCol),
      col(successCol))
  }

  /** [[graft.ops.Linkage.survivorshipMerge]] with name-based columns:
    * the golden-record step (canonical pick + majority-vote fields). */
  def survivorshipMerge(records: DataFrame, clusterCol: String,
      idCol: String, rankCols: Seq[String],
      voteCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Linkage.survivorshipMerge(records, col(clusterCol),
      col(idCol), rankCols.map(col), voteCols.map(n => n -> col(n)))
  }
}
