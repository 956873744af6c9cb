package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.functions.TextFunctions.{bigramRows, tokens}

/** TRAINED quality classifier — the model-based data filter the GPT-3
  * data work popularized (Brown et al. 2020: a linear classifier over
  * hashed n-gram features predicts "does this document read like the
  * reference corpus", and its score gates the pool; fastText's
  * architecture). The perplexity and DSIR operators approximate this
  * signal with generative LMs; this is the DISCRIMINATIVE member of
  * the family (VERDICT r15 #7), trained end-to-end inside the engine.
  *
  * Model: logistic regression over hashed bigram counts (the fastText
  * shape — [[Buckets]]-way feature hashing bounds the model no matter
  * the corpus, exactly like DSIR's capped vocab). Training is
  * [[Rounds]] full-batch gradient steps, each one Spark job — the
  * unrolled-iteration discipline of `q_pca_power`/`q_bpe_merges`, so
  * the oracle replays the identical chain as CTEs.
  *
  * ==Exact cross-engine arithmetic==
  *
  * Everything is integer fixed-point (micro-units, x1e6):
  *  - feature bucket: first 3 md5 hex digits of "prev w" -> 0..4095
  *    (both engines compute md5 identically; the hex->int fold is
  *    exact on both);
  *  - the sigmoid is the HARD sigmoid p = clamp(z/4 + 1/2, 0, 1) —
  *    piecewise-LINEAR, so it is exactly representable in integer
  *    micro-units (p = clamp(sdiv(z,4) + 500000, 0, 1000000)); the
  *    smooth sigmoid's transcendental would break engine-exactness,
  *    and hard-sigmoid logistic updates are a standard quantized
  *    approximation (same gradient form: (p - y) * x);
  *  - every division is the repo's SIGNED TRUNCATING shift
  *    (sign(v) * (abs(v) div s) — Spark div truncates, DuckDB //
  *    floors; they agree on non-negatives only);
  *  - gradient sums ride DECIMAL(38,0) (DuckDB HUGEINT) so the
  *    per-bucket accumulation cannot overflow Int64 at 100 TB.
  *
  * ==Scale shape==
  *
  * The weight vector is <= [[Buckets]] rows — a BOUNDED broadcast no
  * matter the corpus. Each training round is: one broadcast join of
  * the (doc, bucket, count) fan-out against the weights + a doc_id
  * re-agg (map-side partials collapse co-located buckets), then one
  * bucket re-agg for the gradient — two word-count-shaped shuffles
  * per round, O(corpus tokens) work, never an all-pairs or
  * driver-side loop. Scoring is one broadcast join + one doc agg —
  * the [[TextAnalysis.dsirScore]] template. */
object QualityClf {

  /** Feature-hash width — bounds the model (fastText's `-hash`
    * bucket count, scaled to the synthetic corpus). */
  val Buckets = 4096L

  /** Full-batch gradient rounds (unrolled; each is one Spark job).
    * Calibrated on the synthetic corpus: 8 rounds reach held-out
    * accuracy well above the majority class at every test SF
    * (67-77% vs 51-56% majority on the %4 split; whole-pool 79-89%)
    * with both verdict classes populated — see the round-16 sweep in
    * the commit message. */
  val Rounds = 8

  /** Update damping: w -= sdiv(sum((p-y)*x), n * UpdateDiv) — the
    * fixed-point learning rate 1/(n*UpdateDiv) per count unit.
    * Calibrated with [[Rounds]]: 1 (plain mean gradient) converges
    * in 8 rounds; larger values stall, smaller oscillate into the
    * hard sigmoid's saturation (measured in the same sweep). */
  val UpdateDiv = 1L

  /** Admit iff p_x1e6 >= AdmitMinPX1e6 — the hard-sigmoid midpoint:
    * "more reference-like than not". */
  val AdmitMinPX1e6 = 500000L

  /** The signed truncating shift (the PCA division convention).
    * Implemented with `div` (truncating integral divide), NOT
    * Decimal.divide — Decimal division rounds HALF_UP at scale 0,
    * which silently diverges from DuckDB's floor `//` on the abs
    * values. */
  private def sdivCols(v: String, s: String): Column =
    (signum(col(v)).cast(LongType) * expr(s"abs($v) div $s")).cast(LongType)

  /** Hashed bigram features plus one INTERCEPT row per document
    * (bucket id [[Buckets]], x = 1 — the bias absorbs the class
    * prior, without it every weight soaks up the base rate and the
    * boundary collapses; measured in the calibration sweep): one
    * (doc_id, b, x) row per (document, bucket) with x = occurrence
    * count. The fan-out pipelines inside the scan; the agg's map-side
    * partial collapses each doc's buckets before the exchange. */
  private[graft] def hashedFeatures(docs: DataFrame): DataFrame =
    bigramRows(docs, "doc_id", "text")
      .select(col("doc_id"),
        conv(substring(md5(concat(col("prev"), lit(" "), col("w"))), 1, 3), 16, 10)
          .cast(LongType).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("x"))
      .union(docs.where(size(tokens(col("text"))) >= 2)
        .select(col("doc_id"), lit(Buckets).as("b"), lit(1L).as("x")))

  /** Reference-membership label: 1 iff the document passes the
    * Gopher-band heuristic funnel ([[TextAnalysis.qFilterFunnel]]'s
    * four rules — length band, mean word length, stopword ratio,
    * lexical diversity). This is the curated-vs-raw membership the
    * GPT-3 data work trains its filter on, with the repo's own
    * rule-based filter standing in as the curated reference — the
    * classifier DISTILLS the heuristic into a model (the standard
    * move when scaling a hand filter to domains it doesn't transfer
    * to). NOTE: lang is deliberately NOT the label — the synthetic
    * corpus draws every language from one shared vocabulary, so
    * lang's Bayes ceiling from text alone is the majority class
    * (measured: the ideal stopword-rate rule gets 57-59%); a label no
    * model can learn would make the eval row meaningless. All four
    * rules are integer cross-multiplied (no IEEE division), mirrored
    * verbatim in the oracle. */
  private[graft] def labels(docs: DataFrame): DataFrame = {
    val en = graft.functions.TextFunctions.stopwords("en")
    val toks = tokens(col("text"))
    docs.where(size(toks) >= 2)
      .select(col("doc_id"), col("n_chars"), toks.as("toks"))
      .select(col("doc_id"),
        when(col("n_chars") >= 100 && col("n_chars") <= 100000 &&
          aggregate(transform(col("toks"), t => length(t)), lit(0L),
            (acc, x) => acc + x).between(
              size(col("toks")).cast(LongType) * 4,
              size(col("toks")).cast(LongType) * 10) &&
          size(filter(col("toks"), t => t.isin(en: _*))).cast(LongType) * 20 >=
            size(col("toks")).cast(LongType) &&
          size(array_distinct(col("toks"))).cast(LongType) * 10 >=
            size(col("toks")).cast(LongType) * 3, 1L)
          .otherwise(0L).as("y"))
  }

  /** The frozen model: the bounded (b, w) weight table. `table` set
    * means the weights live in a saved table (restart reuse — the
    * [[TextAnalysis.DsirModel]] convention). */
  final case class QclfModel(w: DataFrame, table: Option[String] = None) {
    def content: DataFrame = table match {
      case Some(t) => w.sparkSession.table(t)
      case None => w
    }
  }

  /** Per-doc raw score z = sum_b x[d,b] * w[b] against a weight
    * frame; docs with no bigram evidence are absent (the span-gate
    * omission convention). */
  private def rawScores(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("x") * coalesce(col("w"), lit(0L))).cast(LongType).as("z"))

  /** Hard-sigmoid probability in micro-units. */
  private def pX1e6(z: String): Column =
    least(greatest(sdivCols(z, "4") + lit(500000L), lit(0L)), lit(1000000L))

  /** Train the classifier: [[Rounds]] unrolled full-batch
    * hard-sigmoid logistic steps over the training slice. Returns the
    * bounded weight frame (b, w), localCheckpoint-pinned (it feeds
    * every scoring consumer). */
  private[graft] def train(trainDocs: DataFrame): DataFrame = {
    val s = trainDocs.sparkSession
    import s.implicits._
    val feats = hashedFeatures(trainDocs).localCheckpoint(true)
    val lbl = labels(trainDocs).localCheckpoint(true)
    val n = lbl.count() // 1-row scalar (training-doc count), plan literal
    val den = s"${n * UpdateDiv}"
    // w0 = 0 folded: round 1's error is the constant 500000 - 1e6*y
    var w: DataFrame = {
      val e1 = lbl.select(col("doc_id"), (lit(500000L) - lit(1000000L) * col("y")).as("e"))
      feats.join(e1, "doc_id")
        .groupBy(col("b"))
        .agg(sum((col("x") * col("e")).cast(DecimalType(38, 0))).as("g"))
        .select(col("b"), (lit(0L) - sdivCols("g", den)).as("w"))
        .localCheckpoint(true)
    }
    for (_ <- 2 to Rounds) {
      val e = rawScores(feats, w)
        .join(lbl, "doc_id")
        .select(col("doc_id"), (pX1e6("z") - lit(1000000L) * col("y")).as("e"))
      val g = feats.join(e, "doc_id")
        .groupBy(col("b"))
        .agg(sum((col("x") * col("e")).cast(DecimalType(38, 0))).as("g"))
      val next = g.join(w, Seq("b"), "left")
        .select(col("b"),
          (coalesce(col("w"), lit(0L)) - sdivCols("g", den)).as("w"))
        .localCheckpoint(true)
      graft.streaming.DedupGate.unpersistCheckpoints(w)
      w = next
    }
    graft.streaming.DedupGate.unpersistCheckpoints(feats, lbl)
    w
  }

  /** Score documents against a frozen model: per doc with bigram
    * evidence, the feature count, raw margin, hard-sigmoid
    * probability, the true label (for eval queries) and the admit
    * verdict. */
  private[graft] def score(docs: DataFrame, m: QclfModel): DataFrame =
    rawScores(hashedFeatures(docs), m.content)
      .join(labels(docs), "doc_id")
      .select(col("doc_id"), col("y"), col("n_feats"), col("z"),
        pX1e6("z").as("p_x1e6"),
        when(pX1e6("z") >= AdmitMinPX1e6, 1L).otherwise(0L).as("admit"))

  /** Trained weights of one model `kind` over a corpus, built once
    * per corpus snapshot as a [[graft.Artifacts]] entry: one training
    * run serves every consumer of that model (the score query and the
    * eval row for the whole pool). A frame from another session is
    * rebuilt. */
  private def memoizedWeights(s: SparkSession, d: String, kind: String)(
      build: => DataFrame): DataFrame =
    graft.Artifacts.getValid[DataFrame](s"qclf.$kind", d,
      graft.sources.Writers.fileFingerprint(d, "documents.parquet"),
      _.sparkSession eq s)(build)

  private def trainedWeightsMemo(s: SparkSession, d: String): DataFrame =
    memoizedWeights(s, d, "pool")(train(Tables.documents(s, d)))

  /** Build-once memo for the %4-SPLIT model (trained on doc_id % 4 <>
    * 0) shared by the gate batch analog and the drift batch analog —
    * the same boundary, trained once per corpus (charged to its first
    * alphabetical bench consumer, q_quality_clf_drift). The DISK gate
    * variant deliberately does NOT ride this: the persisted-model
    * path is its subject, so it trains-and-persists fresh. */
  private[graft] def gateWeightsMemo(s: SparkSession, d: String): DataFrame =
    memoizedWeights(s, d, "m4")(
      train(Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)))

  /** Whole-pool classifier scores: trained on the same pool it scores
    * (the batch-selection setting, like [[TextAnalysis
    * .dsirWeightFrame]]). */
  def qQualityClf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs, QclfModel(trainedWeightsMemo(s, d))).orderBy(col("doc_id"))
  }

  /** Confusion counts of the whole-pool classifier — the evidence row
    * that the model LEARNED the reference signal (vs the 50/50 prior
    * a zero-weight model emits). */
  def qQualityClfEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs, QclfModel(trainedWeightsMemo(s, d)))
      .groupBy(col("y"), col("admit"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("admit"))
  }
}
