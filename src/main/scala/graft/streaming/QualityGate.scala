package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.functions.TextFunctions.tokens

/** Streaming QUALITY gate — the fourth gate modality next to the
  * lexical gate, the embedding gate, and the span-novelty gate:
  * admit a document iff its language-model surprisal under the corpus
  * LM is at most [[AdmitMaxNatsX1e6]] nats/token — the CCNet-style
  * "does this read like the corpus" filter, run at ingest so noise
  * never reaches the expensive pipeline stages downstream.
  *
  * Unlike the dedup gates the model is FROZEN: production quality
  * filters score against a model trained offline (retrained on a
  * cadence, not per batch), because an admit threshold only means
  * something against a fixed reference distribution. The gate state is
  * therefore immutable — no absorb step, no batch-order dependence,
  * and an at-least-once replay re-emits bit-identical verdicts (none
  * of the replay-drift caveats the absorbing gates document).
  *
  * Scale posture: the LM is the CAPPED add-one bigram model of
  * [[graft.operators.TextAnalysis.qPerplexity]] (top-64K bigrams,
  * deterministic tie-break) — a BOUNDED broadcast no matter the corpus
  * size. Per trigger the batch's bigram fan-out joins the broadcast LM
  * and re-aggregates by doc_id (map-side partials collapse each doc's
  * co-located bigrams to ~1 row), so verify cost is O(batch tokens)
  * with shuffle volume O(batch docs) — corpus size appears ONLY in the
  * one-off model build. Verdicts are integer-exact: fixed-point
  * surprisal vs an integer cross-multiplied threshold, no float
  * compare anywhere.
  */
object QualityGate {

  import graft.operators.TextAnalysis.LmMaxBigrams

  /** Admit iff surprisal_x1e6 <= AdmitMaxNatsX1e6 * n_bigrams —
    * 3.42 nats/token, between the sf0.01 and sf0.1 batch medians of
    * the synthetic corpus so both verdict classes stay populated at
    * every test SF. */
  val AdmitMaxNatsX1e6 = 3420000L

  /** Ordered-bigram fan-out — the shared TextFunctions definition, so
    * the gate and the perplexity scorer read identical pairs. */
  private[streaming] def bigramRows(docs: DataFrame): DataFrame =
    graft.functions.TextFunctions.bigramRows(docs, "doc_id", "text")

  /** The frozen LM: capped bigram counts (the broadcast side), their
    * context sums, and the train-vocabulary size. `table` set means the
    * counts live in a saved table (restart reuse — the model outlives
    * the stream that built it). */
  final case class LmIndex(bgc: DataFrame, v: Long, table: Option[String] = None) {
    def content: DataFrame = table match {
      case Some(t) => bgc.sparkSession.table(t)
      case None => bgc
    }
  }

  /** Train the capped LM from a corpus snapshot: ONE word-count-shaped
    * (prev, w) shuffle with map-side partials, a driver-merged top-K
    * (TakeOrdered — O(K) per partition, K rows total), and a bounded
    * 1-row vocabulary scalar. */
  def trainLm(corpusDocs: DataFrame): LmIndex = {
    val bgc = bigramRows(corpusDocs)
      .groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c_pair"))
      .orderBy(col("c_pair").desc, col("prev"), col("w")).limit(LmMaxBigrams)
      .localCheckpoint(true)
    val v = corpusDocs.select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    LmIndex(bgc, v)
  }

  /** Train and persist the LM as a saved table (+ the vocabulary size
    * as a 1-row side table), then read it back — the restartable form:
    * a later stream (or a different session) mounts the same frozen
    * model without retraining. */
  def trainLmDisk(corpusDocs: DataFrame, table: String): LmIndex = {
    val s = corpusDocs.sparkSession
    val mem = trainLm(corpusDocs)
    graft.sources.Writers.replaceTable(s, mem.bgc, table)
    import s.implicits._
    graft.sources.Writers.replaceTable(s, Seq(mem.v).toDF("v"), s"${table}_v")
    DedupGate.unpersistCheckpoints(mem.bgc)
    LmIndex(s.table(table), s.table(s"${table}_v").head().getLong(0), Some(table))
  }

  /** Verify stage: per new doc with >= 2 tokens, the bigram total,
    * unseen count, fixed-point surprisal, nats/token, and the admit
    * verdict (integer cross-multiply against [[AdmitMaxNatsX1e6]]).
    * Documents shorter than one bigram carry no evidence and are
    * admitted by omission (no verdict row), the span-gate convention. */
  def score(newDocs: DataFrame, lm: LmIndex): DataFrame = {
    val ctx = lm.content.groupBy(col("prev")).agg(sum(col("c_pair")).as("c_ctx"))
    def lnX1e6(k: org.apache.spark.sql.Column) =
      round(log(k.cast(DoubleType)) * lit(1e6)).cast(LongType)
    val term =
      lnX1e6(coalesce(col("c_ctx"), lit(0L)) + lit(lm.v)) -
        lnX1e6(coalesce(col("c_pair"), lit(0L)) + lit(1L))
    bigramRows(newDocs)
      .join(broadcast(lm.content), Seq("prev", "w"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c_pair").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(term).as("surprisal_x1e6"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        col("surprisal_x1e6"),
        round(col("surprisal_x1e6") / lit(1e6) / col("n_bigrams"), 4)
          .as("avg_nats"),
        when(col("surprisal_x1e6") <= lit(AdmitMaxNatsX1e6) * col("n_bigrams"),
          1L).otherwise(0L).as("admit"))
      .orderBy(col("doc_id"))
  }

  /** Start the gate: the frozen LM is trained once, then each
    * micro-batch is scored against it and the verdicts handed to the
    * sink. Stateless per batch — verdict rows are replay-stable. */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      lmTable: Option[String] = None): StreamingQuery = {
    val lm = lmTable.map(t => trainLmDisk(corpusDocs, t))
      .getOrElse(trainLm(corpusDocs))
    Gate.startFrozen(newDocs, checkpointDir, trigger, sink)(score(_, lm))
  }

  /** Batch analog for the oracle gate: every doc_id % 4 == 0 document
    * as ONE "new" batch scored against the LM trained on the rest. */
  def qQualityGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs.filter(col("doc_id") % 4 === 0),
      trainLm(docs.filter(col("doc_id") % 4 =!= 0)))
  }

  /** [[qQualityGate]] through the persisted-LM path — same result set
    * (same oracle SQL): the proof that the saved model is the model. */
  def qQualityGateDisk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs.filter(col("doc_id") % 4 === 0),
      trainLmDisk(docs.filter(col("doc_id") % 4 =!= 0),
        DedupGate.gateTableName("qlm", d)))
  }

  // -------------------- trigram stupid-backoff variant (order 3) --

  /** Trigram admit line: 3.59 nats/token — the measured sf0.001
    * GATE-split median of the order-3 model (batch docs are unseen by
    * the model, so their surprisal sits above the in-corpus
    * perplexity median), keeping both verdict classes populated at
    * every test SF (the [[AdmitMaxNatsX1e6]] calibration
    * convention). */
  val AdmitMaxNats3X1e6 = 3590000L

  /** The frozen order-3 LM: three capped broadcast tables (trigram,
    * bigram backoff, unigram floor) + the (N, V) scalars — each table
    * ≤ 64K rows by construction, so the whole model broadcasts at any
    * corpus size; the arithmetic is
    * [[graft.operators.TextAnalysis.qPerplexity3]]'s. */
  final case class Lm3Index(tgc: DataFrame, bgc: DataFrame, uni: DataFrame,
      n: Long, v: Long)

  /** Train the frozen trigram model: three word-count-shaped shuffles
    * with map-side partials, each capped by a deterministic top-K. */
  def trainLm3(corpusDocs: DataFrame): Lm3Index = {
    import graft.operators.TextAnalysis.LmMaxBigrams
    val tgc = graft.functions.TextFunctions
      .trigramRows(corpusDocs, "doc_id", "text")
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c_tri"))
      .orderBy(col("c_tri").desc, col("w1"), col("w2"), col("w3"))
      .limit(LmMaxBigrams).localCheckpoint(true)
    val bgc = bigramRows(corpusDocs)
      .groupBy(col("prev"), col("w")).agg(count(lit(1)).as("c_pair"))
      .orderBy(col("c_pair").desc, col("prev"), col("w"))
      .limit(LmMaxBigrams).localCheckpoint(true)
    val toks = corpusDocs.select(explode(tokens(col("text"))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_uni"))
      .orderBy(col("c_uni").desc, col("tok"))
      .limit(LmMaxBigrams).localCheckpoint(true)
    val nv = toks.agg(count(lit(1)), countDistinct(col("tok"))).head()
    Lm3Index(tgc, bgc, uni, nv.getLong(0), nv.getLong(1))
  }

  /** Verify stage, order 3: per new doc with >= 3 tokens, hit counts
    * per backoff level, fixed-point stupid-backoff surprisal, and the
    * integer cross-multiplied admit verdict. Documents shorter than
    * one trigram are admitted by omission. */
  def score3(newDocs: DataFrame, lm: Lm3Index): DataFrame = {
    import graft.operators.TextAnalysis.LmBackoffLnX1e6
    val ctx3 = lm.tgc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c_tri")).as("c_12"))
    val ctx2 = lm.bgc.groupBy(col("prev")).agg(sum(col("c_pair")).as("c_ctx"))
    def lnX1e6(k: org.apache.spark.sql.Column) =
      round(log(k.cast(DoubleType)) * lit(1e6)).cast(LongType)
    val term = when(col("c_tri").isNotNull,
        lnX1e6(col("c_12")) - lnX1e6(col("c_tri")))
      .when(col("c_pair").isNotNull,
        lit(-LmBackoffLnX1e6) + lnX1e6(col("c_ctx")) - lnX1e6(col("c_pair")))
      .otherwise(lit(-2L * LmBackoffLnX1e6) +
        lnX1e6(lit(lm.n + lm.v)) -
        lnX1e6(coalesce(col("c_uni"), lit(0L)) + lit(1L)))
    graft.functions.TextFunctions.trigramRows(newDocs, "doc_id", "text")
      .join(broadcast(lm.tgc), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(ctx3), Seq("w1", "w2"), "left")
      .join(broadcast(lm.bgc),
        col("prev") === col("w2") && col("w") === col("w3"), "left")
      .join(broadcast(ctx2).withColumnRenamed("prev", "prev2"),
        col("prev2") === col("w2"), "left")
      .join(broadcast(lm.uni), col("tok") === col("w3"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_trigrams"),
        sum(when(col("c_tri").isNotNull, 1L).otherwise(0L)).as("n_tri_hit"),
        sum(when(col("c_tri").isNull && col("c_pair").isNotNull, 1L)
          .otherwise(0L)).as("n_bi_hit"),
        sum(when(col("c_tri").isNull && col("c_pair").isNull, 1L)
          .otherwise(0L)).as("n_uni"),
        sum(term).as("surprisal_x1e6"))
      .select(col("doc_id"), col("n_trigrams"), col("n_tri_hit"),
        col("n_bi_hit"), col("n_uni"), col("surprisal_x1e6"),
        round(col("surprisal_x1e6") / lit(1e6) / col("n_trigrams"), 4)
          .as("avg_nats"),
        when(col("surprisal_x1e6") <= lit(AdmitMaxNats3X1e6) * col("n_trigrams"),
          1L).otherwise(0L).as("admit"))
      .orderBy(col("doc_id"))
  }

  /** Start the trigram gate — [[start]]'s shape with the frozen
    * order-3 model: stateless per batch, replay-stable verdicts. */
  def start3(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery = {
    val lm = trainLm3(corpusDocs)
    Gate.startFrozen(newDocs, checkpointDir, trigger, sink)(score3(_, lm))
  }

  /** Batch analog of the trigram gate for the oracle: every
    * doc_id % 4 == 0 document as ONE "new" batch scored against the
    * order-3 model trained on the rest. */
  def qQuality3Gate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score3(docs.filter(col("doc_id") % 4 === 0),
      trainLm3(docs.filter(col("doc_id") % 4 =!= 0)))
  }
}
