package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.operators.TextAnalysis
import graft.operators.TextAnalysis.DsirModel

/** Streaming DSIR gate — the importance-weight sibling of
  * [[QualityGate]]: admit a document iff its per-feature DSIR weight
  * (how target-like it is relative to the raw pool, [[TextAnalysis
  * .dsirScore]]) is at least [[AdmitMinX1e6]] micro-nats per feature.
  * Where the quality gate asks "does this read like the corpus", this
  * gate asks "does this read like the TARGET domain" — the ingest-time
  * form of the paper's batch selection, so off-target noise never
  * reaches the expensive pipeline stages downstream.
  *
  * Like the quality gate (and unlike the dedup gates) the model is
  * FROZEN: importance weights only mean something against a fixed
  * (target, pool) reference pair, so there is no absorb step, no
  * batch-order dependence, and an at-least-once replay re-emits
  * bit-identical verdicts.
  *
  * Scale posture: the model is the capped 64K-feature table — a
  * BOUNDED broadcast no matter the corpus size — plus three scalar
  * totals baked into the plan as literals. Per trigger the batch's
  * bigram fan-out joins the broadcast model and re-aggregates by
  * doc_id (map-side partials collapse each doc's co-located bigrams),
  * so verify cost is O(batch tokens) with shuffle volume O(batch
  * docs); corpus size appears ONLY in the one-off model build.
  * Verdicts are integer-exact: fixed-point weight vs an integer
  * cross-multiplied threshold, no float compare anywhere.
  */
object DsirGate {

  /** Admit iff logw_x1e6 >= AdmitMinX1e6 * n_feats — −16,000
    * micro-nats per feature, between the %4-split score medians of
    * the synthetic corpus (−25,649 at sf0.001, −15,966 at sf0.01,
    * −4,045 at sf0.1) so both verdict classes stay populated at every
    * test SF (the [[QualityGate.AdmitMaxNatsX1e6]] calibration
    * convention). */
  val AdmitMinX1e6 = -16000L

  /** Train and persist the model as a saved table (+ the totals as a
    * 1-row side table), then read it back — the restartable form: a
    * later stream (or a different session) mounts the same frozen
    * model without retraining. */
  def trainDisk(corpusDocs: DataFrame, table: String): DsirModel = {
    val s = corpusDocs.sparkSession
    val mem = TextAnalysis.dsirTrain(corpusDocs)
    graft.sources.Writers.replaceTable(s, mem.feats, table)
    import s.implicits._
    graft.sources.Writers.replaceTable(s,
      Seq((mem.tTot, mem.rTot, mem.v)).toDF("t_tot", "r_tot", "v"),
      s"${table}_tot")
    DedupGate.unpersistCheckpoints(mem.feats)
    val tot = s.table(s"${table}_tot").head()
    DsirModel(s.table(table), tot.getLong(0), tot.getLong(1),
      tot.getLong(2), Some(table))
  }

  /** Verify stage: per new doc with >= 2 tokens, the feature total,
    * out-of-vocab count, fixed-point weight, per-feature weight
    * (signed truncating shift, the PCA division convention), and the
    * admit verdict. Documents shorter than one bigram carry no
    * evidence and are admitted by omission (no verdict row), the
    * span-gate convention. */
  def score(newDocs: DataFrame, m: DsirModel): DataFrame =
    TextAnalysis.dsirScore(newDocs, m)
      .select(col("doc_id"), col("n_feats"), col("n_oov"),
        col("logw_x1e6"),
        (signum(col("logw_x1e6")).cast(LongType) *
          expr("abs(logw_x1e6) div n_feats")).as("avg_x1e6"),
        when(col("logw_x1e6") >= lit(AdmitMinX1e6) * col("n_feats"),
          1L).otherwise(0L).as("admit"))
      .orderBy(col("doc_id"))

  /** Start the gate: the frozen model is trained once, then each
    * micro-batch is scored against it and the verdicts handed to the
    * sink. Stateless per batch — verdict rows are replay-stable. */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      modelTable: Option[String] = None): StreamingQuery = {
    val m = modelTable.map(t => trainDisk(corpusDocs, t))
      .getOrElse(TextAnalysis.dsirTrain(corpusDocs))
    Gate.startFrozen(newDocs, checkpointDir, trigger, sink)(score(_, m))
  }

  /** Batch analog for the oracle gate: every doc_id % 4 == 0 document
    * as ONE "new" batch scored against the model trained on the rest
    * (the [[QualityGate.qQualityGate]] split). */
  def qDsirGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs.filter(col("doc_id") % 4 === 0),
      TextAnalysis.dsirTrain(docs.filter(col("doc_id") % 4 =!= 0)))
  }

  /** [[qDsirGate]] through the persisted-model path — same result set
    * (same oracle SQL): the proof that the saved model is the model. */
  def qDsirGateDisk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    score(docs.filter(col("doc_id") % 4 === 0),
      trainDisk(docs.filter(col("doc_id") % 4 =!= 0),
        DedupGate.gateTableName("dsir", d)))
  }
}
