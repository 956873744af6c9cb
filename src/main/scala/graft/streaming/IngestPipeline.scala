package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables

/** Composed ingest pipeline: the gate modalities chained the way a
  * production crawl-ingest actually runs them — CHEAP MODEL FIRST,
  * then content novelty:
  *
  *   batch → [quality gate: frozen LM, reject noise]
  *         → [span-novelty gate: reject mostly-already-seen content]
  *         → admitted docs absorb into the span index
  *
  * Ordering matters twice over: the quality stage is O(batch tokens)
  * against a bounded broadcast (no corpus state at all), so it runs
  * first and shields the span index from noise; and only docs that
  * SURVIVE both stages absorb — a rejected-noise doc must not grow the
  * novelty index (the composition property this module exists to get
  * right, and what a per-gate deployment would get wrong by absorbing
  * independently).
  *
  * Per batch the sink receives one row per doc with both verdicts and
  * the final admit; the funnel report (stage attrition, the streaming
  * analog of `qFilterFunnel`) is a two-row aggregate over that frame.
  */
object IngestPipeline {

  /** Per-doc composed verdicts for one batch against the two gate
    * states: `q_admit` (LM fluency), `s_admit` (span novelty — only
    * meaningful for quality-admitted docs, but computed for the whole
    * batch in the same pass since the span verify is one semi-join),
    * and the final `admit` = both. Bypass convention (shared with the
    * individual gates): a doc too short for a verdict passes that
    * stage. */
  def verdicts(batch: DataFrame, lm: QualityGate.LmIndex,
      spans: SpanGate.SpanIndex): DataFrame =
    verdictsWithScratch(batch, lm, spans)._1

  /** [[verdicts]] plus the span stage's internal checkpoint frame, so
    * the long-running caller ([[IngestState.process]]) can unpersist
    * the scratch once its own eager checkpoint severs the plan
    * reference — the [[Gate.Absorbing]] per-micro-batch hygiene (one
    * leaked cached RDD per trigger otherwise). One-shot batch
    * callers use [[verdicts]]. */
  private[streaming] def verdictsWithScratch(batch: DataFrame,
      lm: QualityGate.LmIndex,
      spans: SpanGate.SpanIndex): (DataFrame, Seq[DataFrame]) = {
    val q = QualityGate.score(batch, lm)
      .select(col("doc_id"), col("admit").as("q_admit"))
    val (nov, scratch) = SpanGate.noveltyWithScratch(batch, spans)
    val sp = nov.select(col("doc_id"), col("admit").as("s_admit"))
    val v = batch.select(col("doc_id"))
      .join(q, Seq("doc_id"), "left")
      .join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("q_admit"), lit(1L)).as("q_admit"),
        coalesce(col("s_admit"), lit(1L)).as("s_admit"))
      .withColumn("admit",
        when(col("q_admit") === 1L && col("s_admit") === 1L, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
    (v, scratch)
  }

  /** Stage-attrition funnel over a verdict frame: docs in, dropped,
    * out per stage — quality drops first, span drops count only among
    * quality survivors (sequential semantics, like `qFilterFunnel`). */
  def funnel(verdictRows: DataFrame): DataFrame = {
    val a = verdictRows.agg(
      count(lit(1)).as("total"),
      sum(when(col("q_admit") === 0L, 1L).otherwise(0L)).as("d1"),
      sum(when(col("q_admit") === 1L && col("s_admit") === 0L, 1L).otherwise(0L))
        .as("d2"))
    def row(st: Long, rule: String, nIn: org.apache.spark.sql.Column,
        nDrop: org.apache.spark.sql.Column) =
      struct(lit(st).as("stage"), lit(rule).as("rule"),
        nIn.as("n_in"), nDrop.as("n_dropped"))
    a.select(explode(array(
        row(1L, "quality_lm", col("total"), col("d1")),
        row(2L, "span_novelty", col("total") - col("d1"), col("d2")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.rule").as("rule"),
        col("r.n_in").as("n_in"), col("r.n_dropped").as("n_dropped"),
        (col("r.n_in") - col("r.n_dropped")).as("n_out"))
      .orderBy(col("stage"))
  }

  /** Cross-batch state: the frozen LM plus the absorbing span index
    * ([[SpanGate.NoveltyGate]]). Every batch doc has a verdict row, so
    * only docs admitted by BOTH stages absorb (exactly-once per batch
    * id, the span gate's replay guard). */
  final class IngestState(corpusDocs: DataFrame,
      spanTable: Option[String] = None,
      collapseEvery: Int = DedupGate.CollapseEvery)
      extends SpanGate.NoveltyGate(corpusDocs, collapseEvery, spanTable) {
    private val lm = QualityGate.trainLm(corpusDocs)

    def spanIndex: SpanGate.SpanIndex = index

    protected def verify(batch: DataFrame): Gate.Verified[SpanGate.SpanIndex] = {
      val (verdicts, scratch) = verdictsWithScratch(batch, lm, index)
      Gate.Verified(verdicts, scratch)
    }
  }

  /** Start the composed pipeline over a document stream. */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      spanTable: Option[String] = None): StreamingQuery = {
    val state = new IngestState(corpusDocs, spanTable)
    Gate.start(newDocs, checkpointDir, trigger)(state.process(_, _, sink))
  }

  /** Batch analog for the oracle: the %4 batch against the %4-rest
    * corpus through BOTH gates, reported as the stage funnel. */
  def qIngestFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    funnel(verdicts(batch,
      QualityGate.trainLm(corpus), SpanGate.indexSpans(corpus)))
  }
}
