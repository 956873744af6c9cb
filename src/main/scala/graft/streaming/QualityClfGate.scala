package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.operators.QualityClf
import graft.operators.QualityClf.QclfModel

/** Streaming TRAINED-CLASSIFIER quality gate — the discriminative
  * sibling of [[QualityGate]] (corpus-LM perplexity) and [[DsirGate]]
  * (importance weights): admit a document iff the frozen logistic
  * model scores it at least [[QualityClf.AdmitMinPX1e6]] — "more
  * reference-like than not" under the trained decision boundary
  * (VERDICT r15 #7's frozen-model gate variant).
  *
  * Like the other model gates the model is FROZEN: classifier scores
  * only mean something against a fixed trained boundary, so there is
  * no absorb step, no batch-order dependence, and an at-least-once
  * replay re-emits bit-identical verdicts.
  *
  * Scale posture: the model is the <= [[QualityClf.Buckets]]-row
  * weight table — a BOUNDED broadcast no matter the corpus — and per
  * trigger the batch's hashed-bigram fan-out joins it and re-aggs by
  * doc_id: verify cost O(batch tokens), shuffle O(batch docs);
  * corpus size appears only in the one-off training job. Verdicts
  * are integer-exact (hard-sigmoid micro-units, no float compare). */
object QualityClfGate {

  /** Train and persist the weight table, then read it back — the
    * restartable form ([[DsirGate.trainDisk]] convention): a later
    * stream (or different session) mounts the same frozen boundary
    * without retraining. */
  def trainDisk(corpusDocs: DataFrame, table: String): QclfModel = {
    val s = corpusDocs.sparkSession
    val w = QualityClf.train(corpusDocs)
    graft.sources.Writers.replaceTable(s, w, table)
    DedupGate.unpersistCheckpoints(w)
    QclfModel(s.table(table), Some(table))
  }

  /** Start the gate: train once (optionally persisted), then score
    * each micro-batch against the frozen model. Stateless per batch —
    * verdict rows are replay-stable. */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      modelTable: Option[String] = None,
      monitor: Option[QclfDriftMonitor] = None): StreamingQuery = {
    val m = modelTable.map(t => trainDisk(corpusDocs, t))
      .getOrElse(QclfModel(QualityClf.train(corpusDocs)))
    Gate.startFrozen(newDocs, checkpointDir, trigger, sink)(
      QualityClf.score(_, m).orderBy(col("doc_id")),
      // drift wire: one bounded 1-row aggregate per trigger —
      // (n, mean score) fed to the frozen-baseline z test
      (_, verdicts) => monitor.foreach { mon =>
        val st = verdicts.agg(count(lit(1)), avg(col("p_x1e6"))).head()
        if (st.getLong(0) > 0) mon.observe(st.getLong(0), st.getDouble(1))
      })
  }

  // ------------------------------------------------ drift DETECTION

  /** Deterministic batch grouping for the drift BATCH ANALOG: the %4
    * stream docs fold into this many pseudo-triggers. */
  val DriftBatches = 8L

  /** |z| beyond which one batch's mean score is implausible under the
    * frozen training-score distribution (the [[TelemetryMonitor]]
    * 3-sigma convention, applied to a batch MEAN: z divides by the
    * standard error sqrt(var/batch_n), so big calibrated batches stay
    * quiet while a genuinely shifted stream trips at any size). */
  val DriftZCut = 3.0

  /** Consecutive implausible batches before the wire trips (the
    * [[AnnIngest.DriftMonitor]] patience convention — one weird batch
    * is noise; a run of them is a shifted stream). */
  val DriftPatience = 3

  /** Training-time score-distribution baseline of a frozen model:
    * (n, s1, s2) over the training pool's own p_x1e6 scores, the
    * exact decimal-sum chain of the telemetry monitor (bounded: one
    * row, computed once when the model is trained). */
  def scoreBaseline(trainDocs: DataFrame, m: QclfModel): (Long, Double, Double) = {
    val r = QualityClf.score(trainDocs, m).agg(
      count(lit(1)),
      sum(col("p_x1e6").cast(DecimalType(38, 6))).cast(DoubleType),
      sum((col("p_x1e6") * col("p_x1e6")).cast(DecimalType(38, 6))).cast(DoubleType))
      .head()
    (r.getLong(0), r.getDouble(1), r.getDouble(2))
  }

  /** Frozen-model STALENESS wire (round-17, VERDICT r16 #4): the
    * classifier gate scores every batch against a boundary trained
    * once, and a drifting stream silently degrades those verdicts —
    * the score distribution is the observable. Per batch the monitor
    * z-tests the batch's mean score against the training-time
    * baseline; [[DriftPatience]] consecutive |z| > [[DriftZCut]]
    * batches trip a STANDING retrain recommendation (the
    * [[AnnIngest.DriftMonitor]] advice contract — the gate keeps
    * serving its frozen verdicts, the operator schedules retraining).
    * Driver-side O(1) state; nothing corpus-sized. */
  final class QclfDriftMonitor(n: Long, s1: Double, s2: Double,
      zCut: Double = DriftZCut, patience: Int = DriftPatience) {
    require(n >= 2 && (s2 - s1 * s1 / n) / n > 0,
      "degenerate baseline: need >= 2 training scores with variance")
    private val mu = s1 / n
    private val varP = (s2 - s1 * s1 / n) / n
    private var hot = 0
    @volatile private var tripped = false

    /** Standing recommendation: true once the wire has tripped. */
    def advice: Boolean = tripped

    /** z of one batch's mean score under the frozen baseline. */
    def zOf(batchN: Long, batchMeanP: Double): Double =
      if (batchN <= 0) 0.0
      else (batchMeanP - mu) / math.sqrt(varP / batchN)

    /** Record one batch's (doc count, mean p_x1e6); returns true
      * exactly when this observation trips the wire. */
    def observe(batchN: Long, batchMeanP: Double): Boolean = {
      val z = zOf(batchN, batchMeanP)
      hot = if (batchN > 0 && math.abs(z) > zCut) hot + 1 else 0
      if (hot >= patience && !tripped) {
        tripped = true
        System.err.println(
          f"[graft.qclf] drift: batch mean score $batchMeanP%.1f is " +
            f"z=$z%.2f from the training baseline $mu%.1f for $hot " +
            "consecutive batches - the frozen classifier no longer " +
            "represents the stream; schedule retraining on the grown " +
            "corpus (QualityClfGate.trainDisk)")
        true
      } else false
    }
  }

  /** Batch analog of the drift wire, ORACLE-CHECKED: the %4 stream
    * docs fold into [[DriftBatches]] deterministic pseudo-batches,
    * each z-tested against the training pool's frozen score baseline
    * — per batch the doc count, admit count, mean score, z, and the
    * drifted verdict. The z chain is the telemetry monitor's exact
    * recipe: integer micro-unit scores, DECIMAL(38,6) sums, one fixed
    * IEEE division chain — bit-identical in DuckDB. */
  def qQualityClfDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = QclfModel(QualityClf.gateWeightsMemo(s, d))
    val base = QualityClf.score(docs.filter(col("doc_id") % 4 =!= 0), m)
      .agg(count(lit(1)).as("bn"),
        sum(col("p_x1e6").cast(DecimalType(38, 6))).cast(DoubleType).as("s1"),
        sum((col("p_x1e6") * col("p_x1e6")).cast(DecimalType(38, 6)))
          .cast(DoubleType).as("s2"))
    QualityClf.score(docs.filter(col("doc_id") % 4 === 0), m)
      .withColumn("batch_id", expr(s"(doc_id div 4) % $DriftBatches"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("admit")).as("n_admit"),
        sum(col("p_x1e6").cast(DecimalType(38, 6))).cast(DoubleType).as("bs1"))
      .crossJoin(broadcast(base)) // 1-row frozen baseline
      .filter(col("bn") >= 2 &&
        (col("s2") - col("s1") * col("s1") / col("bn")) / col("bn") > 0)
      .select(col("batch_id"), col("n_docs"), col("n_admit"),
        (col("bs1") / col("n_docs")).as("mean_p"),
        ((col("bs1") / col("n_docs") - col("s1") / col("bn")) /
          sqrt(((col("s2") - col("s1") * col("s1") / col("bn")) / col("bn"))
            / col("n_docs"))).as("z"))
      .withColumn("drifted", abs(col("z")) > DriftZCut)
      .orderBy(col("batch_id"))
  }

  /** Batch analog for the oracle gate: every doc_id % 4 == 0 document
    * as ONE "new" batch scored against the model trained on the rest
    * (the [[QualityGate.qQualityGate]] split). */
  def qQualityClfGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    QualityClf.score(docs.filter(col("doc_id") % 4 === 0),
      QclfModel(QualityClf.gateWeightsMemo(s, d)))
      .orderBy(col("doc_id"))
  }

  /** [[qQualityClfGate]] through the persisted-model path — same
    * result set (same oracle SQL): the proof that the saved model is
    * the model. */
  def qQualityClfGateDisk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    QualityClf.score(docs.filter(col("doc_id") % 4 === 0),
      trainDisk(docs.filter(col("doc_id") % 4 =!= 0),
        DedupGate.gateTableName("qclf", d)))
      .orderBy(col("doc_id"))
  }
}
