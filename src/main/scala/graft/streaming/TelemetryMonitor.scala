package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.functions.Deterministic.dsum

/** Streaming TELEMETRY monitor — the metrics sibling of the document
  * gates: where the four gates decide per-DOCUMENT admit/reject, this
  * flags per-EVENT value anomalies against frozen per-type statistics
  * (mean/stddev learned from a corpus snapshot), the data-quality
  * watchdog a pipeline points at its own event stream.
  *
  * Like the quality gate's LM — and unlike the absorbing dedup gates —
  * the reference statistics are FROZEN: an anomaly threshold only
  * means something against a fixed reference distribution, so the
  * monitor is stateless per batch and an at-least-once replay re-emits
  * bit-identical verdicts. When the stream's distribution genuinely
  * moves, the right response is retraining the stats, not absorbing
  * the drift — which is exactly what the [[DriftMonitor]] trip wire
  * surfaces: a sustained anomaly-rate spike means the frozen stats no
  * longer describe the stream (the banding-escalation pattern of
  * `DedupGate.BandingMonitor`, applied to distribution drift).
  *
  * Scale posture: the stats frame is |event types| rows — a bounded
  * broadcast at any corpus size. Per trigger the batch joins the
  * broadcast and filters; no shuffle wider than the batch's own
  * rows, corpus size appears only in the one-off stats build. The
  * z chain is the decimal-exact-sums + fixed IEEE op sequence of
  * `Relational.qEventAnomaly`, so verdicts are engine-exact and
  * replay-stable.
  */
object TelemetryMonitor {

  /** Absolute z-score above which an event is flagged — shared with
    * the batch analog so the two surfaces agree by construction. */
  val FlagZ: Double = graft.operators.Relational.AnomalyZ

  /** Frozen per-type statistics: (event_type, s1, s2, n) with s1/s2
    * the decimal-exact value and value² sums. `table` set means the
    * stats live in a saved table (restart reuse). */
  final case class StatsIndex(stats: DataFrame, table: Option[String] = None) {
    def content: DataFrame = table match {
      case Some(t) => stats.sparkSession.table(t)
      case None => stats
    }
  }

  /** Train the frozen stats from a corpus snapshot: one hash agg on
    * event_type with map-side partials — output is |types| rows. */
  def trainStats(corpusEvents: DataFrame): StatsIndex =
    StatsIndex(corpusEvents.groupBy(col("event_type")).agg(
      dsum(col("value")).as("s1"),
      dsum(col("value") * col("value")).as("s2"),
      count(lit(1)).as("n")).localCheckpoint(true))

  /** Train and persist the stats as a saved table, then read back —
    * the restartable form. Parquet round-trips the doubles
    * bit-exactly, so the saved model IS the model. */
  def trainStatsDisk(corpusEvents: DataFrame, table: String): StatsIndex = {
    val s = corpusEvents.sparkSession
    val mem = trainStats(corpusEvents)
    graft.sources.Writers.replaceTable(s, mem.content, table)
    DedupGate.unpersistCheckpoints(mem.stats)
    StatsIndex(s.table(table), Some(table))
  }

  /** Verify stage: flagged events only — (event_id, event_type,
    * value, z) for |z| > [[FlagZ]]. An event whose type has no frozen
    * stats row carries no reference distribution and passes without a
    * verdict (the quality gate's admit-by-omission convention) — and
    * so does one whose stats are degenerate (n < 2 or variance ≤ 0:
    * single observation, constant metric, or cancellation in the
    * E[x²]−E[x]² form). Without that guard sd is 0/NaN, z is
    * ±Inf/NaN, SQL's NaN > 3 is TRUE, and the DriftMonitor would
    * trip permanently on a constant-valued type. */
  def score(newEvents: DataFrame, st: StatsIndex): DataFrame = {
    val mean = col("s1") / col("n")
    val variance = (col("s2") - col("s1") * col("s1") / col("n")) / col("n")
    newEvents.join(broadcast(st.content), Seq("event_type"))
      .filter(col("n") >= 2L && variance > lit(0.0))
      .withColumn("z", (col("value") - mean) / sqrt(variance))
      .filter(abs(col("z")) > lit(FlagZ))
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Batch anomaly fraction above which the frozen stats are judged
    * stale: a well-calibrated 3-sigma flag fires on ~0.3% of a normal
    * stream; 10% of a batch "anomalous" is not anomalies, it is
    * DRIFT. */
  val DriftRate = 0.10

  /** Consecutive over-rate batches before the wire trips. */
  val DriftPatience = 3

  /** Sustained-anomaly-rate trip wire: when the flagged fraction
    * exceeds `rateThreshold` for `patience` consecutive batches, the
    * monitor logs once and recommends retraining the frozen stats.
    * The monitor does NOT hot-swap them mid-stream — verdicts against
    * a silently moving reference would be uninterpretable; the
    * operator restarts with a fresh [[trainStats]] snapshot. */
  final class DriftMonitor(rateThreshold: Double = DriftRate,
      patience: Int = DriftPatience) {
    private var hot = 0
    @volatile private var tripped = false

    /** True once a sustained drift regime has been observed. */
    def stale: Boolean = tripped

    /** Record one batch's flag rate; returns true exactly when this
      * observation trips the wire. */
    def observe(flagged: Long, batchEvents: Long): Boolean = {
      val rate = if (batchEvents > 0) flagged.toDouble / batchEvents else 0.0
      hot = if (rate > rateThreshold) hot + 1 else 0
      if (hot >= patience && !tripped) {
        tripped = true
        System.err.println(f"[graft.monitor] telemetry drift: anomaly rate $rate%.4f > $rateThreshold%.2f for $hot consecutive batches — the frozen stats no longer describe the stream; retrain and restart the monitor")
        true
      } else false
    }
  }

  /** Start the monitor: frozen stats trained once, each micro-batch
    * scored against them, verdicts handed to the sink, the batch's
    * flag rate fed to the drift wire. Stateless per batch. */
  def start(
      newEvents: DataFrame,
      corpusEvents: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      statsTable: Option[String] = None,
      drift: DriftMonitor = new DriftMonitor()): StreamingQuery = {
    val st = statsTable.map(t => trainStatsDisk(corpusEvents, t))
      .getOrElse(trainStats(corpusEvents))
    Gate.startFrozen(newEvents, checkpointDir, trigger, sink)(score(_, st),
      (batch, verdicts) => drift.observe(verdicts.count(), batch.count()))
  }

  /** Batch analog for the oracle gate: every event_id % 4 == 0 event
    * as ONE "new" batch scored against stats trained on the rest. */
  def qTelemetry(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    score(ev.filter(col("event_id") % 4 === 0),
      trainStats(ev.filter(col("event_id") % 4 =!= 0)))
  }

  /** [[qTelemetry]] through the persisted-stats path — same result
    * set (same oracle SQL): the proof that the saved stats are the
    * stats. */
  def qTelemetryDisk(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    score(ev.filter(col("event_id") % 4 === 0),
      trainStatsDisk(ev.filter(col("event_id") % 4 =!= 0),
        DedupGate.gateTableName("tstats", d)))
  }
}
