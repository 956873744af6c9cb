package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max_by, struct, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Writers

/** The per-batch skeleton every streaming gate shares, written once.
  *
  * The reference's jobs each run one stream, one per-batch body and one
  * idempotent sink. A gate is that shape plus a verify algorithm, and
  * Structured Streaming's exactly-once contract — a batch-id-keyed,
  * idempotent `foreachBatch` body — lives here, not in each gate:
  *  - [[start]]: the one `foreachBatch` query start;
  *  - [[startFrozen]]: the body of a gate whose model never moves
  *    (quality, DSIR, classifier, telemetry): checkpoint, score,
  *    checkpoint, sink, observe, unpersist — replay-stable verdicts;
  *  - [[Absorbing]]: the state machine of a gate whose index grows by
  *    each batch's admitted rows (text, embed, span, ingest), with the
  *    batch-id replay guard and the collapse cadence;
  *  - the content-table plumbing the three absorbing indexes share:
  *    [[contentFor]] / [[contentForJoin]], [[appendContent]],
  *    [[collapseContent]] and [[diskIndex]], each keyed by an id column
  *    and a column list (`cols.head` is the id column).
  *
  * Each gate keeps its own verify algorithm; only the skeleton around
  * it is shared.
  */
object Gate {

  import DedupGate.{GateCorpusBuckets, unpersistCheckpoints}

  /** Start `body` as the `foreachBatch` sink of `frame`. */
  def start(frame: DataFrame, checkpointDir: String, trigger: Trigger,
      outputMode: String = "append")(body: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Start a frozen-model gate: each micro-batch is checkpointed, scored
    * against the model `score` closes over, checkpointed again and handed
    * to `sink`; `observe` then sees the (batch, verdicts) pair while both
    * are still cached, and both are unpersisted before the body returns
    * — so `sink` must consume its frame inside the call. No state moves,
    * so a replayed batch re-emits bit-identical verdicts. */
  def startFrozen(frame: DataFrame, checkpointDir: String, trigger: Trigger,
      sink: (DataFrame, Long) => Unit)(score: DataFrame => DataFrame,
      observe: (DataFrame, DataFrame) => Unit = (_, _) => ()): StreamingQuery =
    start(frame, checkpointDir, trigger) { (df, id) =>
      val batch = df.localCheckpoint(true)
      val verdicts = score(batch).localCheckpoint(true)
      sink(verdicts, id)
      observe(batch, verdicts)
      unpersistCheckpoints(batch, verdicts)
    }

  /** The index an [[Absorbing]] gate grows: immutable, each step returns
    * the next value. */
  trait Index[I] {
    /** Fold admitted rows in so later batches see them. */
    def absorb(admitted: DataFrame): I
    /** The union arms collapsed into one checkpointed frame each — pure:
      * the receiver stays valid until its [[arms]] are unpersisted. */
    def collapsed: I
    /** The checkpointed frames a collapse supersedes. */
    def arms: Seq[DataFrame]
    /** This index reading its content from `content` (the compacted
      * table's scan). */
    def remount(content: DataFrame): I
  }

  /** What [[Absorbing.verify]] returns for one batch: the verdicts and
    * the checkpoints this call created, which the verdict plan (and
    * `absorb`) read, dropped once the batch is done. The skeleton
    * absorbs the admitted batch rows through [[Index.absorb]]; a gate
    * that already built the batch's index rows while verifying (the
    * text gate's shingle sets and band rows) supplies `absorb(rejected)`
    * instead — the next index from those rows less the ids of the
    * `rejected` frame ([[Absorbing.rejected]]). */
  final case class Verified[I](verdicts: DataFrame, scratch: Seq[DataFrame],
      absorb: Option[DataFrame => I] = None)

  /** The local property naming the [[Absorbing.process]] phase that
    * launched a job — `batch`, `verify`, `verdict`, `sink`,
    * `after_sink`, `absorb` or `collapse` — readable from
    * `SparkListenerJobStart.properties`. */
  val PhaseProperty = "graft.gate.phase"

  /** One row per `idCol` value: of rows sharing an id, the one whose
    * payload (every other column) has the greatest xxhash64, so the
    * survivor of conflicting same-id payloads does not depend on
    * arrival order or partitioning. One aggregation, one exchange. */
  private[streaming] def oneRowPerId(df: DataFrame, idCol: String): DataFrame = {
    val payload = df.columns.filterNot(_ == idCol).toSeq.map(col)
    df.groupBy(col(idCol))
      .agg(max_by(struct(payload: _*), xxhash64(payload: _*)).as("row"))
      .select(df.columns.toSeq.map(c =>
        if (c == idCol) col(c) else col("row").getField(c).as(c)): _*)
  }

  /** Cross-batch state of an absorbing gate: the growing index plus the
    * exactly-once absorption guard, unit-testable without a streaming
    * harness. [[process]] is what `foreachBatch` invokes per micro-batch:
    *  1. the batch is reduced to one row per `idCol` ([[oneRowPerId]])
    *     and checkpointed eagerly, so an id re-delivered within one
    *     batch (at-least-once sources) is one row everywhere downstream;
    *  2. [[verify]] returns a [[Verified]]; its verdicts are
    *     checkpointed eagerly;
    *  3. the sink, then [[afterSink]];
    *  4. absorption is exactly-once per batch id: a replayed batch
    *     re-emits its verdicts but never re-absorbs. Admitted rows are
    *     the batch minus [[rejected]];
    *  5. every `collapseEvery` absorbs the index collapses, the
    *     superseded arms are unpersisted immediately, and a disk-backed
    *     `contentTable` is compacted — the gate is its single writer and
    *     [[process]] its only reader, so the catalog swap inside
    *     `compactBucketed` has no concurrent observer;
    *  6. the verify scratch, the batch and the verdicts are unpersisted
    *     before return, not at driver GC.
    * Steps 3 and 4 stay sequential in that order: were the absorb run
    * alongside the sink and a later step failed, the replayed batch
    * would verify against its own absorbed rows. Every job a step
    * launches carries its phase in the [[PhaseProperty]] local property;
    * the caller's value is restored on return.
    * Consequence for `sink`: it must fully CONSUME its frame before
    * returning (collect/write inside the call, the normal foreachBatch
    * discipline) — the lineage-free checkpoint blocks are dropped after.
    *
    * Index lifetime: a restarted gate rebuilds its index from the corpus
    * snapshot; rows absorbed since re-enter through the batch pipeline's
    * next snapshot. The plan grows one checkpointed arm per absorb until
    * the collapse bounds it (docs/SCALE.md, streaming-gate cadence). */
  abstract class Absorbing[I <: Index[I]](init: I, idCol: String,
      collapseEvery: Int, contentTable: Option[String]) {
    @volatile private var idx: I = init
    private var absorbsSinceCollapse = 0
    private val absorbedBatches =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

    /** Current index (corpus snapshot + absorbed increments). */
    def index: I = idx

    /** Verdicts for `batch` against [[index]], the checkpoints created
      * by this call, and how to absorb the batch's admitted rows. */
    protected def verify(batch: DataFrame): Verified[I]

    /** Ids (column `idCol`) the verdicts reject; runs once per absorbed
      * batch id. */
    protected def rejected(verdicts: DataFrame): DataFrame

    /** Runs after the sink, replays included. */
    protected def afterSink(batch: DataFrame, verdicts: DataFrame): Unit = ()

    def process(df: DataFrame, id: Long, sink: (DataFrame, Long) => Unit): Unit = {
      val sc = df.sparkSession.sparkContext
      val callerPhase = sc.getLocalProperty(PhaseProperty)
      def phase[A](name: String)(step: => A): A = {
        sc.setLocalProperty(PhaseProperty, name)
        step
      }
      try {
        val batch = phase("batch")(oneRowPerId(df, idCol).localCheckpoint(true))
        val v = phase("verify")(verify(batch))
        val verdicts = phase("verdict")(v.verdicts.localCheckpoint(true))
        phase("sink")(sink(verdicts, id))
        phase("after_sink")(afterSink(batch, verdicts))
        if (absorbedBatches.add(id)) {
          phase("absorb") {
            val rej = rejected(verdicts)
            idx = v.absorb.fold(idx.absorb(batch.join(rej, Seq(idCol), "left_anti")))(_(rej))
          }
          absorbsSinceCollapse += 1
          if (absorbsSinceCollapse >= collapseEvery) phase("collapse") {
            val old = idx
            idx = old.collapsed // eager: the new copies exist before...
            unpersistCheckpoints(old.arms: _*) // ...the old arms go
            contentTable.foreach { t =>
              Writers.compactBucketed(df.sparkSession, t)
              idx = idx.remount(df.sparkSession.table(t))
            }
            absorbsSinceCollapse = 0
          }
        }
        unpersistCheckpoints(v.scratch :+ batch :+ verdicts: _*)
      } finally sc.setLocalProperty(PhaseProperty, callerPhase)
    }
  }

  /** Verify-stage read: `cols` of `content` for exactly `ids`, shaped by
    * `fold` (e.g. grouped per id). On a disk-backed index (`table` set)
    * the In-predicate on the bucket column engages bucket pruning +
    * row-group skipping, and the O(candidates) result is folded and
    * materialized eagerly in the pruning session — a fold keyed by the
    * bucket column reads the bucketed scan with no exchange; see
    * [[DedupGate.prunedTableRead]] for why. In memory it is a lazy
    * partition-local filter of the checkpointed frame (and owns no
    * blocks). */
  def contentFor(content: DataFrame, table: Option[String], cols: Seq[String],
      ids: Seq[Long], fold: DataFrame => DataFrame = identity): DataFrame = table match {
    case Some(t) =>
      fold(DedupGate.prunedTableRead(content.sparkSession, t, cols.head, ids,
        cols.map(col))).localCheckpoint(true)
    case None =>
      fold(content.select(cols.map(col): _*).filter(col(cols.head).isin(ids: _*)))
  }

  /** The over-[[DedupGate.MaxVerifyIds]] form of [[contentFor]]: a
    * semi-join of the content against the candidate-id frame — one
    * streaming pass over the content (bucketed scan on a disk index,
    * shuffle on the SLIM id side only), nothing on the driver. Costlier
    * per batch than the pruned read, but bounded and predictable — the
    * degradation path for dup storms. */
  def contentForJoin(content: DataFrame, table: Option[String], cols: Seq[String],
      idsDf: DataFrame): DataFrame =
    table.fold(content)(content.sparkSession.table).select(cols.map(col): _*)
      .join(idsDf.select(col(idsDf.columns.head).as(cols.head)), Seq(cols.head),
        "left_semi")

  /** `content` grown by the checkpointed `increment`: a union arm in
    * memory; on disk an APPEND to the bucketed table (same spec,
    * catalog-enforced), re-chained to the WRITING session's table frame
    * — a session caches a table's file listing at first resolution and
    * only its own writes invalidate it, so chaining to the old session
    * after a foreachBatch-clone write would leave later reads blind to
    * the rows just appended. The old chained session is refreshed too,
    * for any reader still holding it. */
  def appendContent(content: DataFrame, increment: DataFrame, table: Option[String],
      bucketCol: String): DataFrame = table match {
    case Some(t) =>
      increment.write.mode("append")
        .bucketBy(GateCorpusBuckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(t)
      content.sparkSession.catalog.refreshTable(t)
      increment.sparkSession.table(t)
    case None => content.unionAll(increment)
  }

  /** [[Index.collapsed]] for a content frame: one eager checkpoint in
    * memory; a disk-backed content frame is already a single table scan
    * and is left as-is. */
  def collapseContent(content: DataFrame, table: Option[String]): DataFrame =
    if (table.isDefined) content else content.localCheckpoint(true)

  /** The 100 TB index builder: the checkpointed corpus `content` lands
    * in the `bucketCol`-bucketed catalog table `table` (replacing any
    * stale one), `mount` builds the index over the table's scan (and may
    * still read `content`), then `content`'s blocks are dropped — the
    * content now lives in the table. The one full corpus pass happens
    * here, at gate start; per-batch verify reads candidate buckets only.
    * In production the table is the batch pipeline's published
    * snapshot; the builder is the self-contained form. */
  def diskIndex[I](content: DataFrame, bucketCol: String, table: String)(
      mount: DataFrame => I): I = {
    val s = content.sparkSession
    Writers.replaceBucketed(s, content, bucketCol, GateCorpusBuckets, table)
    val idx = mount(s.table(table))
    unpersistCheckpoints(content)
    idx
  }
}
