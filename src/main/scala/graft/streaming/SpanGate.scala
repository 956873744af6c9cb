package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.functions.TextFunctions.tokens

/** Streaming SPAN-NOVELTY gate — the third gate modality next to the
  * lexical Jaccard gate ([[DedupGate.TextGateState]]) and the embedding
  * gate ([[DedupGate.EmbedGateState]]).
  *
  * Question answered per incoming document: "how much of this content
  * has the corpus ALREADY seen, verbatim?" — the streaming form of
  * [[graft.operators.Dedup.qSpanDedupScore]]'s ExactSubstr criterion.
  * A document whose [[graft.operators.Dedup.SpanW]]-word spans are
  * mostly already present (duplicated fraction > 1/2, the same
  * integer-exact `2*dup <= n` rule as the batch query) is REJECTED —
  * it adds memorization-prone repeats, not novel training signal.
  * Rejection is content-based, not pair-based: unlike the dedup gates
  * there is no candidate generation and no per-pair verify — the
  * corpus state is ONE DISTINCT SPAN-HASH SET, and the whole verify
  * stage is a single semi-join of the batch's positional span hashes
  * against it.
  *
  * Scale posture (the reason this gate is cheap at 100 TB):
  *  - index state is 16 bytes per DISTINCT corpus span — the raw
  *    md5 digest (`unhex(md5(..))`, BINARY(16)), NOT the 32-char hex
  *    string (which would be ~2.5x the bytes in tungsten rows); no
  *    text, no per-doc rows, the slimmest of the three gate indexes;
  *    on disk it is a table bucketed BY SPAN HASH, so the per-trigger
  *    semi-join shuffles only the batch side (the corpus side is a
  *    bucket-local stream), never the corpus.
  *  - verify cost per trigger is O(batch spans), independent of corpus
  *    size — there is no candidate blow-up to cap because there are no
  *    candidates: the join key is the exact criterion itself.
  *  - absorb appends only hashes the index lacks (anti-join the
  *    increment), so the table grows by true novelty, not by batch
  *    volume; the collapse cadence compacts accreted append files.
  */
object SpanGate {

  import DedupGate.CollapseEvery
  import graft.operators.Dedup.SpanW

  /** Positional span hashes — (doc_id, h), one row per span POSITION
    * (same weighting contract as the batch query: a block repeating at
    * five positions counts five times in the duplicated fraction).
    * `h` is the raw 16-byte digest (BINARY), so the semi-join shuffle
    * and the index table carry exactly the 16 bytes the module doc
    * claims — never the 32-char hex rendering. */
  private[streaming] def spanHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= SpanW)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, size(toks)-$SpanW), i -> unhex(md5(array_join(slice(toks, i+1, $SpanW), ' '))))"))
          .as("h"))

  /** The gate's corpus state: the distinct span-hash set, in-memory
    * (checkpointed frame + union arms between collapses) or disk-backed
    * (`table` set — bucketed by `h`). Distinctness is an invariant:
    * the builder distincts, and [[absorb]] appends anti-joined
    * increments only. */
  final case class SpanIndex(hs: DataFrame, table: Option[String] = None)
      extends Gate.Index[SpanIndex] {

    /** The distinct-hash content frame (table scan in disk mode). */
    def content: DataFrame = table match {
      case Some(t) => hs.sparkSession.table(t)
      case None => hs
    }

    /** Fold admitted docs' spans in so later batches see them. Only
      * hashes the index LACKS are added (anti-join), preserving the
      * distinctness invariant and bounding growth by true novelty. */
    def absorb(admittedDocs: DataFrame): SpanIndex = {
      val hNew = spanHashes(admittedDocs).select(col("h")).distinct()
        .join(content.select(col("h")), Seq("h"), "left_anti")
        .localCheckpoint(true)
      // a disk append re-chains to the writing session's table frame
      // ([[Gate.appendContent]]): a stale listing would leave later
      // novelty reads (and this anti-join) blind to the rows just
      // absorbed — wrong verdicts AND duplicate re-appends
      val next = SpanIndex(Gate.appendContent(hs, hNew, table, "h"), table)
      if (table.isDefined) DedupGate.unpersistCheckpoints(hNew)
      next
    }

    /** Collapse accumulated union arms into one checkpointed frame. */
    def collapsed: SpanIndex = SpanIndex(Gate.collapseContent(hs, table), table)
    def arms: Seq[DataFrame] = Seq(hs)
    def remount(content: DataFrame): SpanIndex = copy(hs = content)
  }

  private def distinctHashes(docs: DataFrame): DataFrame =
    spanHashes(docs).select(col("h")).distinct().localCheckpoint(true)

  /** Build the in-memory index from a corpus snapshot. */
  def indexSpans(corpusDocs: DataFrame): SpanIndex =
    SpanIndex(distinctHashes(corpusDocs))

  /** Build the DISK-backed index: distinct hashes written to a table
    * bucketed by `h` — the 100 TB posture ([[SpanGate]] module doc). */
  def indexSpansDisk(corpusDocs: DataFrame, table: String): SpanIndex =
    Gate.diskIndex(distinctHashes(corpusDocs), "h", table)(SpanIndex(_, Some(table)))

  /** Verify stage: per new doc with >= [[SpanW]] tokens, the span
    * total, the count of positions whose content the corpus already
    * holds, the duplicated fraction, and the admit verdict
    * (`2*dup <= n`, integer-exact — the shared threshold rule).
    * Documents shorter than one span carry no evidence either way and
    * are admitted by omission (no verdict row; [[SpanGateState]]
    * absorbs them). One semi-join on h + two hash aggs on doc_id. */
  def novelty(newDocs: DataFrame, idx: SpanIndex): DataFrame =
    noveltyWithScratch(newDocs, idx)._1

  /** [[novelty]] plus its internal span-hash checkpoint frame, so a
    * long-running caller ([[SpanGateState]]) can unpersist the scratch
    * once the verdicts are materialized — the eager verdict checkpoint
    * severs the plan reference to `sp`, and without an explicit
    * unpersist one cached span RDD would leak per micro-batch until
    * driver GC (the [[Gate.Absorbing]] scratch hygiene). One-shot batch
    * callers can use [[novelty]]: the single cached block dies with the
    * query. */
  private[streaming] def noveltyWithScratch(
      newDocs: DataFrame, idx: SpanIndex): (DataFrame, Seq[DataFrame]) = {
    // feeds two subtrees (totals + the semi-join) — checkpoint once
    val sp = spanHashes(newDocs).localCheckpoint(false)
    val dup = sp.join(idx.content.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("d"))
    val result = sp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("d"), lit(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        (col("dup_spans").cast(DoubleType) / col("n_spans")).as("dup_frac"),
        when(col("dup_spans") * 2 <= col("n_spans"), 1L).otherwise(0L)
          .as("admit"))
      .orderBy(col("doc_id"))
    (result, Seq(sp))
  }

  /** The span index on the [[Gate.Absorbing]] skeleton: rows the
    * verdicts reject (`admit` = 0) stay out; everything else absorbs —
    * admitted docs AND short no-verdict docs. Shared by
    * [[SpanGateState]] and [[IngestPipeline.IngestState]]. */
  abstract class NoveltyGate(corpusDocs: DataFrame, collapseEvery: Int,
      corpusTable: Option[String])
      extends Gate.Absorbing[SpanIndex](
        corpusTable.fold(indexSpans(corpusDocs))(indexSpansDisk(corpusDocs, _)),
        "doc_id", collapseEvery, corpusTable) {
    protected def rejected(verdicts: DataFrame): DataFrame =
      verdicts.filter(col("admit") === 0L).select(col("doc_id"))
  }

  /** Cross-batch state of a running span gate ([[Gate.Absorbing]]):
    * exactly-once absorption per batch id (replays re-emit verdicts,
    * never re-absorb), eager per-batch checkpoint hygiene, collapse +
    * table compaction on the shared cadence.
    *
    * Replay-verdict drift (documented, the TextGate self-hit
    * convention): an at-least-once replay RECOMPUTES verdicts against
    * the already-grown index, so a doc that was admitted (and
    * absorbed) in the original run re-emits as REJECTED — its own
    * spans now sit in the index. Absorption stays exactly-once (the
    * batch-id guard), so gate STATE is replay-stable; only the
    * re-emitted verdict rows differ. A sink that must be idempotent
    * on verdicts should key on (batch_id, doc_id) and keep the FIRST
    * write, or treat reject-after-admit re-emissions as no-ops —
    * the same discipline the text gate asks of its self-hit rows. */
  final class SpanGateState(corpusDocs: DataFrame,
      collapseEvery: Int = CollapseEvery,
      corpusTable: Option[String] = None)
      extends NoveltyGate(corpusDocs, collapseEvery, corpusTable) {
    protected def verify(batch: DataFrame): Gate.Verified[SpanIndex] = {
      val (verdicts, scratch) = noveltyWithScratch(batch, index)
      Gate.Verified(verdicts, scratch)
    }
  }

  /** Start the gate: new docs stream into foreachBatch against the
    * span index, which grows by each batch's non-rejected docs. */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      corpusTable: Option[String] = None): StreamingQuery = {
    val state = new SpanGateState(corpusDocs, CollapseEvery, corpusTable)
    Gate.start(newDocs, checkpointDir, trigger)(state.process(_, _, sink))
  }

  /** Batch analog for the oracle gate: every doc_id % 4 == 0 document
    * as ONE "new" batch against the rest as the corpus — per-doc span
    * totals, already-seen counts, and admit verdicts. */
  def qSpanGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    novelty(docs.filter(col("doc_id") % 4 === 0),
      indexSpans(docs.filter(col("doc_id") % 4 =!= 0)))
  }

  /** [[qSpanGate]] through the DISK-backed bucketed index — same
    * result set (same oracle SQL): the query-level proof that the
    * 100 TB posture is semantics-preserving. */
  def qSpanGateDisk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    novelty(docs.filter(col("doc_id") % 4 === 0),
      indexSpansDisk(docs.filter(col("doc_id") % 4 =!= 0),
        DedupGate.gateTableName("spans", d)))
  }
}
