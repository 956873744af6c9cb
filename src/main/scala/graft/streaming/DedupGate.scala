package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.functions.TextFunctions.shingleRows
import graft.operators.Dedup

/** STREAMING dedup gates — the online-ingestion form of the near-dup
  * paths for BOTH modalities: new documents/embeddings arrive as a
  * stream and are checked before admission, the gate a production
  * training pipeline runs at ingestion time (batch dedup cleans the
  * corpus; this keeps it clean).
  *
  * A batch checks against THREE populations, because dup storms arrive
  * together, not politely one per batch:
  *  1. the corpus snapshot — a slim band index built once at gate
  *     start ([[indexCorpus]] / [[indexEmbedCorpus]]);
  *  2. the SAME micro-batch — an intra-batch band self-join (the
  *     [[Dedup.qMinhashLsh]] shape, tiny per batch): two near-identical
  *     documents arriving together yield exactly one admission, the
  *     lower id (keep-lowest-id, matching the batch pipeline);
  *  3. earlier batches — every batch's ADMITTED docs are folded into
  *     the gate index ([[TextIndex.absorb]] / [[EmbedIndex.absorb]]):
  *     each increment is checkpointed once and unioned in, so
  *     per-batch cost is the increment only. The text gate absorbs the
  *     shingle sets and band rows its verify already built for the
  *     batch: each document is shingled and MinHashed once per
  *     trigger. Replayed batches (at-least-once foreachBatch) are not
  *     re-absorbed: the batchId guard makes absorption exactly-once per
  *     batch id.
  *
  * The per-batch state machine — boundary id dedup, the replay guard,
  * the [[CollapseEvery]] cadence that collapses the union arms and
  * unpersists the superseded blocks immediately, content-table
  * compaction, and the index lifetime between corpus snapshots (the
  * same system-of-record contract as [[Dedup.appendPairs]]) — is the
  * shared [[Gate.Absorbing]] skeleton; docs/SCALE.md records the
  * cadence math.
  *
  * ==The 100 TB verify stage: disk-backed corpus content==
  *
  * Candidates come from equi-joins on the band key against a SLIM
  * index (3 ints per corpus band). Exact verification (Jaccard by set
  * intersection of per-document shingle arrays / two-stage cosine, the
  * shared [[Dedup.verifySets]] / [[Dedup.cosineVerify]] helpers so gate
  * and batch semantics cannot drift) needs the CONTENT — shingle sets /
  * vectors — of candidate dup_of docs only. Holding that content as
  * cluster-memory frames and
  * joining candidates into ALL of it (the pre-round-9 shape) is a full
  * corpus pass per trigger at 100 TB. The scale path is
  * [[indexCorpusDisk]] / [[indexEmbedCorpusDisk]]: corpus content
  * lives in a doc-id-BUCKETED on-disk table (the [[Dedup.pairIndex]]
  * layout, [[graft.sources.Writers.writeBucketed]]), and each batch's
  * verify reads it through `doc_id IN (candidate ids)` — the id list
  * is collected per batch (bounded: O(batch x band fan-out), the same
  * order as the batch already held on the driver's heap as a plan, and
  * the same bounded-collect discipline as
  * [[ReportPipeline.DurableKeyedUpsertSink]]'s affected-bucket list),
  * and the In-predicate engages BUCKET PRUNING (`SelectedBucketsCount`
  * in the scan, pinned by `DiskGateSpec`) plus parquet row-group
  * skipping on the in-bucket-sorted id — per-batch verify I/O is
  * O(candidates), not O(corpus). Admitted docs are APPENDED to the
  * table (same bucket spec, catalog-enforced) so later batches verify
  * against them too; [[graft.sources.Writers.compactBucketed]] folds
  * the append accretion between snapshots. The in-memory index
  * ([[indexCorpus]]) remains for harness-scale tests and runs the SAME
  * pruned-verify code path — only the storage differs.
  *
  * Shape: the stream feeds foreachBatch, and each micro-batch runs the
  * SAME codegen'd operators as the batch LSH paths
  * ([[Dedup.minhashSignatures]] / [[Dedup.lshBands]] over exploded
  * shingles; [[graft.functions.expressions.SrpBands]]). foreachBatch
  * (not an append-mode streaming DAG) is load-bearing twice over: the
  * signature build and candidate dedup are aggregations a stateless
  * append stream cannot host, and a per-row array-HOF signature
  * (transform/array_min lambdas) is CodegenFallback-interpreted —
  * measured 14x slower than the exploded+grouped build on the same
  * data. The gates hold no streaming state store; their only cross-
  * batch state is the absorbed index increments above.
  *
  * Same-id pairs are NOT excluded on the corpus join: a re-ingested
  * document whose id already exists in the corpus is still
  * content-checked — "already admitted" is exactly what a gate must
  * report.
  *
  * Downstream maintenance: pass `pairTable` to [[start]]/[[startEmbed]]
  * and every batch's verified hits are appended (canonicalized,
  * replay-idempotent) to the bucketed pair index via
  * [[Dedup.appendPairs]], so cluster/corpus-clean queries reflect
  * gate-time knowledge without a rebuild. One gate instance is the
  * single writer of its table (appendPairs' documented contract).
  */
object DedupGate {

  /** Absorbs between in-code index collapses: each absorb adds one
    * checkpointed union arm per index frame, and every CollapseEvery
    * absorbs the gate re-checkpoints the union into a single frame —
    * bounding analyzer cost and per-batch task count at ~CollapseEvery
    * extra arms/tasks worst-case (SCALE.md, streaming-gate cadence).
    * 64 keeps the collapse cost (one full index rewrite) amortized to
    * ~1.6% of batches while never letting the plan exceed 2x64+2
    * union arms even if the corpus snapshot is never republished. */
  val CollapseEvery = 64

  /** Buckets for the on-disk corpus content tables (shingles /
    * vectors). Harness-sized like [[Dedup.PairIndexBuckets]]; at
    * 100 TB raise with corpus so one bucket stays executor-sized —
    * verify cost per batch is unchanged (bucket pruning reads only
    * candidate ids' buckets either way). */
  val GateCorpusBuckets = 8

  /** Drop the localCheckpoint blocks backing `dfs` NOW instead of
    * waiting for driver GC + ContextCleaner lag (the transient 2x
    * index footprint flagged in round-8 advice). Matches only
    * checkpointed leaves (LogicalRDD); a disk-backed table scan has
    * none and is untouched. Callers must pass only frames whose
    * content is no longer reachable from any live plan — a local
    * checkpoint has no lineage to recompute from. */
  private[graft] def unpersistCheckpoints(dfs: DataFrame*): Unit =
    dfs.foreach(_.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    })

  /** The bucket-pruned verify read, planned in a CLONED session with
    * `autoBucketedScan` off. Two load-bearing details, both measured
    * on Spark 4.1.2 (DiskGateSpec pins the plan):
    *  - a bare id-filter scan under the default conf is stripped of
    *    its bucketed-scan status by DisableUnnecessaryBucketedScan
    *    (no distribution-needing parent), and with it Spark drops
    *    BUCKET PRUNING at runtime — the scan reads every file of the
    *    table (measured numFiles = all). Planning under
    *    autoBucketedScan=false keeps `SelectedBucketsCount` and the
    *    read touches only the candidate ids' buckets.
    *  - the conf must not leak: it lives in a cloned session (same
    *    SparkContext + shared catalog, isolated SQL conf — the
    *    compactBucketed discipline), and the caller materializes the
    *    result eagerly so the final verify query — planned in the
    *    GATE's session, under its conf — consumes a checkpointed
    *    O(candidates) leaf, not a subtree that would be re-planned
    *    without the pruning. */
  private[graft] def prunedTableRead(s: SparkSession, table: String,
      idCol: String, ids: Seq[Long], cols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.table(table).select(cols: _*).filter(col(idCol).isin(ids: _*))
  }

  /** Largest candidate-id list the verify stage will COLLECT to the
    * driver and replay as an In-predicate (the bucket-pruned read
    * path). Beyond it the gate degrades PREDICTABLY to a join-based
    * verify — one streaming semi-join pass over the corpus content,
    * no driver rows at all — instead of building a multi-million-
    * literal plan that exhausts the driver (the documented weak-
    * threshold dup-storm case). 100k longs is ~1 MB on the driver and
    * a hash-set InSet at execution: well inside the collect discipline
    * the gates already rely on. `@volatile var` so a deployment (or a
    * spec) can tune it; the fallback changes the ACCESS PATH only —
    * hit sets are identical (CandidateCapSpec pins both). */
  @volatile var MaxVerifyIds: Int = 100000

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The ids of the one-column frame `ids` (distinct by construction),
    * collected iff there are at most [[MaxVerifyIds]] of them (the limit
    * bounds the transfer BEFORE the driver materializes anything);
    * None = over the cap, caller must take the join-based verify path. */
  private def collectIdsCapped(ids: DataFrame): Option[Seq[Long]] = {
    val got = ids.limit(MaxVerifyIds + 1).collect().map(_.getLong(0)).toSeq
    if (got.size <= MaxVerifyIds) Some(got)
    else {
      log.warn(s"gate verify: > $MaxVerifyIds distinct candidate ids — " +
        "falling back to join-based verify (one corpus-content pass this " +
        "batch). Persistent storms mean the banding admits too much: switch " +
        "to a stricter EmbedBanding or widen text bands.")
      None
    }
  }

  /** Corpus snapshot pre-processed for the text gate: shingle content
    * as (doc_id, shingle) rows (in-memory frame OR bucketed on-disk
    * table — `table` set) and the slim band index. [[absorb]] extends
    * it with admitted docs between snapshots. Set sizes are read off
    * the per-document arrays at verify time, so no sizes frame is
    * maintained. */
  final case class TextIndex(sh: DataFrame, bands: DataFrame,
      table: Option[String] = None) extends Gate.Index[TextIndex] {

    /** Verify-stage read: (doc_id, shingles) sets for exactly `ids`
      * ([[Gate.contentFor]] — on disk the grouping rides the pruned
      * read's eager checkpoint). */
    def setsFor(ids: Seq[Long]): DataFrame =
      Gate.contentFor(sh, table, ShCols, ids, perDocSets)

    /** Over-[[MaxVerifyIds]] form of [[setsFor]]
      * ([[Gate.contentForJoin]]), grouped the same way. */
    def setsForJoin(idsDf: DataFrame): DataFrame =
      perDocSets(Gate.contentForJoin(sh, table, ShCols, idsDf))

    /** Fold admitted docs in so later batches see them: shingled and
      * MinHashed here. The gate absorbs from what its verify already
      * built instead (the two-argument form). */
    def absorb(admittedDocs: DataFrame): TextIndex = {
      import graft.functions.TextFunctions.shingleSet
      val sets = shingleSet(admittedDocs, "doc_id", "text").localCheckpoint(true)
      val next = absorb(sets,
        Dedup.lshBands(Dedup.minhashSignatures(shingleRows(sets, "doc_id"))))
      unpersistCheckpoints(sets)
      next
    }

    /** Fold admitted docs in so later batches see them, from what
      * verify already built: `sets` — their (doc_id, shingles) arrays —
      * and `newBands` — their band rows. Nothing is shingled or
      * MinHashed again. In memory the content increment is checkpointed
      * once, eagerly, and unioned in; disk-backed content is APPENDED
      * to the bucketed table ([[Gate.appendContent]]) straight from
      * `sets`. The band increment is checkpointed eagerly either way,
      * so the caller can drop the frames it came from. */
    def absorb(sets: DataFrame, newBands: DataFrame): TextIndex = {
      val rows = shingleRows(sets, "doc_id")
      TextIndex(
        Gate.appendContent(sh, if (table.isDefined) rows else rows.localCheckpoint(true),
          table, "doc_id"),
        bands.unionAll(newBands.localCheckpoint(true)), table)
    }

    /** Collapse the accumulated union arms into one eagerly
      * checkpointed frame each — content-identical, plan width reset
      * to 1. */
    def collapsed: TextIndex =
      TextIndex(Gate.collapseContent(sh, table), bands.localCheckpoint(true), table)
    def arms: Seq[DataFrame] = Seq(sh, bands)
    def remount(content: DataFrame): TextIndex = copy(sh = content)
  }

  /** The text content columns; `doc_id` keys the content table. */
  private val ShCols = Seq("doc_id", "shingle")

  /** (doc_id, shingle) content rows grouped to one (doc_id, shingles)
    * array per document — the rows are distinct per doc, so the array
    * size is the set size. */
  private def perDocSets(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id")).agg(collect_list(col("shingle")).as("shingles"))

  def indexCorpus(corpusDocs: DataFrame): TextIndex = {
    import graft.functions.TextFunctions.shingles
    val sh = shingles(corpusDocs, "doc_id", "text").localCheckpoint(false)
    TextIndex(sh,
      Dedup.lshBands(Dedup.minhashSignatures(sh)).localCheckpoint(false))
  }

  /** The 100 TB form of [[indexCorpus]]: corpus shingles land in a
    * doc_id-bucketed, in-bucket-sorted catalog table and only the slim
    * band frame stays in cluster memory ([[Gate.diskIndex]]). */
  def indexCorpusDisk(corpusDocs: DataFrame, table: String): TextIndex = {
    import graft.functions.TextFunctions.shingles
    val sh = shingles(corpusDocs, "doc_id", "text").localCheckpoint(true)
    Gate.diskIndex(sh, "doc_id", table)(TextIndex(_,
      Dedup.lshBands(Dedup.minhashSignatures(sh)).localCheckpoint(true),
      Some(table)))
  }

  /** New docs vs the index AND vs each other: DISTINCT candidate pairs
    * from (a) the new-bands x corpus-bands join and (b) the new-bands
    * self-join (higher id flagged as the newcomer — keep-lowest-id),
    * then exact Jaccard >= 0.5 verified ONCE per pair by set
    * intersection of the two shingle arrays ([[Dedup.verifySets]], the
    * one verify the LSH query shares). Output (new_doc, dup_of,
    * jaccard), pair-unique.
    *
    * The dup_of side of verification draws from corpus content for ids
    * the corpus holds (a re-ingested id is verified against its CORPUS
    * content — the question the gate answers is "is this a dup of what
    * the corpus already holds") and from the batch's own sets for
    * intra-batch-only ids — all through [[TextIndex.setsFor]], the
    * pruned O(candidates) read (module doc). The candidate id list is
    * a bounded driver collect: O(batch x band fan-out) longs, the
    * same order the driver already holds for the batch itself. */
  def duplicates(newDocs: DataFrame, corpus: TextIndex): DataFrame =
    verifyText(newDocs, corpus).verdicts

  /** [[duplicates]] as a [[Gate.Verified]]: the verdicts, the per-call
    * checkpoint frames ("scratch") the verdict plan and the absorb
    * read, and the absorb of the admitted docs from the batch's own
    * shingle sets and band rows — one shingling and one MinHash per
    * batch document. A long-running gate drops the scratch blocks once
    * the batch is absorbed — waiting on driver GC + ContextCleaner
    * accretes O(batch+candidates) blocks per trigger (the round-8
    * memory-hygiene class of bug). Batch analogs (the q* oracle
    * queries) use the plain [[duplicates]] and let one-shot GC handle
    * it. The scratch list contains ONLY checkpoints created by this
    * call — never the corpus index's own frames (the in-memory setsFor
    * path is a lazy grouping OVER the index, which is why it joins the
    * list only in disk mode, where it is a fresh checkpoint). */
  private def verifyText(newDocs: DataFrame, corpus: TextIndex): Gate.Verified[TextIndex] = {
    import graft.functions.TextFunctions.shingleSet
    // the new-docs shingle sets feed bands, both verify sides and the
    // absorb — materialized once
    val setNew = shingleSet(newDocs, "doc_id", "text").localCheckpoint(false)
    val bandsNew = Dedup.lshBands(Dedup.minhashSignatures(shingleRows(setNew, "doc_id")))
      .localCheckpoint(false) // feeds the corpus join, the self-join and the absorb
    val candCorpus = bandsNew
      .join(corpus.bands.select(col("doc_id").as("dup_of"),
        col("band_id"), col("band_hash")), Seq("band_id", "band_hash"))
      .select(col("doc_id").as("doc_a"), col("dup_of").as("doc_b"))
    // the new-vs-new blindspot closed: near-dups arriving TOGETHER
    // collide here; id > id orients the higher id as the rejected
    // newcomer so exactly the lowest of an intra-batch dup group
    // survives (its members' mutual pairs all flag the higher side)
    val candIntra = bandsNew.as("x").join(bandsNew.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // one row per candidate dup_of id with the new docs it pairs with:
    // pair-unique and id-unique from ONE aggregation, so the id collect
    // reads the checkpoint without another shuffle. Checkpointed: it
    // feeds the id collect AND the verdict joins — band joins must not
    // run twice
    val candByB = candCorpus.unionAll(candIntra)
      .groupBy(col("doc_b")).agg(collect_set(col("doc_a")).as("doc_as"))
      .localCheckpoint(false)
    val cand = candByB.select(explode(col("doc_as")).as("doc_a"), col("doc_b"))
    // dup_of-side sets, candidate ids ONLY: corpus content first
    // (bucket-pruned on a disk index), batch sets for the ids the
    // corpus lacks. The id collect is capped — a dup storm over
    // MaxVerifyIds degrades to the join-based read instead of
    // exhausting the driver. (setCandScratch: the paths that create a
    // FRESH checkpoint — the disk-mode pruned read, or the fallback
    // join which is always materialized once so the corpus pass cannot
    // run twice — must hand it to the caller's cleanup; the in-memory
    // pruned path is a lazy grouping OVER the index and owns no blocks)
    val (setCorpusCand, setCandScratch) =
      collectIdsCapped(candByB.select(col("doc_b"))) match {
        case Some(bIds) =>
          val df = corpus.setsFor(bIds)
          (df, if (corpus.table.isDefined) Seq(df) else Nil)
        case None =>
          val df = corpus.setsForJoin(candByB.select(col("doc_b")))
            .localCheckpoint(true)
          (df, Seq(df))
      }
    val setB = setCorpusCand.unionAll(
      setNew.join(setCorpusCand.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val result = Dedup.verifySets(cand
        .join(setNew.select(col("doc_id").as("doc_a"), col("shingles").as("a")), "doc_a")
        .join(setB.select(col("doc_id").as("doc_b"), col("shingles").as("b")), "doc_b"),
      col("doc_a").as("new_doc"), col("doc_b").as("dup_of"))
      .select(col("new_doc"), col("dup_of"), col("jaccard"))
    // absorb: the rejected ids are at most the batch's rows, so one
    // small collect filters both frames — a left-anti join per frame
    // costs a shuffle or broadcast each
    Gate.Verified(result, Seq(setNew, bandsNew, candByB) ++ setCandScratch,
      Some { rej =>
        val ids = rej.collect().map(_.getLong(0)).toSeq
        def admitted(f: DataFrame) =
          f.filter(col("doc_id").isNull || !col("doc_id").isin(ids: _*))
        corpus.absorb(admitted(setNew), admitted(bandsNew))
      })
  }

  def duplicates(newDocs: DataFrame, corpusDocs: DataFrame): DataFrame =
    duplicates(newDocs, indexCorpus(corpusDocs))

  /** The pair gates' shared hooks on [[Gate.Absorbing]]: a hit
    * rejects its `newCol` id, and every hit except a self-hit feeds the
    * pair table. Self-hits (a replayed/re-ingested id verifying against
    * its own corpus content) are REPORTED to the sink but never
    * persisted: a (d,d) row in the pair index would surface d as a
    * phantom singleton cluster in connectedComponents. */
  sealed abstract class PairGate[I <: Gate.Index[I]](init: I, idCol: String,
      newCol: String, pairTable: Option[String], collapseEvery: Int,
      corpusTable: Option[String])
      extends Gate.Absorbing[I](init, idCol, collapseEvery, corpusTable) {
    protected def rejected(hits: DataFrame): DataFrame =
      hits.select(col(newCol).as(idCol)).distinct()
    override protected def afterSink(batch: DataFrame, hits: DataFrame): Unit =
      pairTable.foreach(t => Dedup.appendPairs(batch.sparkSession, t,
        hits.filter(col(newCol) =!= col("dup_of"))
          .select(col(newCol).as("doc_a"), col("dup_of").as("doc_b"))))
  }

  /** Cross-batch state of a running text gate ([[Gate.Absorbing]]):
    * per micro-batch, verify dups, sink them, maintain the pair table,
    * then absorb the batch's admitted docs exactly once per batch id.
    * `corpusTable` switches the index to the disk-backed 100 TB form
    * ([[indexCorpusDisk]]); the gate is the single writer of that
    * table for its lifetime. */
  final class TextGateState(corpusDocs: DataFrame,
      pairTable: Option[String] = None,
      collapseEvery: Int = CollapseEvery,
      corpusTable: Option[String] = None)
      extends PairGate[TextIndex](
        corpusTable.fold(indexCorpus(corpusDocs))(indexCorpusDisk(corpusDocs, _)),
        "doc_id", "new_doc", pairTable, collapseEvery, corpusTable) {
    protected def verify(batch: DataFrame): Gate.Verified[TextIndex] =
      verifyText(batch, index)
  }

  /** Start the gate: raw new docs stream into foreachBatch against the
    * corpus index, which GROWS by each batch's admitted docs (see the
    * module doc's three populations). `pairTable`, when set, receives
    * every hit via [[Dedup.appendPairs]]; `corpusTable` switches the
    * corpus content to the disk-backed bucketed table (the 100 TB
    * posture — module doc). */
  def start(
      newDocs: DataFrame,
      corpusDocs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      pairTable: Option[String] = None,
      corpusTable: Option[String] = None): StreamingQuery = {
    val state = new TextGateState(corpusDocs, pairTable, CollapseEvery, corpusTable)
    Gate.start(newDocs, checkpointDir, trigger)(state.process(_, _, sink))
  }

  /** Batch analog for the oracle gate: every doc_id % 4 == 0 document
    * replayed as ONE "new" batch against the rest as corpus — the
    * exact-Jaccard oracle restricted to pairs touching the new side
    * (crossing pairs AND new-new pairs, the intra-batch population) is
    * the ground truth (LSH ≡ exact at these band parameters, as for
    * q_minhash_lsh). */
  def qDedupGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    duplicates(
      docs.filter(col("doc_id") % 4 === 0),
      docs.filter(col("doc_id") % 4 =!= 0))
      .orderBy(col("new_doc"), col("dup_of"))
  }

  /** [[qDedupGate]] through the DISK-backed index — same result set
    * (same oracle SQL), but the verify stage reads the bucketed
    * on-disk shingle table bucket-pruned: the query-level proof that
    * the 100 TB gate posture is semantics-preserving. */
  def qDedupGateDisk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    duplicates(
      docs.filter(col("doc_id") % 4 === 0),
      indexCorpusDisk(docs.filter(col("doc_id") % 4 =!= 0),
        gateTableName("sh", d)))
      .orderBy(col("new_doc"), col("dup_of"))
  }

  /** Deterministic per-corpus table name for the gate content tables
    * (the shared [[graft.sources.Writers.tableDigest]] scheme). */
  private[graft] def gateTableName(kind: String, d: String): String =
    s"graft_gate_${kind}_${graft.sources.Writers.tableDigest(d)}"

  // ------------------------------------------- embedding-side gate

  /** SRP banding + threshold configuration for the embedding gate —
    * the selectivity dial ([[Dedup.srpWideBands]]) made a first-class
    * gate parameter. The two shipped configs are the two operating
    * points the batch queries already prove out:
    *  - [[EmbedBanding.Narrow]]: 40 x 4-bit bands at the harness's
    *    weak 0.4 threshold — full recall, but candidate volume is
    *    quadratic on an isotropic corpus (the documented
    *    [[Dedup.qEmbedNearDupLsh]] artifact). Harness/oracle config.
    *  - [[EmbedBanding.Strict]]: 20 x 8-bit bands x 2 offset layouts
    *    at the realistic 0.7 threshold ([[Dedup.qEmbedNearDupStrict]])
    *    — measured 6.5x candidate reduction at full recall. THE 100 TB
    *    config: candidate volume tracks true near-dup density, so
    *    per-trigger verify stays O(batch x dup density) at any corpus
    *    size (the sf1 egate probe in Bench is the standing record).
    *  - [[EmbedBanding.Deep]]: 10 x 16-bit bands x 4 layouts x 3
    *    independent hash families at 0.7 ([[Dedup.qEmbedNearDupDeep]])
    *    — the operating point for NOISE-DOMINATED corpora, where even
    *    strict's 8-bit bands admit a quadratic random background
    *    (1/256 per band): 16-bit bands admit 1/65536, and the recall
    *    lost to the narrower net is bought back with extra seeded
    *    signatures ([[Dedup.DeepSeeds]]) instead of more (correlated)
    *    rotation layouts.
    * `group`/`offsets` feed [[Dedup.srpWideBands]] per layout per
    * seed; `threshold` feeds [[Dedup.cosineVerify]]. The hash-family
    * index is folded into the `layout` band-row column
    * (`sigId * group + offset` — injective since offsets < group), so
    * the index schema, absorb increments, and every band join are
    * family-aware without a schema change. */
  final case class EmbedBanding(threshold: Double, group: Int, offsets: Seq[Int],
      seeds: Seq[Long] = Seq(Dedup.DefaultSeed)) {
    // the layout fold is injective ONLY while offsets stay inside
    // [0, group): a violating config would silently alias band rows
    // of different hash families into one band space (false candidates
    // the exact verify then hides as pure wasted I/O) — fail fast
    // instead. offset >= group is also never useful: offset and
    // offset % group produce the same quarter partition, renumbered.
    require(offsets.nonEmpty && offsets.forall(o => o >= 0 && o < group),
      s"offsets must lie in [0, group=$group) for the family-layout fold: $offsets")
    require(seeds.nonEmpty && seeds.distinct == seeds,
      s"seeds must be non-empty and distinct: $seeds")
  }
  object EmbedBanding {
    val Narrow = EmbedBanding(Dedup.CosineThreshold, 1, Seq(0))
    val Strict = EmbedBanding(Dedup.StrictThreshold, Dedup.StrictBandGroup,
      Dedup.StrictBandOffsets)
    val Deep = EmbedBanding(Dedup.StrictThreshold, Dedup.DeepBandGroup,
      Dedup.DeepBandOffsets, Dedup.DeepSeeds)

    /** The escalation ladder the config docs describe in prose:
      * narrow -> strict -> deep; deep is the deepest config. */
    def next(b: EmbedBanding): Option[EmbedBanding] =
      if (b == Narrow) Some(Strict)
      else if (b == Strict) Some(Deep)
      else None
  }

  /** Candidate-rate fraction above which a banding config is judged
    * to be failing to prune: candidates per (batch x corpus) cross
    * pair. Calibrated against the measured operating points — strict
    * banding on an isotropic corpus admits ~40/256 = 15% of cross
    * pairs (8-bit-band random background, SCALE.md), deep admits
    * ~0.4%; a real dup-density-tracking rate sits well below 5%. */
  val EscalationRate = 0.05

  /** Consecutive over-rate batches before the wire trips — one noisy
    * batch is not a regime; three in a row is. */
  val EscalationPatience = 3

  /** Measured-candidate-rate trip wire for the embed gate's banding
    * choice ([[EmbedBanding]]) — turns "strict for clustered corpora,
    * deep for noise-dominated" from operator knowledge into a runtime
    * signal. Each batch reports its candidate-pair count and the
    * batch/corpus sizes; when the candidate fraction of the cross
    * space exceeds [[EscalationRate]] for [[EscalationPatience]]
    * consecutive batches, the monitor logs once and recommends the
    * next-deeper banding ([[EmbedBanding.next]]). The gate does NOT
    * hot-swap the index (bands are derived under the current banding;
    * re-banding is an index rebuild) — the operator restarts the gate
    * with [[advice]]'s config, which is the cheap part of the
    * decision; detecting the regime is the part that needs data. */
  final class BandingMonitor(banding: EmbedBanding,
      rateThreshold: Double = EscalationRate,
      patience: Int = EscalationPatience) {
    private var hot = 0
    @volatile private var tripped: Option[EmbedBanding] = None

    /** Standing recommendation (None until the wire trips, or when
      * already at the deepest config). */
    def advice: Option[EmbedBanding] = tripped

    /** Record one batch's measured pruning quality; returns the
      * recommendation exactly when this observation trips the wire. */
    def observe(candidates: Long, batchVecs: Long, corpusVecs: Long): Option[EmbedBanding] = {
      val cross = batchVecs.toDouble * corpusVecs.toDouble
      val rate = if (cross > 0) candidates / cross else 0.0
      hot = if (rate > rateThreshold) hot + 1 else 0
      if (hot >= patience && tripped.isEmpty) {
        tripped = EmbedBanding.next(banding)
        tripped.foreach { _ =>
          System.err.println(f"[graft.gate] banding escalation: candidate rate $rate%.4f > $rateThreshold%.2f for $hot consecutive batches — current banding is pricing the random background; restart the gate with the next-deeper EmbedBanding config")
        }
        tripped
      } else None
    }
  }

  /** Corpus snapshot pre-processed for the embedding gate: slim SRP
    * band index + vector content (in-memory frame OR bucketed on-disk
    * table — `table` set, the 100 TB posture). [[absorb]] extends it
    * with admitted vectors between snapshots (same increment-
    * checkpoint discipline as [[TextIndex.absorb]]). `banding` is the
    * index's band layout — absorbed increments band identically, and
    * [[embedDuplicates]] verifies at its threshold. */
  final case class EmbedIndex(bands: DataFrame, vecs: DataFrame,
      table: Option[String] = None,
      banding: EmbedBanding = EmbedBanding.Narrow) extends Gate.Index[EmbedIndex] {

    /** Verify-stage read: (vec_id, embedding, n2) for exactly `ids` —
      * bucket-pruned on a disk index ([[Gate.contentFor]]). */
    def vectorsFor(ids: Seq[Long]): DataFrame =
      Gate.contentFor(vecs, table, VecCols, ids)

    /** Over-[[MaxVerifyIds]] form of [[vectorsFor]]
      * ([[Gate.contentForJoin]]). */
    def vectorsForJoin(idsDf: DataFrame): DataFrame =
      Gate.contentForJoin(vecs, table, VecCols, idsDf)

    def absorb(admittedVecs: DataFrame): EmbedIndex = {
      val vA = withN2(admittedVecs).localCheckpoint(true)
      val vecsNext = Gate.appendContent(vecs, vA, table, "vec_id")
      val next = EmbedIndex(
        bands.unionAll(embedBands(vA, banding).localCheckpoint(true)),
        vecsNext, table, banding)
      if (table.isDefined) unpersistCheckpoints(vA)
      next
    }

    /** See [[TextIndex.collapsed]] — same plan-width reset, pure. */
    def collapsed: EmbedIndex = EmbedIndex(
      bands.localCheckpoint(true), Gate.collapseContent(vecs, table), table, banding)
    def arms: Seq[DataFrame] = Seq(bands, vecs)
    def remount(content: DataFrame): EmbedIndex = copy(vecs = content)
  }

  /** The embed content columns; `vec_id` keys the content table. */
  private val VecCols = Seq("vec_id", "embedding", "n2")

  /** Vectors with their exact squared norms: the content row shape. */
  private def withN2(vecs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.norm2Exact
    vecs.select(col("vec_id"), col("embedding"), norm2Exact(col("embedding")).as("n2"))
  }

  /** (vec_id, layout, band_id, band_val) band rows for `vecs` under
    * `banding`: ONE srp_bands signature pass per (vector, hash
    * family) — each signature's alias is referenced by every layout,
    * so CollapseProject keeps it in its own projection (no per-layout
    * recompute) — then each offset layout's [[Dedup.srpWideBands]]
    * re-pack flattened out of a single generate, with the family id
    * folded into `layout` (`sigId * group + offset`). With the Narrow
    * config this is band-for-band the original 40 x 4-bit explode
    * (group=1/offset=0 re-pack is the identity; layout is constant
    * 0). */
  private def embedBands(vecs: DataFrame, banding: EmbedBanding): DataFrame = {
    import graft.functions.expressions.SrpBands.srp_bands
    // Narrow fast path: group=1/offset=0 re-packing is the identity,
    // so skip the wide-band HOF machinery (transform/aggregate lambdas
    // are interpreted, not whole-stage-codegen'd — the module doc's
    // measured 14x HOF tax applies) and keep the original direct
    // codegen posexplode of the signature.
    if (banding.group == 1 && banding.offsets == Seq(0) &&
        banding.seeds == Seq(Dedup.DefaultSeed))
      vecs.select(col("vec_id"), lit(0).as("layout"),
        posexplode(srp_bands(col("embedding"))).as(Seq("band_id", "band_val")))
    else {
      val layoutArrays = banding.seeds.zipWithIndex.flatMap { case (seed, sigId) =>
        banding.offsets.map { off =>
          transform(Dedup.srpWideBands(col(s"sig$sigId"), banding.group, off),
            (v, i) => struct(lit(sigId * banding.group + off).as("layout"),
              i.as("band_id"), v.as("band_val")))
        }
      }
      val sigCols = col("vec_id") +: banding.seeds.zipWithIndex.map {
        case (seed, sigId) => srp_bands(col("embedding"), seed).as(s"sig$sigId")
      }
      vecs.select(sigCols: _*)
        .select(col("vec_id"), explode(flatten(array(layoutArrays: _*))).as("e"))
        .select(col("vec_id"), col("e.layout").as("layout"),
          col("e.band_id").as("band_id"), col("e.band_val").as("band_val"))
    }
  }

  def indexEmbedCorpus(corpusVecs: DataFrame,
      banding: EmbedBanding = EmbedBanding.Narrow): EmbedIndex =
    EmbedIndex(embedBands(corpusVecs, banding).localCheckpoint(false),
      withN2(corpusVecs).localCheckpoint(false), None, banding)

  /** The 100 TB form of [[indexEmbedCorpus]] — vectors (with
    * precomputed norms) land in a vec_id-bucketed catalog table; see
    * [[indexCorpusDisk]]. */
  def indexEmbedCorpusDisk(corpusVecs: DataFrame, table: String,
      banding: EmbedBanding = EmbedBanding.Narrow): EmbedIndex =
    indexEmbedCorpusDiskTimed(corpusVecs, table, banding)._1

  /** [[indexEmbedCorpusDisk]] plus per-stage wall timings (seconds):
    * `norm_ckpt` (norm compute + vector materialization),
    * `bucket_write` (the bucketed corpus table), `band_build` (SRP
    * banding + checkpoint). Bench instrumentation — a build-probe
    * regression decomposes inside the emitted JSON instead of needing
    * a round-over-round guess at which stage moved. */
  private[graft] def indexEmbedCorpusDiskTimed(corpusVecs: DataFrame, table: String,
      banding: EmbedBanding): (EmbedIndex, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    val vecs = withN2(corpusVecs).localCheckpoint(true)
    val t1 = System.nanoTime()
    var t2 = t1
    val idx = Gate.diskIndex(vecs, "vec_id", table) { content =>
      t2 = System.nanoTime()
      EmbedIndex(embedBands(vecs, banding).localCheckpoint(true), content,
        Some(table), banding)
    }
    val t3 = System.nanoTime()
    (idx, Seq("norm_ckpt" -> (t1 - t0) / 1e9,
      "bucket_write" -> (t2 - t1) / 1e9, "band_build" -> (t3 - t2) / 1e9))
  }

  /** New embeddings vs the index AND vs each other: semantic near-dup
    * hits at [[Dedup.CosineThreshold]] — DISTINCT candidate pairs from
    * the SRP band-bucket join against the corpus index unioned with
    * the intra-batch self-join (higher vec_id flagged, keep-lowest-id),
    * then [[Dedup.cosineVerify]]'s two-stage verify once per pair.
    * Vectors are joined back for CANDIDATE ids only, through
    * [[EmbedIndex.vectorsFor]]'s pruned read — O(candidates) verify
    * I/O on a disk index (module doc); corpus content is preferred for
    * re-ingested ids, batch content covers intra-batch-only ids. */
  def embedDuplicates(newVecs: DataFrame, corpus: EmbedIndex): DataFrame =
    embedDuplicatesWithScratch(newVecs, corpus)._1

  /** [[embedDuplicates]] plus the candidate-pair count thunk
    * ([[BandingMonitor]]'s input, surfaced for the bench): the
    * O(candidates) verify claim is only checkable when the candidate
    * count rides alongside the timing. The thunk is cache-local on the
    * already-checkpointed candidate frame — run it AFTER consuming the
    * result, before anything unpersists. */
  private[graft] def embedDuplicatesCounted(newVecs: DataFrame,
      corpus: EmbedIndex): (DataFrame, () => Long) = {
    val (result, _, candCount) = embedDuplicatesWithScratch(newVecs, corpus)
    (result, candCount)
  }

  /** See [[verifyText]] — same per-call cleanup contract.
    * Banding (layout/joins) and verify threshold both come from
    * `corpus.banding`, so a strict-config index verifies strictly.
    * The third element is a lazy candidate-pair count over the (still
    * cached) candidate frame — [[BandingMonitor]] food; callers that
    * don't monitor never pay the extra (cache-local) count job. */
  private def embedDuplicatesWithScratch(
      newVecs: DataFrame, corpus: EmbedIndex): (DataFrame, Seq[DataFrame], () => Long) = {
    val vecsNew = withN2(newVecs).localCheckpoint(false)
    val bandsNew = embedBands(vecsNew, corpus.banding).localCheckpoint(false)
    val candCorpus = bandsNew
      .join(corpus.bands.select(col("vec_id").as("dup_of"),
        col("layout"), col("band_id"), col("band_val")),
        Seq("layout", "band_id", "band_val"))
      .select(col("vec_id").as("va"), col("dup_of").as("vb"))
    val candIntra = bandsNew.as("x").join(bandsNew.as("y"),
        col("x.layout") === col("y.layout") &&
        col("x.band_id") === col("y.band_id") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.vec_id") > col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
    // checkpointed: feeds the id collect AND the vector join-back
    val cand = candCorpus.unionAll(candIntra).distinct().localCheckpoint(false)
    // capped collect, join-based fallback beyond it — see the text
    // side ([[verifyText]]) for the scratch-tracking note
    val (vecsCorpusCand, vecCandScratch) =
      collectIdsCapped(cand.select(col("vb")).distinct()) match {
        case Some(bIds) =>
          val df = corpus.vectorsFor(bIds)
          (df, if (corpus.table.isDefined) Seq(df) else Nil)
        case None =>
          val df = corpus.vectorsForJoin(
            cand.select(col("vb")).distinct()).localCheckpoint(true)
          (df, Seq(df))
      }
    val corpusCandIds = vecsCorpusCand.select(col("vec_id"))
    val vecsB = vecsCorpusCand.unionAll(
      vecsNew.join(corpusCandIds, Seq("vec_id"), "left_anti")
        .select(VecCols.map(col): _*))
    val pairRows = cand
      .join(vecsNew.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("n2").as("n2a")), "va")
      .join(vecsB.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("n2").as("n2b")), "vb")
    val result = Dedup.cosineVerify(pairRows, corpus.banding.threshold)
      .select(col("va").as("new_vec"), col("vb").as("dup_of"), col("cosine"))
    (result, Seq(vecsNew, bandsNew, cand) ++ vecCandScratch, () => cand.count())
  }

  def embedDuplicates(newVecs: DataFrame, corpusVecs: DataFrame): DataFrame =
    embedDuplicates(newVecs, indexEmbedCorpus(corpusVecs))

  /** Cross-batch state of a running embedding gate — the semantic twin
    * of [[TextGateState]] on the same [[Gate.Absorbing]] skeleton, plus
    * the [[BandingMonitor]] trip wire fed once per batch. */
  final class EmbedGateState(corpusVecs: DataFrame,
      pairTable: Option[String] = None,
      collapseEvery: Int = CollapseEvery,
      corpusTable: Option[String] = None,
      banding: EmbedBanding = EmbedBanding.Narrow)
      extends PairGate[EmbedIndex](
        corpusTable.fold(indexEmbedCorpus(corpusVecs, banding))(
          indexEmbedCorpusDisk(corpusVecs, _, banding)),
        "vec_id", "new_vec", pairTable, collapseEvery, corpusTable) {
    // escalation trip wire: corpus size is tracked incrementally (one
    // count at init, then +admitted per absorbed batch) — never a
    // per-batch table count
    private val monitor = new BandingMonitor(banding)
    private var corpusN = index.vecs.count()
    private var batchN = 0L

    /** [[BandingMonitor.advice]] for this gate: Some(deeper config)
      * once the measured candidate rate has tripped the wire. */
    def escalationAdvice: Option[EmbedBanding] = monitor.advice

    protected def verify(batch: DataFrame): Gate.Verified[EmbedIndex] = {
      val (dups, scratch, candCount) = embedDuplicatesWithScratch(batch, index)
      // the batch is counted once; the candidate count reads the frame
      // the candidate-id collect already materialized
      batchN = batch.count()
      monitor.observe(candCount(), batchN, corpusN)
      Gate.Verified(dups, scratch)
    }

    // admitted = batch minus the distinct flagged ids
    override protected def rejected(hits: DataFrame): DataFrame = {
      val ids = super.rejected(hits)
      corpusN += batchN - ids.count()
      ids
    }
  }

  /** Start the embedding gate — same foreachBatch + absorb + optional
    * pair-table maintenance shape as [[start]]; `pairTable` receives
    * SRP hits (the semantic twin of the text gate's maintenance),
    * `corpusTable` switches to the disk-backed vector table, `banding`
    * picks the operating point ([[EmbedBanding.Strict]] is the
    * production config — module doc). */
  def startEmbed(
      newVecs: DataFrame,
      corpusVecs: DataFrame,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0),
      pairTable: Option[String] = None,
      corpusTable: Option[String] = None,
      banding: EmbedBanding = EmbedBanding.Narrow): StreamingQuery = {
    val state = new EmbedGateState(corpusVecs, pairTable, CollapseEvery,
      corpusTable, banding)
    Gate.start(newVecs, checkpointDir, trigger)(state.process(_, _, sink))
  }

  /** Batch analog for the oracle: vec_id % 4 == 0 as ONE "new" batch
    * against the rest — the full SRP chain restricted to pairs
    * touching the new side (crossing AND new-new) is the ground
    * truth. */
  def qEmbedGate(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d)
    embedDuplicates(
      vecs.filter(col("vec_id") % 4 === 0),
      vecs.filter(col("vec_id") % 4 =!= 0))
      .orderBy(col("new_vec"), col("dup_of"))
  }

  /** [[qEmbedGate]] through the DISK-backed vector table — same result
    * set (same oracle SQL), verify reads bucket-pruned
    * ([[qDedupGateDisk]]). */
  def qEmbedGateDisk(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d)
    embedDuplicates(
      vecs.filter(col("vec_id") % 4 === 0),
      indexEmbedCorpusDisk(vecs.filter(col("vec_id") % 4 =!= 0),
        gateTableName("vec", d)))
      .orderBy(col("new_vec"), col("dup_of"))
  }

  /** The embedding gate at its PRODUCTION operating point: strict
    * banding ([[EmbedBanding.Strict]] — 8-bit wide SRP bands, two
    * offset layouts, cosine 0.7) over the planted-near-dup corpus
    * ([[Dedup.augmentedEmbeddings]], the clustered structure a real
    * corpus has), through the DISK-backed vector table. This is the
    * config the sf1 egate probe scales: candidate volume tracks true
    * dup density (6.5x below all-pairs, SF-stable), so per-trigger
    * verify I/O stays O(batch x density) at any corpus size — the
    * narrow-config quadratic-candidate artifact
    * ([[Dedup.qEmbedNearDupLsh]] scaladoc) does not apply. Oracle: the
    * strict SRP chain restricted to pairs touching the new side,
    * mirrored bit-identically in SQL. */
  def qEmbedGateStrict(s: SparkSession, d: String): DataFrame = {
    val vecs = Dedup.augmentedEmbeddings(s, d)
    embedDuplicates(
      vecs.filter(col("vec_id") % 4 === 0),
      indexEmbedCorpusDisk(vecs.filter(col("vec_id") % 4 =!= 0),
        gateTableName("svec", d), EmbedBanding.Strict))
      .orderBy(col("new_vec"), col("dup_of"))
  }

  /** The embedding gate at the DEEP operating point
    * ([[EmbedBanding.Deep]] — 16-bit bands, 4 layouts, 3 hash
    * families, cosine 0.7) through the disk-backed vector table. Same
    * ground truth as [[qEmbedGateStrict]] whenever deep recall is full
    * (the batch spec measures exactly that), at a candidate volume
    * that no longer tracks the isotropic all-pairs background — the
    * gate config for noise-dominated corpora, closing the narrow
    * config's quadratic-candidate artifact end-to-end (index, absorb,
    * and per-trigger verify all family-aware via the layout fold).
    * Oracle: the deep SRP chain restricted to pairs touching the new
    * side, mirrored bit-identically in SQL (three weight-matrix
    * literals, one per [[Dedup.DeepSeeds]] family). */
  def qEmbedGateDeep(s: SparkSession, d: String): DataFrame = {
    val vecs = Dedup.augmentedEmbeddings(s, d)
    embedDuplicates(
      vecs.filter(col("vec_id") % 4 === 0),
      indexEmbedCorpusDisk(vecs.filter(col("vec_id") % 4 =!= 0),
        gateTableName("dvec", d), EmbedBanding.Deep))
      .orderBy(col("new_vec"), col("dup_of"))
  }
}
