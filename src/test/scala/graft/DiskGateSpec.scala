package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{DedupGate, Gate, SpanGate}

/** The disk-backed gate corpus index (the 100 TB verify posture) must
  * be (a) semantics-preserving — identical hits to the in-memory
  * index, (b) bucket-pruned — the verify read touches candidate ids'
  * buckets, not the whole table, (c) maintained — absorbs append to
  * the table and replays don't, and (d) memory-bounded — collapse
  * unpersists the superseded arms immediately. */
class DiskGateSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def ckptIds(df: DataFrame): Seq[Int] = {
    val b = scala.collection.mutable.ArrayBuffer[Int]()
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => b += r.rdd.id
      case _ => ()
    }
    b.toSeq
  }

  test("disk text gate hits are identical to the in-memory gate") {
    val mem = DedupGate.qDedupGate(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val disk = DedupGate.qDedupGateDisk(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mem == disk, "disk-backed verify changed the text gate's hit set")
    assert(mem.nonEmpty, "vacuous equality: no gate hits at sf0.001")
  }

  test("disk embed gate hits are identical to the in-memory gate") {
    val mem = DedupGate.qEmbedGate(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val disk = DedupGate.qEmbedGateDisk(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mem == disk, "disk-backed verify changed the embed gate's hit set")
    assert(mem.nonEmpty, "vacuous equality: no embed gate hits at sf0.001")
  }

  test("verify read engages bucket pruning: only candidate buckets scanned") {
    val table = "graft_spec_gate_prune"
    DedupGate.indexCorpusDisk(Tables.documents(spark, d), table)
    // the pruned read the disk-mode shinglesFor materializes: planned
    // under the cloned autoBucketedScan=false session, a single id
    // must hash to exactly one selected bucket
    val read = DedupGate.prunedTableRead(spark, table, "doc_id", Seq(12L),
      Seq(col("doc_id"), col("shingle")))
    val plan = read.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"verify read did not bucket-prune:\n$plan")
    assert(m.get.group(1).toInt == 1 && m.get.group(2).toInt == DedupGate.GateCorpusBuckets,
      s"expected 1 of ${DedupGate.GateCorpusBuckets} buckets selected, got ${m.get.matched}")
    // and at RUNTIME only the selected bucket's rows enter the scan
    // (the numFiles metric is populated BEFORE bucket pruning, so the
    // scan's numOutputRows — rows actually decoded, pre-Filter — is
    // the runtime evidence: ~1/8 of the table for one id, not all)
    read.collect()
    val scan = read.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    val total = spark.table(table).count()
    assert(scanned > 0 && scanned <= total / 4,
      s"pruning ineffective at runtime: scanned $scanned of $total shingle rows")
    // the autoBucketedScan flip lives in the CLONED session only — the
    // caller's session conf must be untouched (the compactBucketed
    // discipline; round-8 advice)
    assert(spark.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true") == "true",
      "prunedTableRead leaked its conf flip into the caller's session")
  }

  test("bucket pruning holds at production candidate counts (2,500 ids)") {
    // The round-9 spec pinned pruning for ONE id; production batches
    // collect thousands. Two things must survive the jump: (a) the
    // optimizer's In -> InSet conversion (fires at 10+ values) must
    // still feed bucket pruning, and (b) rows DECODED must stay
    // bounded by the candidate ids' buckets even though the parquet
    // pushdown falls back from per-value filters to a min/max range
    // above inFilterThreshold (default 10) — i.e. the bucket, not the
    // row group, is the verify read's unit of I/O at production
    // candidate counts. 80k rows, 2,500 candidate ids all hashing to
    // ONE bucket: the read must select 1 of 8 buckets and decode ~1/8
    // of the table.
    val table = "graft_spec_gate_prune_wide"
    val df = spark.range(80000).select(col("id").as("doc_id"),
      (col("id") * 7).as("payload"))
    graft.sources.Writers.replaceBucketed(spark, df, "doc_id",
      DedupGate.GateCorpusBuckets, table)
    // bucket id = pmod(murmur3(doc_id), buckets) — functions.hash IS
    // the bucketing hash (Murmur3, seed 42)
    val ids = df.select(col("doc_id"))
      .filter(pmod(hash(col("doc_id")), lit(DedupGate.GateCorpusBuckets)) === 3)
      .limit(2500).collect().map(_.getLong(0)).toSeq
    assert(ids.size == 2500, s"expected 2500 ids in bucket 3, got ${ids.size}")
    val read = DedupGate.prunedTableRead(spark, table, "doc_id", ids,
      Seq(col("doc_id"), col("payload")))
    val plan = read.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"2,500-id verify read did not bucket-prune:\n$plan")
    assert(m.get.group(1).toInt == 1,
      s"expected 1 selected bucket for single-bucket ids, got ${m.get.matched}")
    // collect() executes THIS queryExecution (count() would plan a
    // separate one and leave these metrics untouched)
    assert(read.collect().length == 2500, "pruned read lost candidate rows")
    val scan = read.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned > 0 && scanned <= 80000 / 4,
      s"pruning ineffective at 2,500 ids: decoded $scanned of 80000 rows")
  }

  test("disk gate state: absorb appends to the table, replay does not, cross-batch dup caught") {
    val table = "graft_spec_gate_absorb"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark structured streaming state")
    ).toDF("doc_id", "text")
    val state = new DedupGate.TextGateState(corpus, corpusTable = Some(table))
    val rowsAfterSnapshot = spark.table(table).count()
    assert(rowsAfterSnapshot > 0, "snapshot shingles not written to the table")

    // batch 0: a clean doc is ADMITTED -> its shingles appended
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def sink(df: DataFrame, id: Long): Unit =
      hits ++= df.select(col("new_doc"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val b0 = Seq((100L, "totally unrelated text with no overlap whatsoever in any shingle"))
      .toDF("doc_id", "text")
    state.process(b0, 0L, sink)
    assert(hits.isEmpty, s"clean doc flagged: $hits")
    val rowsAfterAbsorb = spark.table(table).count()
    assert(rowsAfterAbsorb > rowsAfterSnapshot, "admitted doc's shingles not appended")

    // replayed batch id: the re-ingested doc now verifies against its
    // OWN absorbed on-disk content — the (100,100) "already admitted"
    // self-hit is re-emitted (gate contract), but the table must NOT
    // grow (no re-absorb)
    state.process(b0, 0L, sink)
    assert(hits.toSet == Set((100L, 100L)),
      s"replay should re-report the absorbed doc as already admitted: $hits")
    assert(spark.table(table).count() == rowsAfterAbsorb,
      "replayed batch id re-appended shingles")

    // batch 1: near-dup of the batch-0 ADMIT — only the absorbed
    // on-disk content can verify it
    val b1 = Seq((200L, "totally unrelated text with no overlap whatsoever in any sentence"))
      .toDF("doc_id", "text")
    state.process(b1, 1L, sink)
    assert(hits.toSet == Set((100L, 100L), (200L, 100L)),
      s"cross-batch near-dup not caught through the disk index: $hits")

    // the layout contract survives the appends: bucketed, no shuffle
    val plan = spark.table(table).select(col("doc_id")).distinct()
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"append lost the bucketed layout:\n$plan")
    assert(!plan.contains("Exchange"), s"post-append distinct shuffles:\n$plan")
  }

  test("disk embed gate state: absorb appends vectors, cross-batch dup caught") {
    val table = "graft_spec_gate_vec_absorb"
    // srp_bands is compiled for the corpus embedding dim (64)
    val base = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val ortho = Array.tabulate(64)(i => math.cos(i * 2.3 + 1.1).toFloat)
    val corpus = Seq((1L, base)).toDF("vec_id", "embedding")
    val state = new DedupGate.EmbedGateState(corpus, corpusTable = Some(table))
    val n0 = spark.table(table).count()
    assert(n0 == 1, "snapshot vectors not written")

    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def sink(df: DataFrame, id: Long): Unit =
      hits ++= df.select(col("new_vec"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    // batch 0: orthogonal vector admitted
    state.process(Seq((100L, ortho)).toDF("vec_id", "embedding"), 0L, sink)
    assert(hits.isEmpty, s"clean vector flagged: $hits")
    assert(spark.table(table).count() == n0 + 1, "admitted vector not appended")
    // batch 1: near-dup of the ADMITTED vector (tiny jitter of ortho)
    val orthoJit = ortho.zipWithIndex.map { case (v, i) => v + (if (i == 0) 0.01f else 0f) }
    state.process(Seq((200L, orthoJit)).toDF("vec_id", "embedding"), 1L, sink)
    assert(hits.toSet == Set((200L, 100L)),
      s"cross-batch embed near-dup not caught through the disk index: $hits")
  }

  test("compacting the gate content table between snapshots preserves gate behavior") {
    val table = "graft_spec_gate_compact"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val state = new DedupGate.TextGateState(corpus, corpusTable = Some(table))
    state.process(
      Seq((100L, "totally unrelated text with no overlap whatsoever in any shingle"))
        .toDF("doc_id", "text"), 0L, (_, _) => ())
    val filesBefore = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      .listFiles().count(_.getName.endsWith(".parquet"))
    val rowsBefore = spark.table(table).count()
    // maintenance window: fold the snapshot+append accretion
    graft.sources.Writers.compactBucketed(spark, table)
    val filesAfter = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(spark.table(table).count() == rowsBefore, "compaction changed content")
    // <=1 file per bucket (the strict before/after shrink is pinned by
    // CompactionSpec on a many-append table; here snapshot+1 append may
    // already sit at one file per touched bucket)
    assert(filesAfter <= DedupGate.GateCorpusBuckets && filesAfter <= filesBefore,
      s"compaction left >1 file per bucket: $filesBefore -> $filesAfter")
    // the running gate still verifies against ADMITTED content through
    // the compacted table
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    state.process(
      Seq((200L, "totally unrelated text with no overlap whatsoever in any sentence"))
        .toDF("doc_id", "text"), 1L, (df, _) => hits ++= df
        .select(col("new_doc"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    assert(hits.toSet == Set((200L, 100L)),
      s"gate lost absorbed content after compaction: $hits")
  }

  test("disk gate self-compacts its content table on the collapse cadence") {
    cadenceGates.foreach { g =>
      val table = s"graft_spec_gate_selfcompact_${g.name}"
      def files = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
        .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      val gate = g.run(Some(table))
      gate.absorb(0)
      val beforeCollapse = files
      // the second absorb triggers collapse -> automatic compaction,
      // which rewrites every file of the table
      gate.absorb(1)
      val after = files
      assert(after.size <= DedupGate.GateCorpusBuckets && after.intersect(beforeCollapse).isEmpty,
        s"${g.name}: collapse did not compact the content table: $beforeCollapse -> $after")
      // post-compaction index still verifies against all absorbed rows
      assert(gate.flagged() == Set(300L, 301L),
        s"${g.name}: gate lost absorbed content after self-compaction")
    }
  }

  test("gate restart rebuilds the content table from the snapshot: no stale accretion") {
    val table = "graft_spec_gate_restart"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val state1 = new DedupGate.TextGateState(corpus, corpusTable = Some(table))
    val snapshotRows = spark.table(table).count()
    state1.process(
      Seq((100L, "totally unrelated text with no overlap whatsoever in any shingle"))
        .toDF("doc_id", "text"), 0L, (_, _) => ())
    assert(spark.table(table).count() > snapshotRows, "absorb did not append")
    // "restart": a fresh gate on the same corpus snapshot + table name
    // must rebuild the table to exactly the snapshot — absorbed docs
    // re-enter through the batch pipeline's NEXT snapshot (the
    // documented system-of-record contract), never as stale appends
    // that the new gate cannot account for
    val state2 = new DedupGate.TextGateState(corpus, corpusTable = Some(table))
    assert(spark.table(table).count() == snapshotRows,
      "restart left stale absorbed shingles in the content table")
    // and the restarted gate still verifies against the snapshot
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    state2.process(
      Seq((300L, "the quick brown fox jumps over the lazy dog near the river shore"))
        .toDF("doc_id", "text"), 0L, (df, _) => hits ++= df
        .select(col("new_doc"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    assert(hits.toSet == Set((300L, 1L)),
      s"restarted gate missed a snapshot near-dup: $hits")
  }

  test("collapse unpersists the superseded arms' checkpoint blocks immediately") {
    cadenceGates.foreach { g =>
      val gate = g.run(None)
      gate.absorb(0)
      // pre-collapse arms: snapshot + one increment per frame
      val pre = gate.arms.flatMap(ckptIds).toSet
      assert(pre.nonEmpty, s"${g.name}: expected checkpointed arms before the collapse")
      // the second absorb triggers the collapse
      gate.absorb(1)
      val leaked = pre.intersect(spark.sparkContext.getPersistentRDDs.keySet)
      assert(leaked.isEmpty,
        s"${g.name}: superseded arms still persisted after collapse: RDD ids $leaked")
      // and the collapsed index still answers: copies of both absorbed
      // rows are caught post-collapse
      assert(gate.flagged() == Set(300L, 301L),
        s"${g.name}: post-collapse index lost absorbed content")
    }
  }

  /** An absorbing gate under the collapse-cadence tests, built with
    * collapseEvery = 2 and an optional content table. */
  private final case class CadenceGate(name: String, run: Option[String] => CadenceRun)

  /** Batches 0 and 1 each absorb one fresh row (ids 100 and 200);
    * [[flagged]] runs batch 2 — copies of both under ids 300 and 301 —
    * and returns the ids its verdicts flag. */
  private trait CadenceRun {
    def absorb(batch: Int): Unit
    def arms: Seq[DataFrame]
    def flagged(): Set[Long]
  }

  private def cadenceRun[I <: Gate.Index[I]](state: Gate.Absorbing[I],
      batch: Int => DataFrame, flaggedIds: DataFrame => Seq[Long]): CadenceRun =
    new CadenceRun {
      def absorb(i: Int): Unit = state.process(batch(i), i.toLong, (_, _) => ())
      def arms: Seq[DataFrame] = state.index.arms
      def flagged(): Set[Long] = {
        val out = scala.collection.mutable.ArrayBuffer[Long]()
        state.process(batch(2), 2L, (df, _) => out ++= flaggedIds(df))
        out.toSet
      }
    }

  private lazy val cadenceGates: Seq[CadenceGate] = {
    val corpusText =
      Seq((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text")
    val texts = Map(
      100L -> "totally unrelated text with no overlap whatsoever in any shingle",
      200L -> "more fresh content entirely distinct from previous documents here")
    def docs(i: Int) = (i match {
      case 0 => Seq(100L -> texts(100L))
      case 1 => Seq(200L -> texts(200L))
      case _ => Seq(300L -> texts(100L), 301L -> texts(200L))
    }).toDF("doc_id", "text")
    val rng = new java.util.Random(23)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val corpusVecs = Seq((1L, vec())).toDF("vec_id", "embedding")
    val (v100, v200) = (vec(), vec())
    def vecs(i: Int) = (i match {
      case 0 => Seq(100L -> v100)
      case 1 => Seq(200L -> v200)
      case _ => Seq(300L -> v100, 301L -> v200)
    }).toDF("vec_id", "embedding")
    def ids(df: DataFrame, c: String) = df.select(col(c)).collect().map(_.getLong(0)).toSeq
    Seq(
      CadenceGate("text", t => cadenceRun(
        new DedupGate.TextGateState(corpusText, collapseEvery = 2, corpusTable = t),
        docs, ids(_, "new_doc"))),
      CadenceGate("embed", t => cadenceRun(
        new DedupGate.EmbedGateState(corpusVecs, collapseEvery = 2, corpusTable = t),
        vecs, ids(_, "new_vec"))),
      CadenceGate("span", t => cadenceRun(
        new SpanGate.SpanGateState(corpusText, collapseEvery = 2, corpusTable = t),
        docs, v => ids(v.filter(col("admit") === 0L), "doc_id"))))
  }
}
