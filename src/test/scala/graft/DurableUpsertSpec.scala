package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.ReportPipeline

/** K2 production shape: the durable keyed-upsert sink MERGEs each
  * micro-batch into bucket-partitioned parquet — last-write-wins per
  * key, replay-idempotent, and untouched buckets are not rewritten. */
class DurableUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-durable").toString

  private def mkBatch(rows: Seq[(String, String, String, Long, String)]) =
    rows.toDF("wstart", "type", "area", "cnt", "time")

  /** Per-bucket file inventory under the manifest layout: bucket name
    * -> every (gen-relative file path, mtime) beneath it. An untouched
    * bucket keeps its exact generation dirs and files. */
  private def bucketFiles(table: String): Map[String, Set[(String, Long)]] = {
    val data = new java.io.File(table, "data")
    Option(data.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        Option(d.listFiles()).getOrElse(Array.empty).flatMap(gen =>
          Option(gen.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (s"${gen.getName}/${f.getName}", f.lastModified()))).toSet)
      .toMap
  }

  test("merge semantics: last-write-wins per key, replay idempotent, buckets untouched") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)

    val k = (w: String, t: String) => (w, t, "AREA_US")
    sink.write(mkBatch(Seq(
      ("2018-01-01 10:00:00", "shelf", "AREA_US", 2L, "t1"),
      ("2018-01-01 10:00:30", "black", "AREA_US", 1L, "t2"))), 0L)
    assert(sink.snapshot(spark) == Map(
      k("2018-01-01 10:00:00", "shelf") -> (2L, "t1"),
      k("2018-01-01 10:00:30", "black") -> (1L, "t2")))

    // batch 1 updates one key, inserts another
    val batch1 = mkBatch(Seq(
      ("2018-01-01 10:00:00", "shelf", "AREA_US", 3L, "t3"),
      ("2018-01-01 10:01:00", "seach", "AREA_US", 1L, "t4")))
    val affected = batch1
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.col("wstart"),
          org.apache.spark.sql.functions.col("type"),
          org.apache.spark.sql.functions.col("area")),
        org.apache.spark.sql.functions.lit(16)))
      .select("bucket").distinct().collect().map(r => s"bucket=${r.getInt(0)}").toSet
    val before = bucketFiles(table)
    sink.write(batch1, 1L)
    val expected = Map(
      k("2018-01-01 10:00:00", "shelf") -> (3L, "t3"),
      k("2018-01-01 10:00:30", "black") -> (1L, "t2"),
      k("2018-01-01 10:01:00", "seach") -> (1L, "t4"))
    assert(sink.snapshot(spark) == expected)

    // partitions not holding an affected key must be byte-identical
    val after = bucketFiles(table)
    for ((b, files) <- before if !affected.contains(b))
      assert(after(b) == files, s"untouched bucket $b was rewritten")

    // replaying the same batch (restart against an old checkpoint)
    // converges to the same table state
    sink.write(batch1, 1L)
    assert(sink.snapshot(spark) == expected)
  }

  test("a FRESH sink instance resumes the table from disk alone (stateless restart)") {
    val table = tmpDir() + "/report"
    val sink1 = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    sink1.write(mkBatch(Seq(
      ("2018-01-01 10:00:00", "shelf", "AREA_US", 2L, "t1"),
      ("2018-01-01 10:00:30", "black", "AREA_US", 1L, "t2"))), 0L)
    val s1 = sink1.snapshot(spark)

    // a brand-new instance over the same path (a restarted driver):
    // reads the committed state, and its next merge carries it forward
    val sink2 = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    assert(sink2.snapshot(spark) == s1)
    sink2.write(mkBatch(Seq(
      ("2018-01-01 10:00:00", "shelf", "AREA_US", 5L, "t3"))), 1L)
    assert(sink2.snapshot(spark) == Map(
      ("2018-01-01 10:00:00", "shelf", "AREA_US") -> (5L, "t3"),
      ("2018-01-01 10:00:30", "black", "AREA_US") -> (1L, "t2")))
  }

  test("a checkpoint reset over a kept table is refused (batchId below the committed generation)") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    sink.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 1L, "t0"))), 0L)
    sink.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 2L, "t1"))), 1L)
    val committed = sink.snapshot(spark)
    // a RESET checkpoint restarts at batch 0 — its commits could never
    // become the max generation, so they would be invisible and then
    // GC'd: the sink must refuse instead of acknowledging a write it
    // will silently discard
    val e = intercept[IllegalStateException] {
      sink.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 9L, "t9"))), 0L)
    }
    assert(e.getMessage.contains("checkpoint was reset"))
    assert(sink.snapshot(spark) == committed, "the refused write must not change state")
  }

  test("a restart with a different nBuckets is refused (layout recorded write-once)") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    sink.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 1L, "t0"))), 0L)
    val committed = sink.snapshot(spark)
    // a restarted sink with a DIFFERENT bucket count rehashes keys
    // across buckets while old-bucket generations stay pinned in the
    // manifest — an old row whose key now hashes elsewhere is never
    // anti-joined out (silent duplication). Refuse loudly instead
    // (ADVICE r19 #3), mirroring the batchId-regression guard.
    val wrong = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 8)
    val e = intercept[IllegalStateException] {
      wrong.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 9L, "t9"))), 1L)
    }
    assert(e.getMessage.contains("nBuckets=16") && e.getMessage.contains("nBuckets=8"))
    assert(wrong.snapshot(spark) == committed, "the refused write must not change state")
    // the MATCHING layout keeps working after the refusal
    val same = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    same.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 2L, "t1"))), 1L)
    assert(same.snapshot(spark)(("2018-01-01 10:00:00", "shelf", "AREA_US")) == (2L, "t1"))
  }

  test("replaying a committed batch keeps the prior generation for lagging readers") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    sink.write(mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 1L, "t0"))), 0L)
    val batch1 = mkBatch(Seq(("2018-01-01 10:00:00", "shelf", "AREA_US", 2L, "t1")))
    sink.write(batch1, 1L)
    // after the clean commit of gen 1, gen 0 (manifest + bucket dirs)
    // is deliberately retained for readers that resolved it just
    // before the flip
    def gen0Manifest = new java.io.File(s"$table/_manifests/gen-0")
    def gen0Dirs = {
      val data = new java.io.File(table, "data")
      Option(data.listFiles()).getOrElse(Array.empty)
        .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
        .count(_.getName == "gen=0")
    }
    assert(gen0Manifest.exists, "prior manifest must survive the clean commit")
    val dirs0 = gen0Dirs
    assert(dirs0 > 0, "prior bucket generation must survive the clean commit")
    // REPLAY of batch 1 (crash-after-commit): the original commit's GC
    // already ran — the replay must be a full no-op, NOT a second GC
    // with priorGen == newGen that deletes the retained generation
    sink.write(batch1, 1L)
    assert(gen0Manifest.exists, "replay GC'd the prior manifest lagging readers resolve")
    assert(gen0Dirs == dirs0, "replay GC'd prior bucket generations")
    assert(sink.snapshot(spark) ==
      Map(("2018-01-01 10:00:00", "shelf", "AREA_US") -> (2L, "t1")))
  }

  test("atomic visibility: a reader racing a merge sees all-old or all-new, never a mix") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)

    // batch 0: keys spread over multiple buckets
    val rows0 = (0 until 12).map(i =>
      (f"2018-01-01 10:$i%02d:00", "shelf", "AREA_US", 1L, "t0"))
    sink.write(mkBatch(rows0), 0L)
    val s0 = sink.snapshot(spark)
    assert(s0.size == 12)

    // STAGED but not committed: batch 1 updates every key (touching
    // every bucket batch 0 wrote) — a reader must still see pure
    // batch-0 state, because nothing flips until the pointer commit
    val rows1 = rows0.map { case (w, t, a, _, _) => (w, t, a, 2L, "t1") }
    val staged = sink.stage(mkBatch(rows1), 1L)
    assert(staged.isDefined)
    assert(sink.snapshot(spark) == s0,
      "staged-but-uncommitted merge leaked into a reader")

    // COMMIT: one atomic pointer flip — now all-new
    sink.commit(spark, staged.get)
    val s1 = sink.snapshot(spark)
    assert(s1 == rows1.map { case (w, t, a, c, tm) => (w, t, a) -> (c, tm) }.toMap)

    // racing reader: snapshots taken while 6 further merges commit
    // must each equal SOME committed generation — never a mix of two
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[(String, String, String), (Long, String)]]()
    committed.add(s1)
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[(String, String, String), (Long, String)]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => while (!stop.get) observed.add(sink.snapshot(spark)))
    reader.start()
    for (g <- 2 to 7) {
      val rows = rows0.map { case (w, t, a, _, _) => (w, t, a, g.toLong, s"t$g") }
      sink.write(mkBatch(rows), g.toLong)
      committed.add(rows.map { case (w, t, a, c, tm) => (w, t, a) -> (c, tm) }.toMap)
    }
    stop.set(true)
    reader.join(30000)
    import scala.jdk.CollectionConverters._
    val states = committed.asScala.toSet
    val snaps = observed.asScala.toSet
    snaps.foreach { snap =>
      assert(states.contains(snap),
        s"racing reader observed a torn state: ${snap.values.map(_._1).toSeq.distinct.sorted}")
    }
    assert(snaps.nonEmpty)
  }

  test("late-branch production form writes distributed parquet, replay-idempotent") {
    import org.apache.spark.sql.functions._
    val lateDir = tmpDir() + "/late"
    val router = new ReportPipeline.LateRouter(
      _ => fail("driver-side sink must not be used when latePath is set"),
      latePath = Some(lateDir))
    def batch(ts: String*) = ts.toSeq.toDF("s")
      .select(to_timestamp(col("s")).as("ts"), lit("shelf").as("type"),
        lit("AREA_US").as("area"))
    // batch 0 establishes the high watermark
    router.route(batch("2018-01-01 10:02:00"), 0L)
    // batch 1 carries one record >40s behind a closed window
    router.route(batch("2018-01-01 10:00:20", "2018-01-01 10:01:59"), 1L)
    val late = spark.read.parquet(s"$lateDir/batch_id=1")
      .collect().map(_.getString(0)).toSeq
    assert(late == Seq("2018-01-01 10:00:20\tshelf\tAREA_US"))
    // replaying the batch overwrites the same subdir — no duplication
    router.route(batch("2018-01-01 10:00:20", "2018-01-01 10:01:59"), 1L)
    assert(spark.read.parquet(s"$lateDir/batch_id=1").count() == 1)

    // the production form is restart-consistent OUT OF THE BOX: the
    // watermark piggybacks on latePath, so a fresh router on the same
    // dir flags a >40s-behind record on its FIRST batch
    val router2 = new ReportPipeline.LateRouter(
      _ => fail("driver-side sink must not be used when latePath is set"),
      latePath = Some(lateDir))
    router2.route(batch("2018-01-01 10:00:15"), 2L)
    assert(spark.read.parquet(s"$lateDir/batch_id=2").count() == 1,
      "restarted production router lost the piggybacked watermark")

    // the piggybacked watermark file must be INVISIBLE to dataset
    // reads: consuming the whole late branch as a partitioned dataset
    // (the batch_id= layout's purpose) still works — the underscore
    // prefix keeps _max_ts_micros out of partition discovery
    assert(spark.read.parquet(lateDir).count() == 2,
      "watermark file broke whole-directory reads of the late branch")
  }

  test("end-to-end: streaming agg through the durable sink equals the in-memory sink (K2)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table)
    val q = ReportPipeline.startAggDurable(
      input.toDF().withColumnRenamed("value", "line"), tmpDir(), sink)

    def l(dt: String, tp: String = "shelf") =
      s"""{"dt":"$dt","type":"$tp","username":"u","area":"AREA_US"}"""

    input.addData(l("2018-01-01 10:00:01"), l("2018-01-01 10:00:05"),
      l("2018-01-01 10:00:30"))
    q.processAllAvailable()
    val k1 = ("2018-01-01 10:00:00", "shelf", "AREA_US")
    assert(sink.snapshot(spark)(k1) == (2L, "2018-01-01 10:00:05"))

    // within-lateness record re-fires the window; the durable key is
    // overwritten in place on disk
    input.addData(l("2018-01-01 10:00:09"))
    q.processAllAvailable()
    q.stop()
    val snap = sink.snapshot(spark)
    assert(snap(k1) == (3L, "2018-01-01 10:00:09"))
    assert(snap(("2018-01-01 10:00:30", "shelf", "AREA_US")) == (1L, "2018-01-01 10:00:30"))
  }

  test("one file per bucket generation: each staged bucket is written by one task") {
    val table = tmpDir() + "/report"
    val sink = new ReportPipeline.DurableKeyedUpsertSink(table, nBuckets = 16)
    val rows0 = (0 until 40).map(i =>
      (f"2018-01-01 10:$i%02d:00", Seq("shelf", "black", "seach")(i % 3),
        "AREA_US", 1L, "t0"))
    // spread over every input partition, so an unshuffled write would
    // open a writer per (task, bucket) pair
    sink.write(mkBatch(rows0).repartition(4), 0L)
    // batch 1 merges half the keys with the generation-0 rows
    sink.write(mkBatch(rows0.take(20).map { case (w, t, a, _, _) => (w, t, a, 2L, "t1") })
      .repartition(4), 1L)
    val gens = new java.io.File(table, "data").listFiles()
      .filter(_.getName.startsWith("bucket=")).flatMap(_.listFiles())
    assert(gens.exists(_.getName == "gen=0") && gens.exists(_.getName == "gen=1"))
    for (g <- gens) {
      val files = g.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${g.getParentFile.getName}/${g.getName} holds ${files.length} parquet files")
    }
    assert(sink.snapshot(spark).size == 40)
  }

  test("the aggregate's stateful plan executes once per trigger (state metrics are not multiplied)") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val sink = new ReportPipeline.DurableKeyedUpsertSink(tmpDir() + "/report")
    val q = ReportPipeline.startAggDurable(
      input.toDF().withColumnRenamed("value", "line"), tmpDir(), sink)
    val t0 = java.time.LocalDateTime.parse("2018-01-01T10:00:00")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val types = Seq("shelf", "black", "seach")
    val areas = Seq("AREA_US", "AREA_CT")
    // batch k: ten on-time records from t0 + 50k s, 3 s apart, plus
    // (k > 0) one record 25 s behind that start, within the lateness
    // bound, which updates a window an earlier batch opened. Each
    // batch's start is past the last one's 40 s watermark, so windows
    // are evicted as the batches go, and no record is dropped late.
    val batches: Seq[Seq[(Long, String, String)]] = (0 until 4).map { k =>
      val onTime = (0 until 10).map(i => (50L * k + 3L * i, types(i % 3), areas(i % 2)))
      if (k == 0) onTime else onTime :+ ((50L * k - 25, types(0), areas(0)))
    }
    def line(r: (Long, String, String)) =
      s"""{"dt":"${t0.plusSeconds(r._1).format(fmt)}","type":"${r._2}","username":"u","area":"${r._3}"}"""
    batches.foreach { b => input.addData(b.map(line): _*); q.processAllAvailable() }
    q.stop()

    // keys the state holds after data batch k: every window seen so far
    // whose end is past the batch's watermark (the max event time of
    // the batches before it, less 40 s)
    def live(k: Int): Int = {
      val wm = if (k == 0) Long.MinValue else batches.take(k).flatten.map(_._1).max - 40
      batches.take(k + 1).flatten.map { case (t, tp, a) => (t / 30 * 30, tp, a) }
        .distinct.count { case (w, _, _) => w + 30 > wm }
    }
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val progress = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    val data = progress.filter(_.numInputRows > 0)
    assert(data.map(_.numInputRows) == batches.map(_.size.toLong))
    assert(live(3) < batches.flatten.map { case (t, tp, a) => (t / 30, tp, a) }.distinct.size,
      "the input must evict windows")
    for ((p, k) <- data.zipWithIndex) {
      val st = p.stateOperators.head
      assert(st.numRowsTotal == live(k), s"batch ${p.batchId}: state rows")
      assert(st.numRowsDroppedByWatermark == 0, s"batch ${p.batchId}: dropped rows")
    }
    for (p <- progress)
      assert(p.stateOperators.head.numStateStoreInstances == parts,
        s"batch ${p.batchId}: state store instances")
  }

  test("late router: an empty late branch leaves no dir; its observed max still advances the watermark") {
    import org.apache.spark.sql.functions._
    val lateDir = tmpDir() + "/late"
    val router = new ReportPipeline.LateRouter(
      _ => fail("driver-side sink must not be used when latePath is set"),
      latePath = Some(lateDir))
    def batch(ts: String*) = ts.toSeq.toDF("s")
      .select(to_timestamp(col("s")).as("ts"), lit("shelf").as("type"),
        lit("AREA_US").as("area"))
    router.route(batch("2018-01-01 10:02:00"), 0L)
    // no record of batch 1 is late, but its max advances the watermark
    router.route(batch("2018-01-01 10:01:59", "2018-01-01 10:03:00"), 1L)
    // an empty batch: the observed max is null and nothing is written
    router.route(batch(), 2L)
    for (b <- 1 to 2) assert(!new java.io.File(s"$lateDir/batch_id=$b").exists,
      s"the empty late branch of batch $b left a dir behind")
    // 10:01:45 (window end 10:02:00) is late only against batch 1's
    // max: 10:03:00 - 40 s, not 10:02:00 - 40 s
    router.route(batch("2018-01-01 10:01:45"), 3L)
    assert(spark.read.parquet(s"$lateDir/batch_id=3").collect().map(_.getString(0)).toSeq ==
      Seq("2018-01-01 10:01:45\tshelf\tAREA_US"))
  }
}
