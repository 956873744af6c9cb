package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.ReportJob

/** Streaming form of the reference DataReport job
  * (DataReport.java:48-204): audit-log JSON stream -> parse/filter ->
  * event-time 30 s tumbling window keyed by (type, area) -> count +
  * max-ts -> keyed upsert sink; too-late records -> side output.
  *
  * Watermark / lateness design (SURVEY §2.4 A4-A6 decision):
  * the reference separates bounded disorder (10 s watermark,
  * MyWatermark.java:14-21) from allowedLateness (30 s,
  * DataReport.java:140), re-firing windows for late-but-allowed
  * records. Spark has one knob, so the single watermark is widened to
  * 10 + 30 = 40 s and the query runs in UPDATE mode with a keyed
  * upsert sink: every within-lateness record re-emits its window with
  * updated counts, and the deterministic key (time, type, area)
  * overwrites the previous row — byte-for-byte the observable behavior
  * of the reference's ES sink, whose doc id IS that key
  * (DataReport.java:181). Records beyond watermark+lateness go to the
  * side output (A6), here a parallel stateless router.
  *
  * Scale: the windowed agg is an incremental partial+final hash
  * aggregate with state bounded by the watermark (unlike the
  * reference's buffer-the-whole-window WindowFunction); the only
  * shuffle is on the group keys. State store can be RocksDB
  * (R3: spark.sql.streaming.stateStore.providerClass).
  */
object ReportPipeline {

  val WatermarkDelay = "40 seconds" // 10 s disorder + 30 s lateness

  /** S1 proper for DataReport (reference `DataReport.java:73-88`,
    * topic `auditLog`): the kafka-wire DataSourceV2 consumer under
    * the same `line` contract as the test stand-ins. */
  def fromKafkaWire(spark: org.apache.spark.sql.SparkSession,
      host: String, port: Int, topic: String): DataFrame =
    spark.readStream.format("kafka-wire")
      .option("host", host).option("port", port.toString)
      .option("topic", topic)
      .load()
      .selectExpr("value AS line")

  /** The CONFIG-ONLY production swap for DataReport's consumer
    * ([[CleanPipeline.fromKafka]]'s twin — see its note on runtime
    * resolution and the auth surface). */
  def fromKafka(spark: org.apache.spark.sql.SparkSession,
      bootstrap: String, topic: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    CleanPipeline.fromKafka(spark, bootstrap, topic, extraOptions)

  /** Windowed aggregation over a streaming parsed frame — same
    * ReportJob.windowAgg grouping, with the streaming watermark. */
  def aggregate(parsed: DataFrame): DataFrame =
    ReportJob.windowAgg(parsed.withWatermark("ts", WatermarkDelay))

  /** Keyed upsert sink: last-write-wins per (wstart, type, area) —
    * the reference's deterministic-ES-id idempotence (K2). Exposed for
    * tests; production would MERGE into a keyed store the same way. */
  final class KeyedUpsertSink {
    val store = new ConcurrentHashMap[(String, String, String), (Long, String)]()
    def write(batch: DataFrame, batchId: Long): Unit =
      batch.collect().foreach { r =>
        store.put((r.getAs[String]("wstart"), r.getAs[String]("type"),
          r.getAs[String]("area")), (r.getAs[Long]("cnt"), r.getAs[String]("time")))
      }
    def snapshot: Map[(String, String, String), (Long, String)] = {
      import scala.jdk.CollectionConverters._
      store.asScala.toMap
    }
  }

  /** Everything [[DurableKeyedUpsertSink.commit]] needs, produced by
    * [[DurableKeyedUpsertSink.stage]] with NO reader-visible effect —
    * the seam DurableUpsertSpec's torn-visibility test drives
    * directly. (Top-level so the compiler need not capture an outer
    * sink reference in pattern tests.) */
  private[graft] final case class StagedUpsert(
    newGen: Long, newManifest: Map[Int, Long],
    priorGen: Option[Long], priorManifest: Map[Int, Long],
    affected: Set[Int])

  /** Durable keyed upsert (K2 production shape): MERGE each micro-batch
    * into a parquet table hash-partitioned by a stable bucket of the
    * key (wstart, type, area) — the on-disk counterpart of the
    * reference ES sink's deterministic doc id (DataReport.java:181).
    *
    * ==Manifest-pointer commit (round-19, VERDICT r18 #2)==
    *
    * The pre-r19 form dynamically overwrote `bucket=` partitions in
    * place, which exposed a concurrent reader to TORN multi-bucket
    * state mid-commit (some buckets new, some old — and files mid-
    * replacement inside a bucket). The ES sink it mirrors never has
    * this problem (per-doc upserts are atomic); the batch analog gets
    * it back with the catalog-atomic-swap discipline of
    * [[AnnIngest.rebuild]], generalized to per-bucket generations:
    *
    *   <table>/_manifests/gen-<g>    "bucket gen" line per live bucket
    *                                 (WRITE-ONCE; newest = current)
    *   <table>/data/bucket=<b>/gen=<g>/   parquet rows of b as of g
    *
    * Per batch (generation id = the Spark batch id, so replays land on
    * the same generation):
    *  1. MATERIALISE: execute the batch's plan once (an eager
    *     `localCheckpoint`); every later step, and the caller of
    *     [[write]], reads that copy. Under `foreachBatch` the plan is
    *     the windowed aggregate's whole incremental execution: source
    *     read, parse, partial aggregate, shuffle, state restore, save
    *     and commit. A `foreachBatch` body must execute a stateful
    *     frame EXACTLY once: zero executions skip the state commit
    *     the next trigger restores from, and each further action
    *     re-runs restore/save/commit (and inflates the progress's
    *     state metrics by that factor). Empty and no-data batches
    *     execute too — watermark eviction happens there.
    *  2. STAGE: bucket the rows, read back ONLY the affected buckets'
    *     CURRENT generation dirs (with the batch's schema, so no
    *     inference job; bounded: the affected list is <= nBuckets
    *     ints), anti-join out updated keys, union the new rows, write
    *     one partitionBy job into `_stage/` — repartitioned by bucket,
    *     so each bucket generation is one file — and rename each
    *     staged bucket dir to `data/bucket=b/gen=N`. Readers keep
    *     resolving the OLD manifest throughout.
    *  3. COMMIT: write manifest gen-N once (tmp + rename to a NEW
    *     name — an atomic create). Readers resolve "current" as the
    *     highest committed manifest, so a reader racing the merge
    *     observes all-old or all-new, never a mix (proven by
    *     DurableUpsertSpec's staged-visibility + racing-reader tests).
    *  4. GC: drop each affected bucket's generations OLDER than the
    *     one the prior manifest pinned (the prior generation itself is
    *     kept for readers that resolved the manifest list just before
    *     the commit — the AnnIngest invalidation posture: readers may
    *     lag at most one commit), and manifests older than the prior.
    *
    * Replay idempotence: a replayed batch recomputes the identical
    * merged content (the prior manifest already points affected
    * buckets at gen=N after a crash-after-commit, and merging batch
    * rows into their own committed result is a fixpoint); buckets the
    * prior manifest ALREADY pins at gen=N are not rewritten at all, so
    * a replay never tears the dirs a racing reader is resolving.
    *
    * At scale each batch touches at most nBuckets partitions and the
    * rewrite volume is bounded by the affected buckets' size, not the
    * table's; a transactional table format (Delta/Iceberg) IS this
    * manifest dance productized — swap in a real MERGE, keep the key
    * semantics. The actual ES CLIENT path (chunked `_bulk` upserts
    * over JDK HttpClient, same deterministic ids) is
    * [[EsUpsertSink]] — swap sinks, keep the keys. */
  final class DurableKeyedUpsertSink(tablePath: String, nBuckets: Int = 16) {
    import org.apache.hadoop.fs.{FileSystem, Path}

    private def root = new Path(tablePath)
    private def manifestDir = new Path(root, "_manifests")
    private def manifestPath(g: Long) = new Path(manifestDir, s"gen-$g")
    private def layoutPath = new Path(root, "_layout")
    private def bucketDir(b: Int, g: Long) =
      new Path(new Path(new Path(root, "data"), s"bucket=$b"), s"gen=$g")

    /** nBuckets is part of the table's PHYSICAL layout: a restart with
      * a different value rehashes keys across buckets while old-bucket
      * generations stay pinned in the manifest — an old row whose key
      * now hashes elsewhere is never anti-joined out, silently
      * duplicating it (round-20 / ADVICE r19 #3). The value is
      * recorded once in a write-once `_layout` file and every writer
      * validates it — the batchId-regression guard's refusal posture
      * applied to the layout parameter (mirroring the EOS sink's
      * '#np' marker). */
    private def checkLayout(fs: FileSystem): Unit =
      readText(fs, layoutPath) match {
        case Some(t) =>
          val prior = t.trim.toInt
          if (prior != nBuckets) throw new IllegalStateException(
            s"table '$tablePath' was created with nBuckets=$prior but " +
              s"this sink runs nBuckets=$nBuckets — rehashing keys " +
              "across buckets over pinned generations would duplicate " +
              s"rows; restore nBuckets=$prior or start a new table path")
        case None =>
          try writeOnce(fs, layoutPath, nBuckets.toString)
          catch { case e: java.io.IOException =>
            // lost a concurrent first-writer race: valid only if the
            // winner recorded the same layout
            if (!readText(fs, layoutPath).map(_.trim).contains(nBuckets.toString))
              throw e
          }
      }

    private def fsOf(s: SparkSession): FileSystem =
      root.getFileSystem(s.sessionState.newHadoopConf())

    private def readText(fs: FileSystem, p: Path): Option[String] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
          Some(Iterator.continually(r.readLine()).takeWhile(_ != null).mkString("\n"))
        } finally in.close()
      }

    /** tmp + rename into a NEW name — manifests are WRITE-ONCE, so
      * the rename is a plain atomic create (no overwrite): readers
      * listing the manifest dir see a generation either absent or
      * complete, never half-written. (A pointer file updated by
      * overwrite-rename was the first design; local-FS OVERWRITE
      * renames have a delete+recreate window the racing-reader spec
      * actually caught — write-once names have no such window.) */
    private def writeOnce(fs: FileSystem, target: Path, content: String): Unit = {
      val tmp = new Path(target.getParent, target.getName + ".tmp")
      fs.mkdirs(target.getParent)
      val out = fs.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, target)) throw new java.io.IOException(
        s"rename $tmp -> $target failed; the generation was NOT committed")
    }

    /** The current generation = the HIGHEST committed manifest name.
      * One dir listing; manifest files appear atomically (write-once
      * rename), so the max is always a complete, committed state. */
    private def currentGen(fs: FileSystem): Option[Long] = {
      val ms = try fs.listStatus(manifestDir) catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
      val gens = ms.iterator.map(_.getPath.getName)
        .filter(n => n.startsWith("gen-") && !n.endsWith(".tmp"))
        .map(_.stripPrefix("gen-").toLong)
      if (gens.isEmpty) None else Some(gens.max)
    }

    private def readManifest(fs: FileSystem, g: Long): Map[Int, Long] =
      readText(fs, manifestPath(g)).map(_.split("\n").iterator
        .map(_.trim).filter(_.nonEmpty).map { l =>
          val Array(b, bg) = l.split(" ")
          b.toInt -> bg.toLong
        }.toMap).getOrElse(Map.empty)

    private def bucketOf: Column =
      pmod(hash(col("wstart"), col("type"), col("area")), lit(nBuckets))

    /** Phase 1: write the merged affected-bucket generations to their
      * final dirs. Readers still resolve the old manifest — nothing
      * is visible until [[commit]] flips the pointer. */
    private[graft] def stage(batch: DataFrame, batchId: Long): Option[StagedUpsert] =
      stageOnce(batch, batchId)._2

    /** [[stage]], also returning the batch as materialised by its one
      * execution — what every later use of the batch must read. */
    private def stageOnce(batch: DataFrame, batchId: Long): (DataFrame, Option[StagedUpsert]) = {
      val s = batch.sparkSession
      val fs = fsOf(s)
      checkLayout(fs)
      // the batch's ONE execution: in foreachBatch this runs the
      // stateful plan (restore, update, evict, commit) — also on an
      // empty batch, whose commit the next trigger restores from
      val rows = batch.localCheckpoint(true)
      val withBucket = rows.withColumn("bucket", bucketOf)
      val affected = withBucket.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet
      if (affected.isEmpty) return (rows, None)
      val priorGen = currentGen(fs)
      // generation ids are Spark batch ids and "current" = max
      // manifest, so a batch id BELOW the committed maximum means the
      // checkpoint was reset over a kept table: its commits would be
      // invisible (never the max) and the next commit's GC would
      // discard them as stale — acknowledged data silently lost.
      // Refuse loudly instead (the EOS sink's layout-refusal posture);
      // a healthy lifecycle only ever replays batchId == currentGen.
      for (pg <- priorGen if batchId < pg)
        throw new IllegalStateException(
          s"table '$tablePath' is at generation $pg but this write is " +
            s"batch $batchId — the streaming checkpoint was reset over " +
            "a kept table; reset BOTH (new table path or wipe the " +
            "table) or restore the original checkpoint")
      val priorManifest = priorGen.map(readManifest(fs, _)).getOrElse(Map.empty)
      // replay-after-commit: buckets the prior manifest already pins
      // at THIS generation are durably committed with identical
      // content — rewriting them would tear dirs a racing reader is
      // resolving, for no state change
      val toWrite = affected.filterNot(b => priorManifest.get(b).contains(batchId))
      if (toWrite.nonEmpty) {
        // every dir read here is a generation BELOW batchId (toWrite
        // drops buckets pinned at it), and the write goes to _stage/
        // then renames to gen=batchId — no dir feeds the plan that
        // replaces it, so the merged frame needs no lineage cut. The
        // stored schema IS the batch schema: no inference job.
        val baseDirs = toWrite.toSeq.flatMap(b =>
          priorManifest.get(b).map(g => bucketDir(b, g).toString))
        val base =
          if (baseDirs.isEmpty) None
          else Some(s.read.schema(rows.schema).parquet(baseDirs: _*)
            .join(rows.select(col("wstart"), col("type"), col("area")),
              Seq("wstart", "type", "area"), "left_anti")
            .withColumn("bucket", bucketOf))
        val merged = base.map(_.unionByName(withBucket)).getOrElse(withBucket)
          .filter(col("bucket").isin(toWrite.toSeq: _*))
        val stageDir = new Path(new Path(root, "_stage"), s"gen-$batchId")
        // one task per bucket: one file per bucket generation
        merged.repartition(col("bucket")).write.mode("overwrite")
          .partitionBy("bucket").parquet(stageDir.toString)
        for (b <- toWrite) {
          val src = new Path(stageDir, s"bucket=$b")
          val dst = bucketDir(b, batchId)
          fs.delete(dst, true) // crash-stranded partial from a replay
          fs.mkdirs(dst.getParent)
          // Hadoop rename reports failure by RETURNING false — an
          // unchecked false here would let commit pin a manifest at a
          // bucket generation that does not exist on disk
          if (fs.exists(src)) {
            if (!fs.rename(src, dst)) throw new java.io.IOException(
              s"rename $src -> $dst failed; refusing to commit a manifest over a missing generation")
          } else fs.mkdirs(dst) // bucket emptied entirely (all keys updated away)
        }
        fs.delete(stageDir, true)
      }
      (rows, Some(StagedUpsert(batchId, priorManifest ++ affected.map(_ -> batchId),
        priorGen, priorManifest, affected)))
    }

    /** Phase 2: the atomic commit — ONE write-once manifest file
      * whose appearance flips readers to the new generation — then GC
      * of generations no committed-or-prior manifest references. A
      * replayed commit finds its manifest already present and writes
      * nothing (write-once), so replays never disturb the file a
      * racing reader is resolving. */
    private[graft] def commit(s: SparkSession, st: StagedUpsert): Unit = {
      val fs = fsOf(s)
      // replay-after-commit: the manifest already exists, meaning the
      // ORIGINAL commit ran to completion including its GC (which kept
      // the then-prior generation for lagging readers). A replay sees
      // priorGen == newGen, so re-running GC here would compute an
      // EMPTY keep-set beyond newGen and delete the generation the
      // original commit deliberately retained — full no-op instead.
      // (Crash between writeOnce and GC: the replay skips GC and one
      // extra generation accretes, bounded, reclaimed next commit.)
      if (fs.exists(manifestPath(st.newGen))) return
      writeOnce(fs, manifestPath(st.newGen),
        st.newManifest.toSeq.sorted.map { case (b, g) => s"$b $g" }.mkString("\n"))
      // GC: keep each affected bucket's new + immediately-prior
      // generation (racing readers lag at most one commit), drop older
      for (b <- st.affected; keep = Set(Some(st.newGen), st.priorManifest.get(b)).flatten) {
        val parent = bucketDir(b, st.newGen).getParent
        val gens = try fs.listStatus(parent) catch {
          case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus]
        }
        for (g <- gens; name = g.getPath.getName
             if name.startsWith("gen=") && !keep.contains(name.stripPrefix("gen=").toLong))
          fs.delete(g.getPath, true)
      }
      for (pg <- st.priorGen) {
        val ms = try fs.listStatus(manifestDir) catch {
          case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus]
        }
        for (m <- ms; name = m.getPath.getName
             if name.startsWith("gen-") && !name.endsWith(".tmp") &&
               name.stripPrefix("gen-").toLong < pg)
          fs.delete(m.getPath, false)
      }
    }

    /** Merge one micro-batch ([[stage]] then [[commit]]). Returns the
      * batch as materialised by its one execution: a caller that uses
      * the batch again must read the returned frame, because each
      * action on a `foreachBatch` frame re-runs its stateful plan. */
    def write(batch: DataFrame, batchId: Long): DataFrame = {
      val (rows, staged) = stageOnce(batch, batchId)
      staged.foreach(commit(batch.sparkSession, _))
      rows
    }

    /** The committed table as a DataFrame — resolves the newest
      * committed manifest ONCE, so the read is a consistent
      * generation even while a merge commits concurrently. BEFORE the
      * first commit the table has no schema (it is whatever the first
      * batch carries), so this returns a ZERO-COLUMN empty frame —
      * callers that reference columns must gate on `columns.isEmpty`
      * first, as [[snapshot]] does. */
    def read(s: SparkSession): DataFrame = {
      val fs = fsOf(s)
      val dirs = currentGen(fs).map(readManifest(fs, _)).getOrElse(Map.empty)
        .toSeq.map { case (b, g) => bucketDir(b, g).toString }
      if (dirs.isEmpty) s.emptyDataFrame
      else s.read.parquet(dirs: _*)
    }

    /** Current table state keyed like KeyedUpsertSink.snapshot. */
    def snapshot(s: SparkSession): Map[(String, String, String), (Long, String)] = {
      val df = read(s)
      if (df.columns.isEmpty) Map.empty
      else df.collect().map { r =>
        (r.getAs[String]("wstart"), r.getAs[String]("type"),
          r.getAs[String]("area")) -> (r.getAs[Long]("cnt"), r.getAs[String]("time"))
      }.toMap
    }
  }

  /** Side-output router (A6): stateless pass that tracks the observed
    * high watermark and diverts exactly the records the windowed agg
    * will never count. The agg drops PER WINDOW (a row is lost iff its
    * window's end <= watermark), so the router classifies on the
    * window end too — a per-row `ts < watermark` test would
    * double-report rows in the final ~30 s of a still-open window
    * (counted by the agg AND flagged late). The reference sends these
    * to a `lateLog` Kafka topic as TSV (DataReport.java:156-161);
    * `lateSink` receives the same formatted lines.
    *
    * `watermarkPath`: the observed max is PERSISTED (one 8-byte file,
    * atomic tmp+rename per advancing batch) and restored on
    * construction. Without it, a restarted router reports nothing
    * late until it re-observes a max — while the agg side's
    * CHECKPOINTED watermark keeps dropping those rows, so the two
    * branches disagree across the restart window. (The reference's
    * `MyWatermark` resets too — reference-faithful — but our agg side
    * does NOT reset, so the durable form is the consistent one.)
    * Defaults to piggybacking on `latePath` when that is set — the
    * production (distributed-branch) form is restart-consistent out
    * of the box. Two details carry that claim safely:
    *  - the file is `_max_ts_micros` — the underscore prefix keeps it
    *    (and its tmp sibling) invisible to Spark/Hadoop file listing,
    *    so `spark.read.parquet(latePath)` over the `batch_id=` layout
    *    keeps working (a bare-named root file would break partition
    *    discovery);
    *  - all IO goes through the Hadoop FileSystem of the dir's URI
    *    (restored lazily on the first batch, where a session is in
    *    hand), so a remote latePath (hdfs://, s3a://) persists where
    *    the parquet goes — java.nio would have written a bogus local
    *    path and silently lost the restart consistency.
    * Replay-idempotent: a replayed batch rewrites the same max. */
  final class LateRouter(lateSink: Row => Unit, latePath: Option[String] = None,
      watermarkPath: Option[String] = None) {
    private val wmDir: Option[String] = watermarkPath.orElse(latePath)
    private val maxTsMicros = new AtomicLong(Long.MinValue)
    private val restoredOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    private def wmTarget(dir: String) = new org.apache.hadoop.fs.Path(dir, "_max_ts_micros")

    private def restore(hc: org.apache.hadoop.conf.Configuration): Unit =
      wmDir.foreach { dir =>
        val target = wmTarget(dir)
        val fs = target.getFileSystem(hc)
        // a crash between tmp-create and rename strands the tmp file;
        // it is listing-invisible (underscore) but would accrete over
        // restarts — sweep strays (incl. per-batch-named ones from
        // older layouts) before resuming
        try {
          val strays = fs.globStatus(
            new org.apache.hadoop.fs.Path(dir, "_max_ts_micros.tmp*"))
          if (strays != null) strays.foreach(s => fs.delete(s.getPath, false))
        } catch { case _: java.io.FileNotFoundException => () }
        if (fs.exists(target)) {
          val in = fs.open(target)
          val line = try new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8")).readLine()
          finally in.close()
          Option(line).map(_.trim).filter(_.nonEmpty)
            .foreach(s => maxTsMicros.set(s.toLong))
        }
      }

    private def persist(hc: org.apache.hadoop.conf.Configuration): Unit =
      wmDir.foreach { dir =>
        val target = wmTarget(dir)
        // ONE fixed tmp name, created with overwrite: route() runs
        // serially per batch, so there is no concurrent persist to
        // collide with, and a crash-stranded tmp is simply overwritten
        // by the next persist instead of accreting per batch id
        // (restore() additionally sweeps strays on restart)
        val tmp = new org.apache.hadoop.fs.Path(dir, "_max_ts_micros.tmp")
        val fs = target.getFileSystem(hc)
        fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
        val out = fs.create(tmp, true)
        try out.write(maxTsMicros.get().toString.getBytes("UTF-8"))
        finally out.close()
        // OVERWRITE rename: atomic swap on HDFS/local; object stores
        // degrade to copy+delete, which is safe here — the value is a
        // monotone max, so a stale read only widens re-reporting
        org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, hc)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    private val windowUs = 30L * 1000000
    def route(batch: DataFrame, batchId: Long): Unit = {
      val hadoopConf = batch.sparkSession.sessionState.newHadoopConf()
      if (restoredOnce.compareAndSet(false, true)) restore(hadoopConf)
      val wm = maxTsMicros.get()
      val tsUs = unix_micros(col("ts"))
      // one pass over the batch: the late branch's action also yields
      // the batch max (and the late count) through an observation
      val batchMax: Option[Long] =
        // no watermark yet (first batch): nothing can be late — and
        // wm - 40s would underflow Long.MinValue into "everything late"
        if (wm == Long.MinValue)
          Option(batch.agg(max(tsUs)).head().get(0)).map(_.asInstanceOf[Long])
        else {
          val late = (expr(s"unix_micros(ts) div $windowUs") + 1) * windowUs <=
            wm - 40L * 1000000
          val seen = Observation(s"late_router_$batchId")
          val lateDf = batch
            .observe(seen, max(tsUs).as("max"), count_if(late).as("late"))
            .filter(late)
            .select(concat_ws("\t",
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
              col("type"), col("area")).as("line"))
          latePath match {
            // production form: the late branch is written DISTRIBUTED
            // (never collected — a replay storm of late records must
            // not land on the driver); one overwritten subdir per
            // batch id keeps replays idempotent
            case Some(p) =>
              val dir = new org.apache.hadoop.fs.Path(s"$p/batch_id=$batchId")
              lateDf.write.mode("overwrite").parquet(dir.toString)
              // skip empty batches: a long-running stream with rare
              // late data must not accumulate one tiny dir per batch
              if (seen.get("late") == 0L) dir.getFileSystem(hadoopConf).delete(dir, true)
            case None =>
              lateDf.collect().foreach(lateSink)
          }
          Option(seen.get("max")).map(_.asInstanceOf[Long])
        }
      batchMax.foreach { m =>
        val advanced = maxTsMicros.getAndUpdate(cur => math.max(cur, m)) < m
        // durable watermark: written AFTER the late branch (a crash
        // between the two re-reports some lates on replay — at-least
        // -once, never silently dropped), only when it advanced
        if (advanced) persist(hadoopConf)
      }
    }
  }

  /** Start the windowed-agg query (update mode, keyed upsert). */
  def startAgg(
      lines: DataFrame,
      checkpointDir: String,
      sink: KeyedUpsertSink,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    Gate.start(aggregate(ReportJob.parse(lines)), checkpointDir, trigger, "update")(
      sink.write)

  /** Start the windowed-agg query against the DURABLE keyed upsert
    * sink — the production K2 shape (partition-overwrite parquet
    * MERGE, replay-idempotent on disk). */
  def startAggDurable(
      lines: DataFrame,
      checkpointDir: String,
      sink: DurableKeyedUpsertSink,
      trigger: Trigger = Trigger.ProcessingTime(0),
      // failure-injection seam (CrashConsistencySpec): runs AFTER the
      // durable write but BEFORE Spark commits the batch to the
      // checkpoint — throwing here is exactly the crash window the
      // exactly-once claim must survive. Receives the batch frame so
      // the injector can target data-carrying batches (watermark
      // advancement schedules empty batches too) — the frame the sink
      // materialised, so reading it does not re-run the stateful plan.
      afterBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    Gate.start(aggregate(ReportJob.parse(lines)), checkpointDir, trigger, "update")(
      (df, id) => afterBatch(sink.write(df, id), id))

  /** Start the late-record side-output query. */
  def startLateRouter(
      lines: DataFrame,
      checkpointDir: String,
      router: LateRouter,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    Gate.start(ReportJob.parse(lines), checkpointDir, trigger)(router.route)
}
