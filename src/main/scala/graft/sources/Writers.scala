package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-side layout tools — the storage half of the scan-reduction
  * story. How a table is WRITTEN decides which query-side machinery
  * can engage:
  *
  *  - day-partitioned directories → partition pruning (a time-range
  *    filter skips whole directories before any I/O; proven by
  *    `PartitionPruningSpec`, which asserts the pruned scan reads
  *    exactly one file);
  *  - key-bucketed + sorted tables → co-located sort-merge joins with
  *    zero shuffle on either side (`BucketingSpec`, `BucketedIvfSpec`);
  *  - both compose: a 100 TB fact table is typically day-partitioned
  *    AND bucketed on its join key.
  *
  * These are thin, opinionated wrappers — the value is pinning the
  * layout contract (one deterministic partition column format, sorted
  * buckets) in one place rather than per call site.
  */
object Writers {

  /** Materialize `df` as a day-partitioned parquet table derived from
    * `tsCol` (UTC, `yyyy-MM-dd` directory values). `filesPerDay`
    * controls the file fan-out inside each partition directory
    * (1 for small reference data; higher for parallel-write
    * throughput at scale). */
  def writeDayPartitioned(
      df: DataFrame,
      tsCol: String,
      path: String,
      filesPerDay: Int = 1): Unit =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .coalesce(math.max(1, filesPerDay))
      .write.partitionBy("day").mode("overwrite").parquet(path)

  /** Materialize `df` as a bucketed, in-bucket-sorted table in the
    * session catalog — the layout that lets repeated equi-joins on
    * `key` plan without a shuffle exchange on either side. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write.bucketBy(buckets, key).sortBy(key).mode("overwrite").saveAsTable(table)

  /** [[writeBucketed]] plus stale-state cleanup: a warehouse directory
    * left by a previous JVM (the in-memory catalog forgets the table,
    * the files remain) fails saveAsTable with LOCATION_ALREADY_EXISTS —
    * drop both the catalog entry and the directory first. The
    * freshness contract of every build-at-start bucketed table
    * (Dedup.pairIndex, DedupGate's corpus content tables). */
  def replaceBucketed(
      s: org.apache.spark.sql.SparkSession,
      df: DataFrame, key: String, buckets: Int, table: String): Unit = {
    dropWithLocation(s, table)
    writeBucketed(df, key, buckets, table)
  }

  /** Replace an UNBUCKETED saved table (e.g. a persisted model frame):
    * same stale-location hygiene as [[replaceBucketed]] — a dropped
    * catalog entry can leave its warehouse directory behind (prior
    * session, crashed drop), and a bare saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS. */
  def replaceTable(
      s: org.apache.spark.sql.SparkSession, df: DataFrame, table: String): Unit = {
    dropWithLocation(s, table)
    df.write.saveAsTable(table)
  }

  /** Drop the catalog entry AND its (possibly orphaned) warehouse
    * directories — the managed one and every [[replaceGenerational]]
    * generation. Package-visible: rename-swap maintenance (e.g. the ANN
    * rebuild) must clear a PREVIOUS JVM's orphaned target location —
    * this session's in-memory catalog has no entry for it, so a bare
    * DROP TABLE IF EXISTS is a no-op while ALTER ... RENAME still
    * validates the location as free. */
  private[graft] def dropWithLocation(
      s: org.apache.spark.sql.SparkSession, table: String): Unit = {
    dropCatalogEntry(s, table)
    val wh = warehouseDir(s)
    (new java.io.File(wh, table) +: generations(wh, table).map(_._2))
      .foreach(new scala.reflect.io.Directory(_).deleteRecursively())
  }

  /** [[replaceBucketed]] for a table that frames taken earlier may still
    * read: each version is written as an EXTERNAL table into a fresh
    * generation directory, `<warehouse>/<table>.g<n>`. Dropping the
    * catalog entry (a plain DROP TABLE) leaves an external table's files,
    * so a frame resolved against the replaced version keeps reading it
    * while this call writes the next one. The replaced generation is
    * kept; older ones are deleted here, so a frame reads across one
    * replacement, not two. */
  private[graft] def replaceGenerational(
      s: org.apache.spark.sql.SparkSession,
      df: DataFrame, key: String, buckets: Int, table: String): Unit = {
    dropCatalogEntry(s, table)
    val wh = warehouseDir(s)
    new scala.reflect.io.Directory(new java.io.File(wh, table)).deleteRecursively()
    val old = generations(wh, table)
    val next = old.lastOption.fold(1L)(_._1 + 1)
    df.write.bucketBy(buckets, key).sortBy(key)
      .option("path", new java.io.File(wh, s"$table.g$next").getPath)
      .mode("overwrite").saveAsTable(table)
    old.dropRight(1).foreach(g => new scala.reflect.io.Directory(g._2).deleteRecursively())
  }

  /** Drop a table's catalog entry. The files of an EXTERNAL table
    * ([[replaceGenerational]]) stay, so frames already resolved against
    * it keep reading them. */
  private[graft] def dropCatalogEntry(
      s: org.apache.spark.sql.SparkSession, table: String): Unit =
    s.sql(s"DROP TABLE IF EXISTS ${quoted(table)}")

  /** The [[replaceGenerational]] directories of `table`, oldest first. */
  private def generations(wh: String, table: String): Seq[(Long, java.io.File)] = {
    val prefix = s"$table.g"
    Option(new java.io.File(wh).listFiles()).toSeq.flatten.flatMap { f =>
      val n = f.getName.stripPrefix(prefix)
      if (f.getName.startsWith(prefix) && n.nonEmpty && n.forall(_.isDigit))
        Some(n.toLong -> f)
      else None
    }.sortBy(_._1)
  }

  private def warehouseDir(s: org.apache.spark.sql.SparkSession): String = {
    val whUri = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
    if (whUri.getScheme == null) whUri.getPath else new java.io.File(whUri).getPath
  }

  /** Backtick-quote a table identifier for raw-SQL interpolation —
    * hostile or reserved names must not break (or inject into) the
    * DDL the maintenance paths issue. */
  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** 8-hex-char md5 digest for deterministic per-corpus table names —
    * the ONE naming scheme shared by every build-at-start bucketed
    * table (pair index, gate content tables), so the mapping from
    * corpus dir to table can never drift between them. */
  def tableDigest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Filesystem fingerprint of one parquet table directory under `d`
    * (name:length:mtime per file, sorted) — driver metadata only, no
    * Spark job. The ONE definition behind every dir-keyed memo and
    * saved-artifact staleness guard (DSIR/BM25/classifier/Graph memos,
    * ANN artifact mounts): a regenerated table changes it and forces a
    * rebuild. Previously four verbatim copies (round-16 review #7) —
    * a staleness-rule fix applied to one copy would have left the
    * other memos serving stale models. */
  def fileFingerprint(d: String, table: String): String = {
    val f = new java.io.File(d, table)
    val fs = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    fs.filter(_.isFile).sortBy(_.getName)
      .map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString(",")
  }

  /** Compact a bucketed table in place: every append (e.g.
    * [[graft.operators.Dedup.appendPairs]]) leaves one file set per
    * bucket, so a long-lived pair index accretes small files — the
    * classic streaming-maintenance tax. This rewrites the table down
    * to ONE file per non-empty bucket while keeping the exact bucket
    * spec (read from catalog metadata, so callers cannot mis-state
    * it): `repartition(n, key)` uses the same murmur3-pmod hash as the
    * bucketing layer, aligning tasks 1:1 with buckets.
    *
    * The rewrite goes through a temp table + a rename-based swap
    * (Spark cannot overwrite a table it is reading). No step ever
    * deletes the only copy: the original is renamed aside before the
    * compacted table takes its name and dropped only after the swap —
    * a crash mid-swap leaves all rows in `<table>_compacting` or
    * `<table>_old`, recoverable with one catalog rename. Consumers'
    * plans are unchanged: the bucket spec survives, so zero-exchange
    * reads keep planning zero-exchange.
    *
    * SINGLE-WRITER, PAUSED-READER contract (callers): the catalog swap
    * is two statements, so a concurrent reader can observe the table
    * name missing mid-swap — run compaction only from the one
    * maintenance owner of the table (the appendPairs writer), between
    * its own reads. Concurrent readers in the SAME SparkSession no
    * longer risk planning unbucketed scans: the bucketing flag is
    * flipped in a cloned session, never the caller's. */
  def compactBucketed(s: org.apache.spark.sql.SparkSession, table: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val spec = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).bucketSpec
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
    val bCols = spec.bucketColumnNames
    val tmp = table + "_compacting"
    s.sql(s"DROP TABLE IF EXISTS ${quoted(tmp)}")
    // read with bucketed scanning OFF: the bucketed scan advertises
    // the very HashPartitioning the repartition below asks for, so the
    // planner elides the exchange — but the scan's ACTUAL partitions
    // are size-packed file splits (many small append files), leaving
    // tasks with mixed buckets and one output file per (task, bucket).
    // A plain scan forces the shuffle, aligning tasks 1:1 with buckets
    // (repartition and the bucket writer share murmur3-pmod). The flag
    // is scoped to a CLONED session (same SparkContext + shared
    // catalog, isolated SQL conf), so concurrent readers of the
    // caller's session keep planning bucketed scans throughout.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.bucketing.enabled", "false")
    val w = s2.table(table)
      .repartition(spec.numBuckets, bCols.map(col): _*)
      .write.bucketBy(spec.numBuckets, bCols.head, bCols.tail: _*)
    (spec.sortColumnNames match {
      case h +: t => w.sortBy(h, t: _*)
      case _ => w
    }).mode("overwrite").saveAsTable(tmp)
    val old = table + "_old"
    s.sql(s"DROP TABLE IF EXISTS ${quoted(old)}")
    s.sql(s"ALTER TABLE ${quoted(table)} RENAME TO ${quoted(old)}")
    s.sql(s"ALTER TABLE ${quoted(tmp)} RENAME TO ${quoted(table)}")
    s.sql(s"DROP TABLE ${quoted(old)}")
  }
}
