package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table catalog for the harness star schema + events/documents/
  * embeddings tables (see TESTDATA.md / FIXTURES.md §B).
  *
  * All reads go through here so every operator benefits from the same
  * scan behavior: parquet vectorized reader, predicate pushdown and
  * column pruning happen automatically because callers express filters/
  * projections on the returned DataFrame (Catalyst pushes them into the
  * scan). At 100 TB the only change is the path and partitioning of the
  * underlying table — the operator code is unchanged.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  /** Inferred schema per table: (canonical path, the session's
    * `nanosAsLong` value) -> (file fingerprint, schema). Inference is a
    * footer-reading Spark job per read; a table whose files are
    * unchanged has the same schema, so every later read passes it via
    * `.schema(...)` and launches none. A rewritten table changes its
    * fingerprint and is inferred again, replacing the entry. The
    * `nanosAsLong` value is in the key because it changes how a
    * TIMESTAMP(NANOS) column decodes ([[events]] branches on it). */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, StructType)]()

  /** `spark.read.parquet(path)` with the schema inferred once per
    * [[schemaMemo]] entry. Inference runs outside the map's bin lock:
    * two racing first reads may both infer, and the later put wins
    * with the same schema. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path).getCanonicalFile
    val key = (f.getPath,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    val fp = graft.sources.Writers.fileFingerprint(f.getParent, f.getName)
    val schema = Option(schemaMemo.get(key)).filter(_._1 == fp).map(_._2)
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemaMemo.put(key, (fp, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** ONE-TIME session initializer for reading parquet TIMESTAMP(NANOS)
    * columns (only `events.ts` in this harness). Spark's vectorized
    * reader rejects nanos timestamps outright; the legacy flag makes
    * them readable as raw `long` nanos, which [[events]] then
    * floor-converts to microseconds. The flag is session-scoped conf —
    * calling this is an explicit, documented contract (it only changes
    * how TIMESTAMP(NANOS) parquet columns decode; no other read is
    * affected), idempotent per session, so a co-hosted library sharing
    * the session sees one deliberate init rather than a repeated
    * hidden side effect. It cannot be scoped tighter: the driver's
    * smoke test calls entry() with a session this library does not
    * construct, and un-setting after a *lazy* read would be unsound. */
  def initTimestampNanosRead(s: SparkSession): Unit =
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The events table's `ts` column has shipped in TWO parquet
    * layouts across harness generations: TIMESTAMP(NANOS) (readable
    * only via [[initTimestampNanosRead]], decoded as raw `long`
    * nanos) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (decoded
    * natively as TIMESTAMP_NTZ). Branch on the DECODED type, not the
    * path: either layout normalizes to a session-zone (UTC)
    * microsecond TimestampType, so every downstream operator and the
    * DuckDB oracle see identical instants. Nanos floor-convert uses
    * integer `div`, not `/` — epoch-nanos (~1.7e18) exceed double's
    * 2^53 exact-integer range; DuckDB truncates ns->us the same way. */
  def events(s: SparkSession, d: String): DataFrame = {
    initTimestampNanosRead(s)
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is pinned UTC everywhere (builder + Verify/Bench),
        // so NTZ wall-clock == UTC instant; the cast is exact
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private val partsuppCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** On-disk location of the derived partsupp table for a scale-factor
    * dir. Outside the (read-only) testdata tree; the oracle SQL reads
    * the same files by absolute path, so Spark and DuckDB always see
    * one identical table. The basename carries a digest of the FULL
    * path — two dirs sharing a basename (e.g. a temp copy named
    * sf0.01) must never share a derived table. */
  def partsuppPath(d: String): String = {
    // CANONICAL path (not absolute): getAbsolutePath keeps '..'/'.'
    // segments while the oracle harness's Python side normalizes them
    // — the digests would disagree for a non-canonical sfDir and the
    // partsupp queries would compare against a nonexistent path.
    // getCanonicalPath <-> os.path.realpath is the matched pair
    // (tools/oracle_check.py mirrors this line).
    val f = new java.io.File(d).getCanonicalFile
    s"/root/repo/data/partsupp/${f.getName}_${graft.sources.Writers.tableDigest(f.getPath)}"
  }

  /** Drop the JVM memo AND the on-disk files for a dir's derived
    * partsupp — for callers that delete the underlying corpus (the
    * bench's temp sf1 dir): a retained memo over deleted files would
    * make a later same-JVM partsupp() call return an empty path. */
  def dropPartsupp(d: String): Unit = {
    val p = partsuppPath(d)
    partsuppCache.remove(p)
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    ()
  }

  /** DERIVED partsupp: the harness testdata ships no partsupp.parquet,
    * which blocked the five partsupp-dependent TPC-H shapes (Q2, Q9,
    * Q11, Q16, Q20). The table is generated DETERMINISTICALLY from the
    * tables that do exist and is therefore identical for both engines:
    *  - referential integrity with the fact table: every DISTINCT
    *    (l_partkey, l_suppkey) pair that occurs in lineitem is a
    *    partsupp row (in TPC-H, lineitem draws its pairs FROM
    *    partsupp; deriving the superset restores that invariant);
    *  - coverage: plus 4 synthetic evenly-striped suppliers per part
    *    ((p + i*(S/4+1)) mod S, the TPC-H dbgen stripe), so parts that
    *    were never ordered still have suppliers (Q2/Q16 semantics);
    *  - attributes are pure key arithmetic (exact in both engines):
    *    ps_availqty  = (p*4 + s) mod 9999 + 1,
    *    ps_supplycost = ((p*7 + s*13) mod 90000)/100 + 1.
    * Built once per JVM per dir (computeIfAbsent blocks concurrent
    * callers), overwritten on first touch so a formula change never
    * leaves a stale table behind; both engines then READ the same
    * parquet, so no cross-engine arithmetic is involved in the table
    * itself. At 100 TB this materialization step is the same pattern
    * as the pair index: one distinct-shuffle over the fact table's
    * (part, supp) pairs, written bucketed next to the warehouse. */
  def partsupp(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = partsuppCache.computeIfAbsent(partsuppPath(d), { p =>
      val nSupp = supplier(s, d).count() // bounded scalar: |supplier|
      val step = nSupp / 4 + 1
      val pairs = lineitem(s, d)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .unionByName(part(s, d)
          .select(col("p_partkey").as("ps_partkey"),
            explode(expr("sequence(0, 3)")).as("i"))
          .select(col("ps_partkey"),
            pmod(col("ps_partkey") + col("i") * step, lit(nSupp))
              .cast("long").as("ps_suppkey")))
        .distinct()
      pairs.select(col("ps_partkey"), col("ps_suppkey"),
          (pmod(col("ps_partkey") * 4 + col("ps_suppkey"), lit(9999)) + 1)
            .cast("int").as("ps_availqty"),
          ((pmod(col("ps_partkey") * 7 + col("ps_suppkey") * 13, lit(90000)))
            .cast("double") / 100.0 + 1.0).as("ps_supplycost"))
        .write.mode("overwrite").parquet(p)
      p
    })
    readParquet(s, path)
  }
}
