package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` infers a table's schema once per (path, file
  * fingerprint, `nanosAsLong` value) and reads with `.schema(...)`
  * after that: a repeat read of an unchanged table launches no
  * schema-inference (`parquet at`) job, a rewritten table is inferred
  * again, and `Tables.events` still normalizes both `ts` layouts. */
class TablesSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Schema-inference jobs started while `f` runs. */
  private def inferenceJobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.startsWith("parquet at"))) n.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graft.TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  private def withNanos[T](v: String)(f: => T): T = {
    val prev = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, v)
    try f finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  private val dirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft-schema-memo").toFile
    dirs += d
    d.toString
  }

  override def afterAll(): Unit = {
    dirs.foreach(new scala.reflect.io.Directory(_).deleteRecursively())
    super.afterAll()
  }

  test("a second load of an unchanged table launches no inference job") {
    val d = tempDir()
    spark.range(5).selectExpr("id AS k", "id * 2 AS v")
      .write.parquet(s"$d/t.parquet")
    assert(inferenceJobs(Tables.load(spark, d, "t")) == 1)
    val again = inferenceJobs {
      val df = Tables.load(spark, d, "t")
      assert(df.columns.toSeq == Seq("k", "v"))
    }
    assert(again == 0, s"repeat load inferred the schema again ($again jobs)")
    assert(Tables.load(spark, d, "t").agg(sum("v")).head().getLong(0) == 20L)
  }

  test("a rewritten table is inferred again and its new column reads") {
    val d = tempDir()
    spark.range(3).selectExpr("id AS k").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("k"))
    spark.range(3).selectExpr("id AS k", "id + 10 AS extra")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    var cols = Seq.empty[String]
    val jobs = inferenceJobs { cols = Tables.load(spark, d, "t").columns.toSeq }
    assert(jobs == 1, s"rewritten table not inferred again ($jobs jobs)")
    assert(cols == Seq("k", "extra"))
    assert(Tables.load(spark, d, "t").agg(sum("extra")).head().getLong(0) == 33L)
  }

  /** Epoch microseconds of the events written below. */
  private val micros = Seq(1700000000123456L, 1700000001654321L)

  private def assertEventsTs(d: String): Unit = {
    val ev = Tables.events(spark, d)
    assert(ev.schema("ts").dataType == TimestampType, ev.schema.toString)
    val got = ev.orderBy("event_id").select(unix_micros(col("ts")))
      .as[Long].collect().toSeq
    assert(got == micros)
  }

  test("events: MICROS layout reads as TimestampType, one entry per nanosAsLong value") {
    val d = tempDir()
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$d/events.parquet")
    assertEventsTs(d)
    // events sets nanosAsLong=true; the other value is its own entry
    assert(inferenceJobs(withNanos("false")(Tables.load(spark, d, "events"))) == 1)
    assert(inferenceJobs(withNanos("true")(Tables.load(spark, d, "events"))) == 0)
    assert(inferenceJobs(withNanos("false")(Tables.load(spark, d, "events"))) == 0)
    assertEventsTs(d)
  }

  test("events: NANOS layout reads as TimestampType through the memo") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Spark cannot write TIMESTAMP(NANOS); parquet-mr's example writer can
    val schema = MessageTypeParser.parseMessageType(
      "message events { optional int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val d = tempDir()
    val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet/part-0.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", us * 1000 + 999))
    } finally w.close()
    withNanos("true") {
      assert(Tables.load(spark, d, "events").schema("ts").dataType == LongType)
    }
    assertEventsTs(d)
    assert(inferenceJobs(assertEventsTs(d)) == 0)
  }
}
