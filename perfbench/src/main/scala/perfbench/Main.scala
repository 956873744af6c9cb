package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** What every workload hands to the harness. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String]) {
  val counters = new SparkCounters
  val progress = new StreamProgress
  val jvm = new JvmProbe
  val tracer = new Tracer(opts("trace") == "1")
  spark.sparkContext.addSparkListener(counters)
  spark.streams.addListener(progress)

  def cores: Int = opts("cores").toInt
  def seed: Long = opts("seed").toLong
  def seconds: Double = opts("seconds").toDouble
  def root: String = opts("root")
  def input: String = opts("input")
  def outDir: String = s"$root/out"
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  def setPhase(p: String): Unit = spark.sparkContext.setLocalProperty("perfbench.phase", p)
  def now: Long = System.currentTimeMillis()

  def writeLines(name: String, lines: Iterable[String]): Unit = {
    new File(outDir).mkdirs()
    val w = new PrintWriter(new File(outDir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** The timed region of a workload: wall clock, process CPU, stages, heap. */
final case class Region(startMs: Long, endMs: Long, cpuNs: Long, peakHeapBytes: Long) {
  def wallMs: Double = (endMs - startMs).toDouble
}

object Region {
  def measure(ctx: Ctx)(body: => Unit): Region = {
    ctx.jvm.start()
    val cpu0 = ctx.jvm.processCpuNs
    val t0 = ctx.now
    body
    val t1 = ctx.now
    val cpu1 = ctx.jvm.processCpuNs
    val peak = ctx.jvm.stop()
    ctx.drain()
    Region(t0, t1, cpu1 - cpu0, peak)
  }
}

/** A workload's result: the timed ops, and metrics as (name, value, unit). */
final case class Result(firstOpMs: Long, attempted: Long, rounds: Int,
    endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
    notes: Seq[(String, String)])

/** Harness entry point: `--workload w --seed n --seconds s --trace 0|1
  * --root dir --input dir --cores c --result file [--spans file]`. Writes
  * one JSON object to the result file; the checks run afterwards, over
  * what the workload left under `<root>/out`. `--workload oracle_sql
  * --result file` writes the oracle SQL of the query list instead. */
object Main {
  val PerLayerNames: Seq[(String, String)] = Seq(
    "tables.schema_jobs" -> "count", "tables.input_mb" -> "MB",
    "operators.frame_ms" -> "ms", "operators.frame_jobs" -> "count",
    "operators.plan_ms" -> "ms", "operators.exec_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.core_busy" -> "ratio",
    "jvm.non_task_cpu_s" -> "s",
    "artifacts.setup_tables" -> "count", "artifacts.timed_tables" -> "count",
    "artifacts.warehouse_mb" -> "MB",
    "wire.preload_s" -> "s", "source.offsets_ms" -> "ms",
    "stream.batches" -> "count", "stream.planning_ms" -> "ms",
    "stream.commit_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "state.rows" -> "count", "state.mb" -> "MB", "state.commit_ms" -> "ms",
    "sink.upsert_ms" -> "ms", "sink.late_route_ms" -> "ms", "sink.upsert_table_mb" -> "MB",
    "gate.process_ms" -> "ms", "gate.process_max_ms" -> "ms",
    "gate.verify_absorb_ms" -> "ms", "gate.content_rows" -> "count", "gate.hits" -> "count",
    "sink.eos_write_ms" -> "ms", "sink.eos_records" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts("workload") == "oracle_sql") return writeOracleSql(opts("result"))
    val spark = Session.build(opts("cores").toInt, opts("root"))
    val ctx = new Ctx(spark, opts)
    val res = opts("workload") match {
      case "query_mix" => QueryMix.run(ctx)
      case "stream_mix" => StreamMix.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    opts.get("spans").foreach(ctx.tracer.write)
    writeResult(opts("result"), res, ctx.tracer.count)
    spark.stop()
  }

  /** The oracle SQL of every listed query, as JSON, for perfbench/oracle.py. */
  private def writeOracleSql(path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql
    val json = QueryMix.Queries.map(n => s"${q(n)}: ${q(sql(n))}").mkString("{", ", ", "}")
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(json) finally w.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def writeResult(path: String, r: Result, spans: Int): Unit = {
    val layer = PerLayerNames.map { case (n, u) =>
      r.perLayer.find(_._1 == n).getOrElse((n, 0.0, u)) }
    val notes = (r.notes :+ ("spans" -> spans.toString))
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    val json =
      s"""{"first_op_ms": ${r.firstOpMs}, "attempted": ${r.attempted}, "rounds": ${r.rounds}, """ +
      s""""end_to_end": ${metricsJson(r.endToEnd)}, "per_layer": ${metricsJson(layer)}, """ +
      s""""notes": $notes}"""
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(json) finally w.close()
  }

  /** The end-to-end metrics shared by every workload: the median of
    * `latMs` and the tail of `tailMs` (the same samples for query_mix; for
    * the streams, trigger times and per-record commit latencies). */
  def endToEnd(ops: Double, reg: Region, rounds: Int, latMs: Seq[Double], tailMs: Seq[Double],
      taskCpuS: Double): (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val (pct, tail) = Stats.tail(tailMs)
    (Seq(
      ("ops_per_s", ops / (reg.wallMs / 1000.0), "1/s"),
      ("latency_p50_ms", Stats.median(latMs), "ms"),
      ("latency_tail_ms", tail, "ms"),
      ("task_cpu_s", taskCpuS / rounds, "s"),
      ("peak_heap_mb", reg.peakHeapBytes / 1024.0 / 1024.0, "MB")),
     Seq("tail_percentile" -> pct.toString, "latency_samples" -> latMs.size.toString,
       "tail_samples" -> tailMs.size.toString,
       "timed_wall_s" -> f"${reg.wallMs / 1000.0}%.3f", "rounds" -> rounds.toString))
  }

  /** Warehouse tables (directories) and their newest modification time. */
  def warehouseTables(ctx: Ctx): Map[String, Long] = {
    val dir = new File(s"${ctx.root}/warehouse")
    Option(dir.listFiles()).map(_.filter(_.isDirectory)
      .map(f => f.getName -> newest(f)).toMap).getOrElse(Map.empty)
  }
  private def newest(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(newest)).filter(_.nonEmpty)
      .map(_.max).getOrElse(f.lastModified()).max(f.lastModified())
    else f.lastModified()

  def dirMb(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
    size(new File(path)) / 1024.0 / 1024.0
  }

  /** The saved-artifact metrics: tables written during set-up, distinct
    * tables written during the timed region, and the warehouse size. */
  def artifacts(ctx: Ctx, beforeSetup: Map[String, Long], afterSetup: Map[String, Long],
      reg: Region): Seq[(String, Double, String)] = {
    val end = warehouseTables(ctx)
    val setupWritten = afterSetup.count { case (n, t) => beforeSetup.get(n).forall(_ != t) }
    val timedWritten = end.count { case (_, t) => t >= reg.startMs }
    Seq(("artifacts.setup_tables", setupWritten.toDouble, "count"),
      ("artifacts.timed_tables", timedWritten.toDouble, "count"),
      ("artifacts.warehouse_mb", dirMb(s"${ctx.root}/warehouse"), "MB"))
  }
}
