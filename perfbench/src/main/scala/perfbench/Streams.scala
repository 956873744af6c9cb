package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, format_number}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{DedupGate, KafkaEosSink, KafkaWire, ReportPipeline}

/** Shared pieces of the two stream jobs. */
object StreamKit {
  def source(spark: SparkSession, port: Int, topic: String, perTrigger: Int): DataFrame =
    spark.readStream.format("kafka-wire")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("topic", topic)
      .option("maxOffsetsPerTrigger", perTrigger.toString)
      .load()

  /** Append records to a topic in one transaction. Its commit marker takes
    * the offset after the last record, so a backlog produced this way splits
    * into triggers of exactly maxOffsetsPerTrigger records. */
  def produce(port: Int, txId: String, topic: String, recs: Seq[(String, String)]): Unit = {
    val p = new KafkaWire.WireProducer("127.0.0.1", port, txId)
    try {
      p.initTransactions()
      p.beginTransaction()
      p.sendAll(topic, recs)
      p.commitTransaction()
    } finally p.close()
  }

  def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Progress entries of a query that carried input. */
  def dataBatches(ctx: Ctx, q: StreamingQuery): Seq[StreamingQueryProgress] =
    ctx.progress.of(q.id.toString).filter(_.numInputRows > 0)

  /** Trigger spans and their phase children, from the progress reports. */
  def traceTriggers(ctx: Ctx, parent: Int, op: String, ps: Seq[StreamingQueryProgress]): Unit =
    if (ctx.tracer.on) ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val t = ctx.tracer.add(parent, "trigger", s"$op:${p.batchId}", start, endMs(p).toLong)
      var at = start
      for (k <- Seq("latestOffset", "queryPlanning", "getBatch", "walCommit", "addBatch",
          "commitOffsets") if p.durationMs.containsKey(k)) {
        ctx.tracer.add(t, k, s"$op:${p.batchId}", at, at + d(p, k).toLong)
        at += d(p, k).toLong
      }
    }

  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli + d(p, "triggerExecution")

  /** Commit latency of every record of a round whose backlog was available
    * at `t0`: the k-th data batch of every query reads the same records,
    * which are committed through every sink when the last of those
    * batches ends. */
  def recordLatencies(t0: Long, queries: Seq[Seq[StreamingQueryProgress]]): Seq[Double] =
    queries.map(_.map(p => (p.numInputRows, endMs(p)))).transpose.flatMap { ks =>
      Seq.fill(ks.head._1.toInt)(ks.map(_._2).max - t0)
    }

  /** The stream-engine layer metrics over a set of data batches. */
  def engine(ps: Seq[StreamingQueryProgress], rounds: Double): Seq[(String, Double, String)] = Seq(
    ("source.offsets_ms", Stats.median(ps.map(p => d(p, "latestOffset") + d(p, "getBatch"))), "ms"),
    ("stream.batches", ps.size / rounds, "count"),
    ("stream.planning_ms", Stats.median(ps.map(d(_, "queryPlanning"))), "ms"),
    ("stream.commit_ms", Stats.median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "ms"),
    ("stream.add_batch_ms", Stats.median(ps.map(d(_, "addBatch"))), "ms"))

  def lines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toList finally src.close()
  }
}

/** The reference DataReport job. Each round is a fresh run of the job over
  * its own preloaded backlog: the windowed aggregate into the durable upsert
  * sink and the late-record router, both reading the same topic at a fixed
  * number of records per trigger. */
final class AuditJob(ctx: Ctx, port: Int) {
  import StreamKit._
  private val perTrigger = ctx.opts("audit_per_trigger").toInt
  val byRound: Map[Int, Seq[String]] = lines(s"${ctx.input}/audit.tsv").map { l =>
    val i = l.indexOf('\t'); (l.take(i).toInt, l.drop(i + 1))
  }.groupBy(_._1).map { case (r, ls) => r -> ls.map(_._2) }

  final case class Round(r: Int, agg: StreamingQuery, late: StreamingQuery,
      sink: ReportPipeline.DurableKeyedUpsertSink, lateLines: ConcurrentLinkedQueue[String],
      startMs: Long, endMs: Long) {
    def aggPs: Seq[StreamingQueryProgress] = dataBatches(ctx, agg)
    def latePs: Seq[StreamingQueryProgress] = dataBatches(ctx, late)
  }
  private val done = scala.collection.mutable.ArrayBuffer.empty[Round]

  /** Seconds to write every round's backlog into the broker. */
  def preload(): Double = {
    val t = System.nanoTime()
    for ((r, ls) <- byRound)
      produce(port, s"perfbench-audit-$r", s"audit_$r",
        ls.zipWithIndex.map { case (l, i) => (i.toString, l) })
    (System.nanoTime() - t) / 1e9
  }

  def round(r: Int): Round = {
    val src = source(ctx.spark, port, s"audit_$r", perTrigger).selectExpr("value AS line")
    val sink = new ReportPipeline.DurableKeyedUpsertSink(s"${ctx.root}/upsert/r$r")
    val late = new ConcurrentLinkedQueue[String]()
    val router = new ReportPipeline.LateRouter(row => late.add(row.getString(0)))
    val t0 = ctx.now
    val qa = ReportPipeline.startAggDurable(src, s"${ctx.root}/checkpoints/agg_$r", sink)
    val ql = ReportPipeline.startLateRouter(src, s"${ctx.root}/checkpoints/late_$r", router)
    qa.processAllAvailable()
    ql.processAllAvailable()
    val t1 = ctx.now
    qa.stop(); ql.stop()
    val rd = Round(r, qa, ql, sink, late, t0, t1)
    done += rd
    rd
  }

  /** Final window table, side output and the input rows of every trigger,
    * per round, for the checks. */
  def writeOutputs(): Unit = for (rd <- done) {
    ctx.writeLines(s"audit_r${rd.r}_windows.tsv", rd.sink.snapshot(ctx.spark).toSeq.map {
      case ((w, t, a), (c, m)) => s"$w\t$t\t$a\t$c\t$m" })
    ctx.writeLines(s"audit_r${rd.r}_late.tsv", rd.lateLines.asScala.toSeq)
    ctx.writeLines(s"audit_r${rd.r}_batches.tsv",
      Seq(rd.aggPs, rd.latePs).map(_.map(_.numInputRows).mkString(",")))
  }

  def trace(rds: Seq[Round]): Unit = rds.foreach { rd =>
    val root = ctx.tracer.add(0, "audit_round", s"r${rd.r}", rd.startMs, rd.endMs)
    traceTriggers(ctx, root, s"agg:r${rd.r}", rd.aggPs)
    traceTriggers(ctx, root, s"late:r${rd.r}", rd.latePs)
  }

  def layer(rds: Seq[Round]): Seq[(String, Double, String)] = {
    val aggPs = rds.flatMap(_.aggPs)
    val lastState = rds.map(_.aggPs.last.stateOperators.head)
    Seq(
      ("state.rows", Stats.median(lastState.map(_.numRowsTotal.toDouble)), "count"),
      ("state.mb", Stats.median(lastState.map(_.memoryUsedBytes / 1048576.0)), "MB"),
      ("state.commit_ms", Stats.median(
        aggPs.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      ("sink.upsert_ms", Stats.median(aggPs.map(d(_, "addBatch"))), "ms"),
      ("sink.late_route_ms", Stats.median(rds.flatMap(_.latePs).map(d(_, "addBatch"))), "ms"),
      ("sink.upsert_table_mb", Stats.median(rds.map(rd =>
        Main.dirMb(s"${ctx.root}/upsert/r${rd.r}"))), "MB"))
  }
}

/** The text dedup gate, with the disk-backed content table and a pair
  * table; hits leave through the partitioned exactly-once sink to a broker
  * topic. One gate runs for the whole process: each round appends its
  * documents to the input topic in one transaction and waits until the gate
  * has absorbed them. */
final class GateJob(ctx: Ctx, port: Int) {
  import StreamKit._
  private val spark = ctx.spark
  val byRound: Map[Int, Seq[(String, String)]] = lines(s"${ctx.input}/dedup.tsv").map { l =>
    val a = l.split("\t", 3); (a(0).toInt, (a(1), a(2)))
  }.groupBy(_._1).map { case (r, ls) => r -> ls.map(_._2) }
  private val ckpt = s"${ctx.root}/checkpoints/gate"
  private val eos = GateJob.eosSink(port, ckpt, ctx.cores)
  // (batch id, start ms, ms): the harness's own timing of the sink
  // callback it hands to the gate
  private val sinkCalls = new ConcurrentLinkedQueue[(Long, Long, Double)]()
  private val contentTable = "perfbench_gate_content"
  private val pairTable = "perfbench_gate_pairs"
  private var q: StreamingQuery = _
  var appendS = 0.0

  final case class Round(r: Int, startMs: Long, endMs: Long) {
    def ps: Seq[StreamingQueryProgress] = dataBatches(ctx, q).filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli; t >= startMs && t < endMs }
    def calls: Seq[(Long, Long, Double)] =
      sinkCalls.asScala.toSeq.filter(c => c._2 >= startMs && c._2 < endMs)
  }

  /** Build the corpus index and start the gate. */
  def start(): Unit = {
    val sink = (df: DataFrame, id: Long) => {
      val s = ctx.now
      val t = System.nanoTime()
      eos.write(df.select(col("new_doc").cast("string").as("key"),
        concat_ws("\t", col("dup_of"), format_number(col("jaccard"), 6)).as("value")), id)
      sinkCalls.add((id, s, (System.nanoTime() - t) / 1e6))
      ()
    }
    val docs = source(spark, port, "docs", ctx.opts("gate_per_trigger").toInt)
      .select(col("key").cast("long").as("doc_id"), col("value").as("text"))
    // the pair table the gate appends its hits to starts empty
    graft.sources.Writers.writeBucketed(
      spark.range(0).selectExpr("id AS doc_a", "id AS doc_b"), "doc_b",
      graft.operators.Dedup.PairIndexBuckets, pairTable)
    val corpus = spark.read.parquet(s"${ctx.input}/corpus.parquet").select("doc_id", "text")
    q = DedupGate.start(docs, corpus, ckpt, sink,
      pairTable = Some(pairTable), corpusTable = Some(contentTable))
  }

  def round(r: Int): Round = {
    val t0 = ctx.now
    val tp = System.nanoTime()
    produce(port, s"perfbench-docs-$r", "docs", byRound(r))
    appendS += (System.nanoTime() - tp) / 1e9
    q.processAllAvailable()
    Round(r, t0, ctx.now)
  }

  /** Hits in the output topic and the input offsets consumed, for the checks. */
  def writeOutputs(broker: KafkaWire.EmbeddedBroker): Unit = {
    q.stop()
    val consumed = ctx.progress.of(q.id.toString).lastOption
      .map(_.sources.head.endOffset).getOrElse("")
    ctx.writeLines("dedup_hits.tsv", broker.committed("gate_hits").map { case (k, v) => s"$k\t$v" })
    ctx.writeLines("dedup_consumed.txt", Seq(consumed))
  }

  def trace(rds: Seq[Round]): Unit = rds.foreach { rd =>
    val root = ctx.tracer.add(0, "gate_round", s"r${rd.r}", rd.startMs, rd.endMs)
    traceTriggers(ctx, root, s"gate:r${rd.r}", rd.ps)
    rd.calls.foreach(c =>
      ctx.tracer.add(root, "eos_sink", s"gate:r${rd.r}:${c._1}", c._2, c._2 + c._3.toLong))
  }

  def layer(rds: Seq[Round], broker: KafkaWire.EmbeddedBroker): Seq[(String, Double, String)] = {
    val ps = rds.flatMap(_.ps)
    val sinkMs = rds.flatMap(_.calls).map(c => c._1 -> c._3).toMap
    val hits = broker.committed("gate_hits")
    val allRounds = rds.map(_.r).max + 1.0 // the warm-up round wrote hits too
    Seq(
      ("gate.process_ms", Stats.median(ps.map(d(_, "addBatch"))), "ms"),
      ("gate.process_max_ms", if (ps.isEmpty) 0.0 else ps.map(d(_, "addBatch")).max, "ms"),
      ("gate.verify_absorb_ms", Stats.median(ps.map(p =>
        d(p, "addBatch") - sinkMs.getOrElse(p.batchId, 0.0))), "ms"),
      ("gate.content_rows", spark.table(contentTable).count().toDouble, "count"),
      ("gate.hits", hits.map(_._1).distinct.size / allRounds, "count"),
      ("sink.eos_write_ms", Stats.median(sinkMs.values.toSeq), "ms"),
      ("sink.eos_records", hits.size / allRounds, "count"))
  }
}

object GateJob {
  /** Built outside the job, so the producer factories shipped to executor
    * tasks capture only the port. */
  def eosSink(port: Int, ckpt: String, partitions: Int): KafkaEosSink.PartitionedSink =
    new KafkaEosSink.PartitionedSink("gate_hits", "gate_progress", ckpt, partitions,
      txId => new KafkaWire.WireProducer("127.0.0.1", port, txId),
      txId => KafkaWire.readLastCommitted("127.0.0.1", port, "gate_progress", txId))
}

/** `stream_mix`: the DataReport job and the dedup gate over the wire source,
  * one after the other in every round. Round 0 is the warm-up; the timed
  * region runs whole rounds until its time is up. */
object StreamMix {
  import StreamKit._

  def run(ctx: Ctx): Result = {
    val broker = new KafkaWire.EmbeddedBroker
    try {
      val audit = new AuditJob(ctx, broker.port)
      val gate = new GateJob(ctx, broker.port)
      val nRounds = audit.byRound.size
      val preloadS = audit.preload()
      val beforeSetup = Main.warehouseTables(ctx)
      gate.start()
      audit.round(0)
      gate.round(0)
      val afterSetup = Main.warehouseTables(ctx)
      val timed = scala.collection.mutable.ArrayBuffer.empty[(audit.Round, gate.Round)]
      val reg = Region.measure(ctx) {
        val t0 = System.nanoTime()
        while (timed.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
          val r = timed.size + 1
          require(r < nRounds, s"the input holds $nRounds rounds; the run needs more")
          timed += ((audit.round(r), gate.round(r)))
        }
      }
      audit.writeOutputs()
      gate.writeOutputs(broker)
      val (ars, grs) = (timed.map(_._1).toSeq, timed.map(_._2).toSeq)
      if (ctx.tracer.on) { audit.trace(ars); gate.trace(grs) }

      val rounds = timed.size
      val records = ars.map(rd => audit.byRound(rd.r).size).sum +
        grs.map(rd => gate.byRound(rd.r).size).sum
      val stages = ctx.counters.stagesIn(reg.startMs, reg.endMs + 1)
      val jobs = ctx.counters.jobsIn(reg.startMs, reg.endMs + 1)
      val taskCpu = StageTotals.taskCpuS(stages)
      // trigger times of the two result-producing queries (the aggregate and
      // the gate); commit latency of every record from the moment its round's
      // backlog was in the broker
      val (e2e, notes) = Main.endToEnd(records, reg, rounds,
        (ars.flatMap(_.aggPs) ++ grs.flatMap(_.ps)).map(d(_, "triggerExecution")),
        ars.flatMap(rd => recordLatencies(rd.startMs, Seq(rd.aggPs, rd.latePs))) ++
          grs.flatMap(rd => recordLatencies(rd.startMs, Seq(rd.ps))), taskCpu)
      val layer = Seq(
        ("spark.jobs", jobs.size / rounds.toDouble, "count"),
        ("wire.preload_s", preloadS + gate.appendS, "s")) ++
        audit.layer(ars) ++ gate.layer(grs, broker) ++
        engine(ars.flatMap(rd => rd.aggPs ++ rd.latePs) ++ grs.flatMap(_.ps), rounds) ++
        StageTotals(stages, rounds, ctx.cores, reg.wallMs, reg.cpuNs / 1e9 - taskCpu) ++
        Main.artifacts(ctx, beforeSetup, afterSetup, reg)
      ctx.writeLines("timed_rounds.tsv", timed.map(_._1.r.toString))
      Result(ars.head.startMs, records.toLong, rounds, e2e, layer, notes)
    } finally broker.stop()
  }
}
