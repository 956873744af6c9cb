package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One finished stage, reduced to what the layer metrics need. */
final case class StageRec(submitMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** The harness's own SparkListener: counts jobs, stages and tasks and sums
  * task metrics per stage. The local property `perfbench.phase` set by the
  * driver thread travels with every job, so jobs launched inside the query
  * function, its planning and its action are told apart exactly. */
final class SparkCounters extends SparkListener {
  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[(Long, String, Seq[String])]
  private val stageAgg = mutable.HashMap.empty[Int, Array[Long]]
  private val finished = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("")
    jobs += ((e.time, phase, e.stageInfos.map(_.name)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](8))
    a(0) += 1
    if (m != null) {
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime + m.executorDeserializeCpuTime
      a(3) += m.jvmGCTime
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    val a = stageAgg.remove(si.stageId).getOrElse(new Array[Long](8))
    finished += StageRec(si.submissionTime.getOrElse(0L),
      a(0).toInt, a(1), a(2), a(3), a(4), a(5), a(6), a(7))
  }

  /** Jobs started in [from, to): (start ms, phase, stage names). */
  def jobsIn(from: Long, to: Long): Seq[(Long, String, Seq[String])] =
    lock.synchronized(jobs.filter(j => j._1 >= from && j._1 < to).toList)

  /** Stages submitted in [from, to). */
  def stagesIn(from: Long, to: Long): Seq[StageRec] =
    lock.synchronized(finished.filter(s => s.submitMs >= from && s.submitMs < to).toList)
}

/** Collects every StreamingQueryProgress, looked up by query id. */
final class StreamProgress extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  def of(id: String): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.id.toString == id).toList.sortBy(_.batchId)
}

/** Live heap, and process CPU time. The live heap is the heap in use after
  * a full collection: the peak over the full collections of the timed
  * region and a floor taken after it, once Spark's ContextCleaner has
  * released what the region left unreferenced (full collections 200 ms
  * apart, untracked, until the heap stops shrinking). Heap after a young
  * collection still holds old-generation garbage and moves with GC timing,
  * so it is not sampled. */
final class JvmProbe {
  @volatile private var tracking = false
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (tracking && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def start(): Unit = { peak = 0L; tracking = true }
  /** Stop tracking; returns the peak live heap in bytes. */
  def stop(): Long = {
    tracking = false
    def live(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (last, now, rounds) = (Long.MaxValue, live(), 1)
    while (now < last - last / 100 && rounds < 8) {
      Thread.sleep(200)
      last = now
      now = live()
      rounds += 1
    }
    math.max(peak, now)
  }
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}

/** In-memory spans, written out once when the run ends. */
final class Tracer(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, op: String, startMs: Long, endMs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def on: Boolean = enabled
  def add(parent: Int, name: String, op: String, startMs: Long, endMs: Long): Int =
    if (!enabled) -1 else synchronized {
      next += 1
      spans += Span(next, parent, name, op, startMs, endMs)
      next
    }
  def write(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally w.close()
  }
  def count: Int = spans.size
}

/** Layer totals over a set of stages, as named metrics. */
object StageTotals {
  def apply(st: Seq[StageRec], rounds: Double, cores: Int, wallMs: Double,
      nonTaskCpuS: Double): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val runS = st.map(_.runMs).sum / 1000.0
    Seq(
      ("spark.stages", st.size / rounds, "count"),
      ("spark.tasks", st.map(_.tasks).sum / rounds, "count"),
      ("spark.task_run_s", runS / rounds, "s"),
      ("spark.gc_s", st.map(_.gcMs).sum / 1000.0 / rounds, "s"),
      ("spark.shuffle_read_mb", st.map(_.shuffleReadBytes).sum / mb / rounds, "MB"),
      ("spark.shuffle_write_mb", st.map(_.shuffleWriteBytes).sum / mb / rounds, "MB"),
      ("spark.spill_mb", st.map(_.spillBytes).sum / mb / rounds, "MB"),
      ("spark.core_busy", if (wallMs > 0) runS / (cores * wallMs / 1000.0) else 0.0, "ratio"),
      ("jvm.non_task_cpu_s", nonTaskCpuS / rounds, "s"),
      ("tables.input_mb", st.map(_.inputBytes).sum / mb / rounds, "MB"))
  }
  def taskCpuS(st: Seq[StageRec]): Double = st.map(_.cpuNs).sum / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest whole percentile with at least ten samples above it, and
    * that percentile's value. Fewer than 20 samples leave no tail beyond
    * the median, so the median is returned with percentile 50. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    val pct = if (n < 20) 50 else math.floor(100.0 * (n - 10) / n).toInt
    (pct, quantile(xs, pct / 100.0))
  }
}

object Session {
  def build(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints/default")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
