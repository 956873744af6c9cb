package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

import graft.operators.Graph

/** `Graph.qPageRank` keeps its start state — edge checkpoint, node
  * count and initial ranks — in one memo entry: a repeat call in one
  * session builds none of it again and returns the same rows, and a
  * changed fact fingerprint rebuilds all three together. */
class PageRankMemoSpec extends SparkSpec {

  /** The stage count of each Spark job started while `f` runs, schema
    * inference aside (that is `Tables.load`'s memo, not this one),
    * adaptive execution off (it re-plans on stage completion, so its
    * job count depends on timing). A one-stage job shuffles nothing. */
  private def jobsOf(f: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!e.stageInfos.exists(_.name.startsWith("parquet at"))) jobs.add(e.stageInfos.size)
    }
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    org.apache.spark.graft.TestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graft.TestBus.drain(sc) }
    finally {
      sc.removeSparkListener(l)
      prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    }
    jobs.asScala.toSeq
  }

  private val dirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A private copy of the two fact tables, so a test owns its memo
    * entry and may touch a table. */
  private def copyFacts(): String = {
    val d = Files.createTempDirectory("graft-pagerank-memo")
    for (t <- Seq("orders.parquet", "lineitem.parquet"))
      Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001", t), d.resolve(t),
        StandardCopyOption.COPY_ATTRIBUTES)
    dirs += d.toFile
    d.toString
  }

  override def afterAll(): Unit = {
    dirs.foreach(new scala.reflect.io.Directory(_).deleteRecursively())
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(2))).toSeq

  test("a repeat call builds no node count or initial ranks and returns the same rows") {
    val d = copyFacts()
    var first: DataFrame = null
    val buildJobs = jobsOf { first = Graph.qPageRank(spark, d) }
    assert(buildJobs.size >= 3, s"edges, count and ranks not built eagerly: $buildJobs")
    val want = rows(first)
    var again: DataFrame = null
    // what the call may still run is the broadcast of the stored
    // one-row count into a lazy rank checkpoint: one stage, no shuffle
    val repeatJobs = jobsOf { again = Graph.qPageRank(spark, d) }
    assert(repeatJobs.forall(_ == 1),
      s"the repeat call ran a shuffle job before its action: $repeatJobs")
    // the rounds read the start state from checkpoints: no count
    // distinct over the edges, no distinct of the node set
    val plan = again.queryExecution.executedPlan.toString
    assert(!plan.contains("count(distinct"), plan)
    assert(!plan.contains("keys=[node"), plan)
    assert(rows(again) == want)
    assert(want.size == Graph.PrTopK)
  }

  test("a changed fact fingerprint rebuilds edges, count and ranks together") {
    val d = copyFacts()
    var first: DataFrame = null
    val buildJobs = jobsOf { first = Graph.qPageRank(spark, d) }
    val want = rows(first)
    assert(jobsOf(Graph.qPageRank(spark, d)).forall(_ == 1))
    // same bytes, new mtime: a new fingerprint over identical data
    val f = new java.io.File(d, "orders.parquet")
    assert(f.setLastModified(f.lastModified() + 60000L))
    var rebuilt: DataFrame = null
    val rebuildJobs = jobsOf { rebuilt = Graph.qPageRank(spark, d) }
    assert(rebuildJobs == buildJobs,
      s"rebuild ran jobs $rebuildJobs, the first build $buildJobs")
    assert(rows(rebuilt) == want)
    assert(jobsOf(Graph.qPageRank(spark, d)).forall(_ == 1))
  }
}
