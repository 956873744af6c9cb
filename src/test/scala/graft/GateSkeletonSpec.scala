package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.operators.Dedup
import graft.streaming.{DedupGate, Gate, IngestPipeline, SpanGate}

/** The shared absorbing-gate step: (a) the text gate's Spark jobs per
  * micro-batch and phase stay pinned, so the skeleton adds and drops
  * none unnoticed; (b) every absorbing gate dedups an id delivered
  * twice in one batch, so the sink sees each verdict once and the
  * index holds the id once. */
class GateSkeletonSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    new scala.reflect.io.Directory(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
      .deleteRecursively()
  }

  /** Spark jobs started while `f` runs, by their gate phase tag. */
  private def jobsOf(f: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        phases.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(Gate.PhaseProperty))).getOrElse("untagged"))
    }
    org.apache.spark.graft.TestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; org.apache.spark.graft.TestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    phases.asScala.groupBy(identity).map { case (p, js) => p -> js.size }
  }

  /** One stream_mix-shaped gate run: two batches, one hit; the jobs of
    * each `process` call by phase. */
  private def textGateJobs(tag: String): Seq[Map[String, Int]] = {
    val content = s"graft_spec_skeleton_content_$tag"
    val pairs = s"graft_spec_skeleton_pairs_$tag"
    Seq(content, pairs).foreach(freshTable)
    graft.sources.Writers.writeBucketed(
      spark.range(0).selectExpr("id AS doc_a", "id AS doc_b"), "doc_b",
      Dedup.PairIndexBuckets, pairs)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different content about spark structured streaming state")
    ).toDF("doc_id", "text")
    val state = new DedupGate.TextGateState(corpus,
      pairTable = Some(pairs), corpusTable = Some(content))
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def sink(df: DataFrame, id: Long): Unit =
      hits ++= df.select(col("new_doc"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val jobs = Seq(
      jobsOf(state.process(Seq(
        (100L, "glaciers carve deep valleys through ancient mountain ranges over millennia"),
        (101L, "solar panels convert sunlight into electricity across distributed grids daily")
      ).toDF("doc_id", "text"), 0L, sink)),
      jobsOf(state.process(Seq(
        (200L, "glaciers carve deep valleys through ancient mountain ranges over centuries"),
        (201L, "migrating birds follow magnetic field lines on their seasonal journeys")
      ).toDF("doc_id", "text"), 1L, sink)))
    assert(hits.toList == List((200L, 100L)), s"expected one hit: $hits")
    jobs
  }

  test("text gate jobs per batch are pinned (disk content table + pair table)") {
    // adaptive execution re-plans on stage completion, so the jobs it
    // submits depend on which concurrent stage finishes first (19 or 20
    // for the first batch on identical code); without it every job is
    // an action, a checkpoint or a broadcast of the gate's own plan
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val jobs = try { textGateJobs("warm"); textGateJobs("pinned") }
      finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    // 16 and 17 in all (18 and 19 before the set-intersection verify);
    // no collapse in two batches
    val want = Seq(
      Map("batch" -> 1, "verify" -> 5, "verdict" -> 4, "sink" -> 1,
        "after_sink" -> 2, "absorb" -> 3),
      Map("batch" -> 1, "verify" -> 6, "verdict" -> 4, "sink" -> 1,
        "after_sink" -> 2, "absorb" -> 3))
    assert(jobs == want, s"text gate jobs per batch and phase moved: $jobs")
    assert(spark.sparkContext.getLocalProperty(Gate.PhaseProperty) == null,
      "process left its phase tag on the caller's thread")
  }

  test("embed gate: an id delivered twice in one batch is one hit and one index row") {
    val rng = new java.util.Random(41)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val state = new DedupGate.EmbedGateState(Seq((1L, base)).toDF("vec_id", "embedding"))
    val near = base.map(x => x + 0.05f * rng.nextGaussian().toFloat)
    val fresh = vec()
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    state.process(
      Seq((100L, near), (100L, near), (101L, fresh), (101L, fresh))
        .toDF("vec_id", "embedding"), 0L,
      (df, _) => hits ++= df.select(col("new_vec"), col("dup_of")).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    assert(hits.toList == List((100L, 1L)), s"hit rows not once per id: $hits")
    val ids = state.index.vecs.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toList == List(1L, 101L), s"index rows not once per id: ${ids.toList}")
  }

  private val spanCorpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")
  private val spanDoc =
    (100L, "the quick brown fox jumps over the lazy dog by a quiet mountain lake at dawn")

  private def verdictRows(process: (DataFrame, Long, (DataFrame, Long) => Unit) => Unit,
      docs: Seq[(Long, String)]): Seq[String] = {
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    process(docs.toDF("doc_id", "text"), 0L,
      (df, _) => rows ++= df.collect().map(_.toString))
    rows.toSeq
  }

  test("span gate: an id delivered twice in one batch is one verdict, index as for one") {
    val once = new SpanGate.SpanGateState(spanCorpus)
    val twice = new SpanGate.SpanGateState(spanCorpus)
    val want = verdictRows(once.process, Seq(spanDoc))
    val got = verdictRows(twice.process, Seq(spanDoc, spanDoc))
    assert(want.size == 1 && got == want, s"verdicts $got, want $want")
    assert(twice.index.content.count() == once.index.content.count(),
      "a re-delivered id changed what the span index absorbed")
  }

  test("ingest pipeline: an id delivered twice in one batch is one verdict, index as for one") {
    val once = new IngestPipeline.IngestState(spanCorpus)
    val twice = new IngestPipeline.IngestState(spanCorpus)
    val want = verdictRows(once.process, Seq(spanDoc))
    val got = verdictRows(twice.process, Seq(spanDoc, spanDoc))
    assert(want.size == 1 && got == want, s"verdicts $got, want $want")
    assert(twice.spanIndex.content.count() == once.spanIndex.content.count(),
      "a re-delivered id changed what the span index absorbed")
  }
}
