package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement tool (round-20): time a NAMED SUBSET
  * of SparkEntry.queries with the Bench methodology (same session
  * config, same untimed first pass to pay memoized builds, median of
  * SPARK_GRAFT_REPS counts) and optionally dump explain("formatted")
  * plans for the plans/r20 deliverable.
  *
  * This is a dev tool only — the driver contract lives in
  * [[graft.Bench]], which is unchanged. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_PLAN_DIR=/root/repo/plans/r20 \
  *   sbt "runMain graft.QProbe q_pagerank q_bm25_rm3 ..."
  * With no args, probes every query (timing only).
  *
  * Per query it also prints what the timed passes spent compiling:
  * Janino compiles, generated classes and Janino milliseconds from
  * Spark's [[org.apache.spark.metrics.source.CodegenMetrics]], and JIT
  * compiler milliseconds from the JVM's `CompilationMXBean`. A query
  * whose timed passes still compile has classes the codegen cache
  * (100 entries) evicted between its calls.
  */
object QProbe {
  import org.apache.spark.metrics.source.CodegenMetrics

  /** Cumulative compile cost: (Janino compiles, generated classes,
    * Janino ms, JIT ms). Janino ms is the exact sum while the
    * histogram's reservoir still holds every sample, else mean x
    * count. */
  private def compileCost(): (Long, Long, Double, Long) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = t.getSnapshot
    val ms = if (snap.size >= t.getCount) snap.getValues.sum.toDouble
      else snap.getMean * t.getCount
    (t.getCount, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, ms,
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toIntOption.getOrElse(3).max(1)
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    // --- pre-localCheckpoint SEGMENT plans (round-21, VERDICT r20
    // #2/#6): the shingle fan-out is checkpointed at its consumers'
    // seam (qMinhashLsh, the gates, contamination, curation), so the
    // per-query dumps start at an ExistingRDD and cannot show what the
    // round-20 §4 change removed. Dump the segment's OWN plan — the
    // current row-local array_distinct shape, and a reconstruction of
    // the pre-round-20 frame-level .distinct() shape (clearly labeled
    // `framedistinct_r20before`) — so the plan evidence for the
    // removed HashAggregate/Exchange/HashAggregate block exists as
    // committed text. Plan-only (never executed); runs once per
    // invocation when a plan dir is set.
    planDir.foreach { pd =>
      import org.apache.spark.sql.functions.{col, explode, expr, size, trim, lower, split}
      def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        try {
          val p = java.nio.file.Paths.get(pd, s"$name.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, df.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
            .getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[qprobe] segment $name dump failed: ${e.getMessage}")
        }
      val docs = Tables.documents(spark, sfDir)
      dump("seg_shingles_rowlocal_current",
        graft.functions.TextFunctions.shingles(docs, "doc_id", "text"))
      // the pre-round-20 shape: explode first, then a frame-level
      // distinct — the removed exchange block is visible here
      val parts = (0 until 3).map(j => s"toks[i+$j]").mkString(", ' ', ")
      dump("seg_shingles_framedistinct_r20before",
        docs.select(col("doc_id"),
            split(trim(lower(col("text"))), "\\s+").as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(0, size(toks)-3), i -> concat($parts))")).as("shingle"))
          .distinct())
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val out = new StringBuilder("{")
    val codegen = new StringBuilder("{")
    var first = true
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      spark.sparkContext.setJobDescription(n)
      // untimed first pass: pays memoized builds + codegen, like the
      // bench's builder warmup
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[qprobe] $n warm failed: ${e.getMessage}")
      }
      planDir.foreach { pd =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(pd, s"${n}_$planSuffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[qprobe] $n plan dump failed: ${e.getMessage}")
        }
      }
      val (c0, k0, ms0, jit0) = compileCost()
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val (c1, k1, ms1, jit1) = compileCost()
      System.gc()
      val med = samples(samples.size / 2)
      if (!first) { out ++= ","; codegen ++= "," }
      first = false
      out ++= s""""$n":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(med))}"""
      val cost = String.format(java.util.Locale.ROOT,
        "\"compiles\":%d,\"classes\":%d,\"compile_ms\":%.1f,\"jit_ms\":%d",
        Long.box(c1 - c0), Long.box(k1 - k0), Double.box(ms1 - ms0), Long.box(jit1 - jit0))
      codegen ++= s""""$n":{$cost}"""
      println(s"[qprobe] $n median=${"%.3f".format(med)} samples=${samples.map("%.3f".format(_)).mkString(",")}" +
        s" (timed passes) janino_compiles=${c1 - c0} generated_classes=${k1 - k0}" +
        s" janino_ms=${"%.1f".format(ms1 - ms0)} jit_ms=${jit1 - jit0}")
    }
    out ++= "}"
    codegen ++= "}"
    println(s"""{"metric":"qprobe","queries":${out.toString},"codegen":${codegen.toString},"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
