package perfbench

import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** `query_mix`: one client in a closed loop over a fixed list of
  * `SparkEntry.queries`. One op is one call to the query function, the
  * planning of its result and one action that materialises every row and
  * column of that result. A round is four passes over the list, each in a
  * seeded shuffle of it. */
object QueryMix {

  /** Five layer families of the engine, one query each, spaced in op time
    * so that the median op falls among the ops of the middle one
    * (README, "query list"). */
  val Queries: Seq[String] = Seq(
    "q_image_dhash", "q_interval_join", "q_report_agg", "q_minhash_lsh", "q_pagerank")

  /** Every row and column of a planned result, inside a SQL execution as
    * every Dataset action runs. */
  private def materialise(qe: QueryExecution, label: String): Unit =
    SQLExecution.withNewExecutionId(qe, Some(label))(qe.toRdd.foreach(_ => ()))

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val dir = s"${ctx.input}/tables"
    val names = Queries
    val fns = graft.SparkEntry.queries
    val beforeSetup = Main.warehouseTables(ctx)

    // set-up: the first untimed pass pays the memoised builds; its results
    // are what the checks compare with the oracle
    val warm = names.map { n =>
      ctx.setPhase(s"warm:$n")
      val t0 = System.nanoTime()
      val err = try {
        fns(n)(spark, dir).write.mode("overwrite").parquet(s"${ctx.outDir}/q/$n")
        ""
      } catch { case e: Throwable => e.getClass.getSimpleName + ": " + e.getMessage }
      s"$n\t${(System.nanoTime() - t0) / 1e6}\t${err.replaceAll("\\s+", " ").take(300)}"
    }
    ctx.writeLines("warm.tsv", warm)
    // a second untimed pass: the first timed pass would otherwise still be
    // compiling, and how much would depend on the seeded order
    for (n <- names) materialise(fns(n)(spark, dir).queryExecution, s"perfbench warm $n")
    val afterSetup = Main.warehouseTables(ctx)

    final case class Op(name: String, startMs: Long, frameMs: Double, planMs: Double,
        execMs: Double, totalMs: Double)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val rng = new scala.util.Random(ctx.seed)
    var rounds = 0
    val reg = Region.measure(ctx) {
      val t0 = System.nanoTime()
      while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        for (n <- Seq.fill(4)(rng.shuffle(names)).flatten) {
          val start = ctx.now
          val a = System.nanoTime()
          ctx.setPhase("frame")
          val df = fns(n)(spark, dir)
          val b = System.nanoTime()
          ctx.setPhase("plan")
          val qe = df.queryExecution
          qe.executedPlan
          val c = System.nanoTime()
          ctx.setPhase("exec")
          materialise(qe, s"perfbench $n")
          val d = System.nanoTime()
          ctx.setPhase("")
          ops += Op(n, start, (b - a) / 1e6, (c - b) / 1e6, (d - c) / 1e6, (d - a) / 1e6)
        }
        rounds += 1
      }
    }
    if (ctx.tracer.on) ops.zipWithIndex.foreach { case (o, i) =>
      val id = s"$i:${o.name}"
      val end = o.startMs + o.totalMs.round
      val root = ctx.tracer.add(0, "op", id, o.startMs, end)
      val f = o.startMs + o.frameMs.round
      val p = f + o.planMs.round
      ctx.tracer.add(root, "frame", id, o.startMs, f)
      ctx.tracer.add(root, "plan", id, f, p)
      ctx.tracer.add(root, "exec", id, p, end)
    }

    val stages = ctx.counters.stagesIn(reg.startMs, reg.endMs + 1)
    val jobs = ctx.counters.jobsIn(reg.startMs, reg.endMs + 1)
    val taskCpu = StageTotals.taskCpuS(stages)
    val (e2e, notes) = Main.endToEnd(ops.size, reg, rounds, ops.map(_.totalMs).toSeq,
      ops.map(_.totalMs).toSeq, taskCpu)
    val r = rounds.toDouble
    val layer = Seq(
      ("tables.schema_jobs", jobs.count(_._3.exists(_.startsWith("parquet at"))) / r, "count"),
      ("operators.frame_ms", Stats.median(ops.map(_.frameMs).toSeq), "ms"),
      ("operators.frame_jobs", jobs.count(_._2 == "frame") / r, "count"),
      ("operators.plan_ms", Stats.median(ops.map(_.planMs).toSeq), "ms"),
      ("operators.exec_ms", Stats.median(ops.map(_.execMs).toSeq), "ms"),
      ("spark.jobs", jobs.size / r, "count")) ++
      StageTotals(stages, r, ctx.cores, reg.wallMs, reg.cpuNs / 1e9 - taskCpu) ++
      Main.artifacts(ctx, beforeSetup, afterSetup, reg)
    ctx.writeLines("ops.tsv", ops.map(_.name))
    Result(ops.head.startMs, ops.size, rounds, e2e, layer,
      notes :+ ("op_ms" -> ops.map(o => f"${o.name}=${o.totalMs}%.0f").mkString(" ")))
  }
}
