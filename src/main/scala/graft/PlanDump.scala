package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only plan-evidence dump (the `docs/PLANS.md` regeneration
  * main, the [[QProbe]] sibling): prints the executed-plan
  * `explain(FormattedMode)` of the named queries.
  *
  * Usage: `sbt "runMain graft.PlanDump <sfDir> q_a,q_b"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args(0)
    args(1).split(",").foreach { q =>
      val df = SparkEntry.queries(q)(spark, d)
      println(s"===== $q =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
