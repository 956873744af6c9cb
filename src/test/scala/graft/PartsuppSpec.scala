package graft

import org.apache.spark.sql.functions._

/** The derived partsupp table must be deterministic (both engines and
  * every rebuild see identical rows), referentially faithful to the
  * fact table, and wide enough for the Q2/Q16 shapes. */
class PartsuppSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("rebuild is bit-identical: key arithmetic only, no nondeterminism") {
    val first = Tables.partsupp(spark, d)
      .orderBy(col("ps_partkey"), col("ps_suppkey")).collect()
    // drop the JVM memo and force a REGENERATION into a scratch copy
    // by asking through a symlinked alias of the same dir (same data,
    // different cache key and output path)
    val alias = java.nio.file.Files.createTempDirectory("graft-ps-alias")
    for (t <- Seq("lineitem", "part", "supplier"))
      java.nio.file.Files.createSymbolicLink(
        alias.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(d, s"$t.parquet"))
    try {
      val second = Tables.partsupp(spark, alias.toString)
        .orderBy(col("ps_partkey"), col("ps_suppkey")).collect()
      assert(first.length == second.length && first.sameElements(second),
        "partsupp regeneration diverged — generation is not deterministic")
    } finally {
      new scala.reflect.io.Directory(
        new java.io.File(Tables.partsuppPath(alias.toString))).deleteRecursively()
      new scala.reflect.io.Directory(alias.toFile).deleteRecursively()
    }
  }

  test("referential integrity: every lineitem (part, supp) pair is a partsupp row") {
    val missing = Tables.lineitem(spark, d)
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .join(Tables.partsupp(spark, d).select(col("ps_partkey"), col("ps_suppkey")),
        Seq("ps_partkey", "ps_suppkey"), "left_anti")
      .count()
    assert(missing == 0, s"$missing lineitem pairs missing from partsupp")
  }

  test("coverage and key domains: >=4 suppliers per part, keys in range") {
    val ps = Tables.partsupp(spark, d)
    val underSupplied = ps.groupBy(col("ps_partkey"))
      .agg(countDistinct(col("ps_suppkey")).as("n"))
      .filter(col("n") < 4).count()
    assert(underSupplied == 0, s"$underSupplied parts have <4 suppliers")
    val nSupp = Tables.supplier(spark, d).count()
    val badKeys = ps.filter(col("ps_suppkey") < 0 || col("ps_suppkey") >= nSupp ||
      col("ps_availqty") < 1 || col("ps_availqty") > 9999 ||
      col("ps_supplycost") < 1.0).count()
    assert(badKeys == 0, s"$badKeys rows with out-of-domain keys/attributes")
    // primary key: (partkey, suppkey) unique
    assert(ps.count() ==
      ps.select(col("ps_partkey"), col("ps_suppkey")).distinct().count(),
      "duplicate (ps_partkey, ps_suppkey) rows")
  }

  test("q9 plan: dims broadcast, part pruned before the fact join, no cartesian") {
    val plan = graft.operators.Relational.q9ProductProfit(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked in:\n$plan")
    // the LIKE '%red%' prunes part AT ITS SCAN (parquet pushed filter),
    // so the fact join sees only matching part keys
    assert(plan.contains("StringContains(p_name,red)"),
      s"part LIKE filter not pushed to the scan:\n$plan")
  }

  test("a rewritten lineitem rebuilds partsupp: its new (part, supp) pair appears") {
    import java.nio.file.{Files, Paths}
    val copy = Files.createTempDirectory("graft-ps-rewrite")
    for (t <- Seq("lineitem", "part", "supplier"))
      Files.copy(Paths.get(d, s"$t.parquet"), copy.resolve(s"$t.parquet"))
    val c = copy.toString
    try {
      val before = Tables.partsupp(spark, c).select(col("ps_partkey"), col("ps_suppkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // a (part, supp) pair of existing keys that partsupp lacks
      val parts = Tables.part(spark, c).select(col("p_partkey")).collect().map(_.getLong(0))
      val supps = Tables.supplier(spark, c).select(col("s_suppkey")).collect().map(_.getLong(0))
      val (p, q) = (for (p <- parts.sorted.iterator; q <- supps.sorted)
        yield (p, q)).find(!before.contains(_)).get
      // lineitem plus one row carrying the new pair, written aside and
      // swapped in for the original files
      val li = Tables.lineitem(spark, c)
      li.unionByName(li.limit(1)
          .withColumn("l_partkey", lit(p).cast(li.schema("l_partkey").dataType))
          .withColumn("l_suppkey", lit(q).cast(li.schema("l_suppkey").dataType)))
        .write.parquet(s"$c/lineitem_new.parquet")
      Files.delete(Paths.get(s"$c/lineitem.parquet"))
      Files.move(Paths.get(s"$c/lineitem_new.parquet"), Paths.get(s"$c/lineitem.parquet"))
      val after = Tables.partsupp(spark, c)
        .filter(col("ps_partkey") === p && col("ps_suppkey") === q).count()
      assert(after == 1, s"partsupp missed the pair ($p, $q) of the rewritten lineitem")
    } finally {
      Tables.dropPartsupp(c)
      new scala.reflect.io.Directory(copy.toFile).deleteRecursively()
    }
  }
}
