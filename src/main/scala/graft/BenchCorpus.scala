package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, max, when, xxhash64}

/** The deterministic 10x replica corpus behind the bench's sf1-class
  * scale point — extracted from [[Bench]] (round-19) so the isolated
  * fresh-JVM probe protocol ([[BuildProbe]], bench_variance.md) can
  * measure build ratios against the IDENTICAL corpus the judged
  * BENCH_r{N} numbers use, instead of a probe-local approximation.
  *
  * Construction (see the field-by-field notes inline): 10 replicas of
  * the sf0.1 documents/embeddings tables. Replica 0 is the original;
  * every other replica's docs get a per-replica token tag (so
  * cross-replica docs share NO shingles) and its vectors a per-replica
  * circular rotation (cosine between different-replica copies ~ 0) —
  * near-dup structure replicates LINEARLY while the all-pairs space
  * grows 100x. The TPC-H star schema re-stripes entity keys by replica
  * (k*10+rep) so every join stays within-replica and aggregates scale
  * linearly; dims (nation/region) are fixed and copied. */
object BenchCorpus {

  /** Generate the 10x corpus from `sfDir` into a fresh temp dir and
    * warm its tables (same xxhash64-over-all-columns warmup as the
    * bench main loop). Returns the temp path; pair with
    * [[cleanup10x]]. */
  def generate10x(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val sf1Path = java.nio.file.Files.createTempDirectory("graft-sf1")
    val sf1Dir = sf1Path.toString
    val reps10 = spark.range(10).select(col("id").as("rep"))
    val docs = Tables.documents(spark, sfDir)
    docs.crossJoin(reps10).select(
      (col("doc_id") * 10 + col("rep")).as("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(org.apache.spark.sql.functions.regexp_replace(col("text"),
          lit("(\\S+)"),
          org.apache.spark.sql.functions.concat(
            lit("r"), col("rep").cast("string"), lit("_$1")))).as("text"),
      col("lang"), col("source"))
      // tagged replicas are longer than their source rows, so n_chars
      // is recomputed — copying it would leave the generated table
      // internally inconsistent
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$sf1Dir/documents.parquet")
    // per-replica circular rotation; a zero shift for rep>0 (dim a
    // multiple of 7) would duplicate replica 0 exactly and silently
    // break the linear-near-dup premise — clamp to >=1
    Tables.embeddings(spark, sfDir).crossJoin(reps10)
      .withColumn("shift", org.apache.spark.sql.functions.expr(
        "case when rep = 0 then 0 else greatest(1, cast(rep*7 % size(embedding) as int)) end"))
      .select(
        (col("vec_id") * 10 + col("rep")).as("vec_id"),
        org.apache.spark.sql.functions.expr(
          """concat(
            |  slice(embedding, shift + 1, size(embedding) - shift),
            |  slice(embedding, 1, shift))"""
            .stripMargin).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$sf1Dir/embeddings.parquet")
    // 10x TPC-H star schema: entity keys re-striped by replica
    val keyCols: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"))
    for ((t, keys) <- keyCols)
      keys.foldLeft(Tables.load(spark, sfDir, t).crossJoin(reps10))(
          (df, k) => df.withColumn(k, col(k) * 10 + col("rep")))
        .drop("rep")
        .write.mode("overwrite").parquet(s"$sf1Dir/$t.parquet")
    for (t <- Seq("nation", "region"))
      Tables.load(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$sf1Dir/$t.parquet")
    // warm the generated tables the same way as the main SF
    for (t <- Seq("documents", "embeddings", "customer", "orders",
        "lineitem", "part", "supplier", "nation", "region")) {
      val df = Tables.load(spark, sf1Dir, t)
      df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(max(col("h"))).collect()
      ()
    }
    sf1Path
  }

  /** Drop everything a 10x-probe session may have accreted for the
    * temp dir — parquet files, the digest-keyed memo/pair/gate tables,
    * saved ANN artifacts, and the rebuild surface — then delete the
    * dir. Safe to call even when only a subset was created (DROP IF
    * EXISTS throughout). */
  def cleanup10x(spark: SparkSession, sf1Path: java.nio.file.Path): Unit = {
    val sf1Dir = sf1Path.toString
    new scala.reflect.io.Directory(sf1Path.toFile).deleteRecursively()
    // q9 derives a partsupp for the (temp-named) sf1 dir — drop files
    // AND its registry entry together
    Tables.dropPartsupp(sf1Dir)
    val digest = graft.sources.Writers.tableDigest(sf1Dir)
    def gateTbl(kind: String): String =
      graft.streaming.DedupGate.gateTableName(kind, sf1Dir)
    for (t <- Seq(gateTbl("bench_sh"), gateTbl("bench_span"),
        gateTbl("bench_emb"), gateTbl("bench_emb_deep"),
        gateTbl("bench_kmv"), gateTbl("bench_cms"),
        gateTbl("bench_psample"),
        s"graft_pairs_lsh_$digest", s"graft_pairs_srp_$digest",
        // round-21: the BM25 inverted index is saved tables now
        s"graft_bm25_tf_$digest", s"graft_bm25_dl_$digest",
        s"graft_bm25_df_$digest", s"graft_bm25_nt_$digest"))
      try spark.sql(s"DROP TABLE IF EXISTS $t")
      catch { case _: Throwable => () }
    // the label tables live in generation directories a bare DROP TABLE
    // leaves behind (Writers.replaceGenerational)
    for (t <- Seq(s"graft_cc_lsh_$digest", s"graft_cc_srp_$digest"))
      try graft.sources.Writers.dropWithLocation(spark, t)
      catch { case _: Throwable => () }
    graft.operators.Similarity.dropArtifacts(spark, sf1Dir)
    graft.streaming.AnnIngest.dropRebuild(spark, sf1Dir)
  }
}
