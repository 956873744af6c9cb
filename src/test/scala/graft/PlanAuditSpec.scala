package graft

/** Whole-surface plan audit: every SparkEntry query is planned and
  * screened for scale anti-patterns. This is a standing guard — a new
  * query that sneaks in a cartesian product or an interpreted Python
  * UDF fails here before it ever reaches a cluster. */
class PlanAuditSpec extends SparkSpec {

  test("no query plans a cartesian product or a Python UDF") {
    val d = "/root/testdata/sf0.001"
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try fn(spark, d).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLANNING ERROR: ${e.getMessage}" }
      Seq(
        Option.when(plan.contains("CartesianProduct"))(s"$name: CartesianProduct"),
        Option.when(plan.contains("BatchEvalPython") || plan.contains("PythonUDF"))(
          s"$name: Python UDF"),
        Option.when(plan.startsWith("PLANNING ERROR"))(s"$name: $plan")
      ).flatten
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  /** Queries whose executed plan may contain a BroadcastNestedLoopJoin,
    * each with the reason the join's broadcast side is BOUNDED (does
    * not grow with the corpus) or the query is documented ground
    * truth. Anything else planning an NLJ is an accidental quadratic
    * plan and fails the audit. */
  private val bnljAllowed: Map[String, String] = Map(
    "q_knn_brute" -> "documented brute-force ANN baseline (all-pairs by design)",
    "q_embed_neardup" -> "documented exact near-dup ground truth (all-pairs by design)",
    "q_ivf_recall" -> "recall eval re-runs the brute-force baseline as ground truth",
    "q_knn_ivf" -> "broadcast side is the fixed k-means centroid set (|cells| rows)",
    "q_semdedup" -> "broadcast side is the fixed k-means centroid set (|cells| rows)",
    "q_embed_prune" -> "broadcast sides are the fixed centroid set and the 1-row decile cutoff",
    "q_embed_prune_stats" -> "broadcast sides are the fixed centroid set and the 1-row decile cutoff",
    "q_knn_ivf_int8" -> "broadcast sides are the fixed centroid set and the |queries|x3K shortlist",
    "q_ivf_int8_recall" -> "recall eval re-runs the brute-force baseline as ground truth",
    "q_embed_classify" -> "broadcast side is the fixed per-label centroid set",
    "q_token_budget" -> "scalar subquery: single-row token-budget broadcast",
    "q22_idle_customers" -> "scalar subquery: single-row avg-balance broadcast",
    "q_late_split" -> "scalar subquery: single-row watermark (max ts) broadcast",
    "q11_important_stock" -> "scalar subquery: single-row stock-value total broadcast",
    "q_seq_pack" -> "scalar subquery: single-row data-sized bucket-count broadcast",
    "q_pack_shards" -> "inherits q_seq_pack's single-row bucket-count broadcast",
    "q_perplexity" -> "scalar subquery: single-row vocabulary-size (V) broadcast",
    "q_ppl_buckets" -> "inherits q_perplexity's single-row vocabulary-size (V) broadcast",
    "q_ppl_cutoffs" -> "inherits q_perplexity's single-row vocabulary-size (V) broadcast",
    "q_mixture_weights" -> "scalar subquery: single-row weight-total broadcast",
    "q_event_funnel" -> "four single-row stage-rollup scalars crossed into the report row",
    "q_pagerank" -> "scalar subquery: single-row node-count broadcast",
    "q_pq_codes" -> "broadcast side is the fixed 16-row per-subspace PQ codebook",
    "q_knn_pq" -> "broadcast sides are the fixed codebooks and the |queries|x64 LUT",
    "q_pq_recall" -> "recall eval re-runs the brute-force dot baseline as ground truth",
    "q_knn_opq" -> "broadcast sides are the fixed OPQ codebooks and the |queries|x64 LUT",
    "q_opq_recall" -> "recall eval re-runs the brute-force dot baseline as ground truth",
    "q_knn_ivfpq" -> "broadcast sides are the fixed centroid set, codebooks, and the |queries|x64 LUT",
    "q_ivfpq_recall" -> "recall eval re-runs the brute-force dot baseline as ground truth",
    "q_perplexity3" -> "scalar subquery: single-row (N, V) broadcast",
    "q_bm25" -> "scalar subquery: single-row (N docs, T tokens) broadcast",
    "q_rm3_expansion" -> "inherits q_bm25's single-row (N, T) scalar broadcast",
    "q_bm25_rm3" -> "inherits q_bm25's single-row (N, T) scalar broadcast",
    "q_hybrid_search" -> "inherits q_bm25's scalar broadcast and q_knn_brute's documented all-pairs baseline",
    "q_hybrid_ivfpq" -> "inherits q_bm25's scalar broadcast and q_knn_ivfpq's fixed-artifact broadcasts",
    "q_hybrid_rm3" -> "inherits q_bm25's scalar broadcast and q_knn_ivfpq's fixed-artifact broadcasts",
    "q_ann_ingest" -> "broadcast side is the mounted fixed centroid array (|cells| rows)",
    "q_ann_rebuild" -> "broadcast sides are the retrained fixed centroid arrays (|cells| rows, train + reassign)",
    "q_ann_search_rebuilt" -> "broadcast sides are the mounted quantizer (|cells| rows) and the |q|xNProbe probe list",
    "q_hybrid_recall" -> "recall eval re-runs the exact-fusion baseline, which embeds q_knn_brute's documented all-pairs ground truth",
    "q_knn_ivfpq_res" -> "broadcast sides are the fixed centroid set, residual codebooks, and the |queries|x64 LUT",
    "q_ivfpq_res_recall" -> "recall eval re-runs the brute-force dot baseline as ground truth",
    "q_kmv_overlap" -> "source-pair frame: |sources|^2 rows of a bounded dimension (never corpus-sized)",
    "q_zorder_prune" -> "scalar subquery: single-row quantization min/max bounds broadcast",
    "q_pca_power" -> "scalar subquery: single-row per-round norm broadcast",
    "q_pca_basis" -> "scalar subqueries: per-round norm + deflation (p, v1sq) single-row broadcasts",
    "q_whiten" -> "inherits q_pca_basis' per-round norm + deflation single-row broadcasts",
    "q_pca_project" -> "inherits q_pca_power's single-row norm broadcast",
    "q_curation_e2e" -> "seven single-row stage-rollup scalars crossed into the attrition table, plus q_seq_pack's bucket-count and q_token_budget's budget scalars",
    "q_quality_clf_drift" -> "scalar subquery: single-row frozen training-baseline (n, s1, s2) broadcast")

  test("BroadcastNestedLoopJoin only in the documented allowlist") {
    val d = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => bnljAllowed.contains(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, d).queryExecution.executedPlan.toString
        Option.when(plan.contains("BroadcastNestedLoopJoin"))(name)
      }
    assert(offenders.isEmpty,
      s"undocumented BroadcastNestedLoopJoin (accidental quadratic plan?): $offenders")
  }

  /** Source root resolved from a stable anchor, not the bare relative
    * CWD: walk whatever `user.dir` sbt pinned, and fail loudly if the
    * layout moved — a silently-empty walk would make every source-level
    * guard below vacuous. */
  private def mainSources: List[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"source root not found at $root")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, s"no .scala sources under $root — guard would be vacuous")
    sources
  }

  private def slurp(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p))

  test("qNgramJaccard stays ground-truth-only (no production caller)") {
    // The exact all-pairs Jaccard is the oracle's ground truth for the
    // LSH path; its join is quadratic in shingle document-frequency, so
    // a production query must never depend on it. Source-level guard:
    // the symbol may appear only at its definition (Dedup.scala) and
    // its own queries-map registration (SparkEntry.scala).
    val offenders = mainSources
      .filterNot(p => p.getFileName.toString == "Dedup.scala" ||
        p.getFileName.toString == "SparkEntry.scala")
      .filter(p => slurp(p).contains("qNgramJaccard"))
    assert(offenders.isEmpty,
      s"qNgramJaccard referenced outside its definition/registration: $offenders")
    // and within SparkEntry, only the single registration line
    val entry = mainSources.find(_.getFileName.toString == "SparkEntry.scala").get
    assert(slurp(entry).linesIterator.count(_.contains("qNgramJaccard")) == 1,
      "qNgramJaccard must appear exactly once in SparkEntry (its registration)")
  }

  test("pair index: no driver collect, consumers scan a bucketed parquet table") {
    // The near-dup pair set is unbounded in the corpus (billions of
    // rows on a near-dup-heavy 100 TB run), so it must never pass
    // through the driver. Two-level pin:
    // 1) source level — Dedup.scala contains no collect()/
    //    createDataFrame (the round-3 driver-local Array[Row] cache
    //    must not come back);
    val dedupSrc = slurp(mainSources.find(_.getFileName.toString == "Dedup.scala").get)
    for (bad <- Seq(".collect(", "createDataFrame", "collectAsList"))
      assert(!dedupSrc.contains(bad),
        s"Dedup.scala contains '$bad' — pair sets must never be driver-local")
    // 2) plan level — the memoized pair frames are a FileScan of the
    //    bucketed graft_pairs table, not a LocalTableScan of driver
    //    rows. (Consumers localCheckpoint downstream, so the scan is
    //    pinned here at the index frame the consumers call.)
    val d = "/root/testdata/sf0.001"
    for ((label, frame) <- Seq(
        "lshPairs" -> graft.operators.Dedup.lshPairs(spark, d),
        "srpPairs" -> graft.operators.Dedup.srpPairs(spark, d))) {
      val plan = frame.queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet") && plan.contains("graft_pairs"),
        s"$label must scan the bucketed graft_pairs parquet index, got:\n$plan")
      assert(!plan.contains("LocalTableScan"),
        s"$label plans a LocalTableScan — driver rows leaked back in:\n$plan")
      // the bucketing engages on consumption: the corpus-clean loser
      // extraction (distinct on the bucket key) must read bucketed and
      // plan ZERO shuffle exchanges — the layout, not a re-shuffle,
      // provides the clustering on every repeat run
      val keyCol = frame.columns.last // doc_b / vb — bucket key
      val distinctPlan = frame.select(frame(keyCol)).distinct()
        .queryExecution.executedPlan.toString
      assert(distinctPlan.contains("Bucketed: true"),
        s"$label distinct($keyCol) does not engage the bucketed layout:\n$distinctPlan")
      assert(!distinctPlan.contains("Exchange"),
        s"$label distinct($keyCol) still shuffles despite bucketing:\n$distinctPlan")
    }
  }

  test("artifact memos go through graft.Artifacts (no ConcurrentHashMap in operators or Tables)") {
    // Every trained or derived artifact an operator reuses is held by
    // the one registry, which builds outside any map lock, fingerprints
    // every entry and replaces superseded ones. Source-level guard: a
    // hand-rolled map under graft/operators/ or in Tables.scala would
    // re-implement that policy on its own.
    val sep = java.io.File.separator
    val offenders = mainSources
      .filter(p => p.toString.contains(s"${sep}graft${sep}operators$sep") ||
        p.getFileName.toString == "Tables.scala")
      .filter(p => slurp(p).contains("ConcurrentHashMap"))
    assert(offenders.isEmpty, s"memo maps outside graft.Artifacts: $offenders")
  }
}
