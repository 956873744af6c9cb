package graft

import java.nio.file.Files

import graft.operators.Dedup
import graft.sources.Writers

/** The LSH pair index and its cluster labels belong to one corpus
  * snapshot: rewriting `documents.parquet` in place so that its only
  * near-dup pair is gone makes the next `lshPairs` and `lshClusters`
  * read empty, instead of serving the pairs of the old snapshot. */
class PairIndexRewriteSpec extends SparkSpec {
  import spark.implicits._

  test("a rewritten corpus rebuilds the pair index and the labels over it") {
    val d = Files.createTempDirectory("graft-pairs-rewrite").toFile
    val docs = new java.io.File(d, "documents.parquet").getPath
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    Seq((1L, s"$fox today"), (2L, s"$fox again"),
      (3L, "glaciers carve deep valleys through ancient mountain ranges over millennia"))
      .toDF("doc_id", "text").write.parquet(docs)
    val digest = Writers.tableDigest(d.getPath)
    def pairs() = Dedup.lshPairs(spark, d.getPath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    def labels() = Dedup.lshClusters(spark, d.getPath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      assert(pairs() == Seq(1L -> 2L))
      assert(labels() == Map(1L -> 1L, 2L -> 1L))
      // doc 2 no longer resembles doc 1
      Seq((1L, s"$fox today"),
        (2L, "saffron threads colour the rice a deep gold in slow kitchens"),
        (3L, "glaciers carve deep valleys through ancient mountain ranges over millennia"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(docs)
      assert(pairs().isEmpty, "lshPairs served the pairs of the rewritten corpus")
      assert(labels().isEmpty, "lshClusters served the labels of the rewritten corpus")
    } finally {
      Seq(s"graft_pairs_lsh_$digest", s"graft_cc_lsh_$digest")
        .foreach(Writers.dropWithLocation(spark, _))
      new scala.reflect.io.Directory(d).deleteRecursively()
    }
  }
}
