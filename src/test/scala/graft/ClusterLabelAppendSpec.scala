package graft

import java.nio.file.Files

import graft.operators.Dedup
import graft.sources.Writers

/** Appending gate pairs to a corpus's `graft_pairs_lsh_*` index
  * invalidates its `graft_cc_lsh_*` label table by catalog entry only:
  * the next label read rebuilds from the appended pairs into a fresh
  * generation directory, and a label frame taken before the append
  * still reads, before and after that rebuild. */
class ClusterLabelAppendSpec extends SparkSpec {
  import spark.implicits._

  test("appendPairs: earlier label frames still read; the next label read reflects the append") {
    val wh = new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    // a private corpus: docs 1 and 2 are near-dups (one cluster), doc 3
    // is in no cluster
    val d = Files.createTempDirectory("graft-cc-append").toFile
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank again"),
      (3L, "glaciers carve deep valleys through ancient mountain ranges over millennia"))
      .toDF("doc_id", "text").write.parquet(new java.io.File(d, "documents.parquet").getPath)
    val digest = Writers.tableDigest(d.getPath)
    val (pairs, labels) = (s"graft_pairs_lsh_$digest", s"graft_cc_lsh_$digest")
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      val before = Dedup.lshClusters(spark, d.getPath)
      val labels0 = labelMap(before)
      assert(labels0 == Map(1L -> 1L, 2L -> 1L), s"unexpected clusters: $labels0")
      Dedup.appendPairs(spark, pairs, Seq((3L, 2L)).toDF("doc_a", "doc_b"))

      assert(labelMap(before) == labels0, "a label frame taken before the append changed")
      val after = labelMap(Dedup.lshClusters(spark, d.getPath))
      assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
        s"the label read after the append missed the appended pair: $after")
      assert(labelMap(before) == labels0,
        "a label frame taken before the append stopped reading after the rebuild")
    } finally {
      Seq(pairs, labels).foreach(Writers.dropWithLocation(spark, _))
      new scala.reflect.io.Directory(d).deleteRecursively()
    }
    val left = Option(wh.list()).toSeq.flatten.filter(_.startsWith(labels))
    assert(left.isEmpty, s"dropWithLocation left label directories behind: $left")
  }
}
