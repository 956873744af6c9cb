package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.DedupGate

/** Conflicting payloads for one id in one batch: the gate keeps the row
  * whose payload has the greatest xxhash64, whatever the arrival order
  * and the number of input partitions, in the text and embed gates. */
class GateSurvivorSpec extends SparkSpec {
  import spark.implicits._

  /** The four deliveries of `rows`: both arrival orders, in 1 and 4
    * input partitions. */
  private def deliveries(rows: Seq[Row], schema: StructType): Seq[(String, DataFrame)] =
    for {
      (order, rs) <- Seq("as given" -> rows, "reversed" -> rows.reverse)
      parts <- Seq(1, 4)
    } yield s"$order, $parts partitions" ->
      spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)

  /** The payload of `rows` with the greatest xxhash64 of its `cols`. */
  private def greatestHash(rows: Seq[Row], schema: StructType, cols: Seq[String]): Row =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(xxhash64(cols.map(col): _*).desc).head()

  test("text gate: conflicting same-id payloads leave one survivor however they arrive") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = Seq(
      Row(100L, "the quick brown fox jumps over the lazy dog near the river shore"),
      Row(100L, "glaciers carve deep valleys through ancient mountain ranges over millennia"))
    val outcomes = deliveries(rows, schema).map { case (how, df) =>
      val state = new DedupGate.TextGateState(corpus)
      val hits = scala.collection.mutable.ArrayBuffer[String]()
      state.process(df, 0L, (v, _) => hits ++= v.collect().map(_.toString))
      val absorbed = state.index.sh.filter(col("doc_id") === 100L)
        .collect().map(_.getString(1)).sorted.toSeq
      how -> (hits.toSeq, absorbed)
    }
    assert(outcomes.map(_._2).distinct.size == 1, s"survivor depends on delivery: $outcomes")
    val (hits, absorbed) = outcomes.head._2
    val survivor = greatestHash(rows, schema, Seq("text")).getString(1)
    // the near-dup survivor is rejected and absorbs nothing; the fresh
    // one is admitted and absorbs its own shingles
    if (survivor == rows.head.getString(1))
      assert(hits.size == 1 && absorbed.isEmpty, s"near-dup survivor: $hits, $absorbed")
    else {
      val want = graft.functions.TextFunctions
        .shingles(Seq((100L, survivor)).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(_.getString(1)).sorted.toSeq
      assert(hits.isEmpty && absorbed == want, s"fresh survivor: $hits, $absorbed")
    }
  }

  test("embed gate: conflicting same-id payloads leave one survivor however they arrive") {
    val rng = new java.util.Random(5)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = vec()
    val corpus = Seq((1L, base)).toDF("vec_id", "embedding")
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val rows = Seq(
      Row(100L, base.map(x => x + 0.05f * rng.nextGaussian().toFloat).toSeq),
      Row(100L, vec().toSeq))
    val outcomes = deliveries(rows, schema).map { case (how, df) =>
      val state = new DedupGate.EmbedGateState(corpus)
      val hits = scala.collection.mutable.ArrayBuffer[String]()
      state.process(df, 0L, (v, _) => hits ++= v.collect().map(_.toString))
      val absorbed = state.index.vecs.filter(col("vec_id") === 100L)
        .collect().map(_.getSeq[Float](1)).toSeq
      how -> (hits.toSeq, absorbed)
    }
    assert(outcomes.map(_._2).distinct.size == 1, s"survivor depends on delivery: $outcomes")
    val (hits, absorbed) = outcomes.head._2
    val survivor = greatestHash(rows, schema, Seq("embedding")).getSeq[Float](1)
    if (survivor == rows.head.getSeq[Float](1))
      assert(hits.size == 1 && absorbed.isEmpty, s"near-dup survivor: $hits, $absorbed")
    else assert(hits.isEmpty && absorbed == Seq(survivor), s"fresh survivor: $hits, $absorbed")
  }
}
