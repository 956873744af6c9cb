package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.DedupGate

/** The text gate's set-intersection verify against an exact-Jaccard
  * recomputation made on the driver (the qNgramJaccard shape restricted
  * to the new side), batch by batch, on an in-memory and a disk index,
  * with and without the over-[[DedupGate.MaxVerifyIds]] join fallback:
  * hit sets and jaccard doubles are equal, and what each batch absorbs
  * equals the shingle rows and band rows computed fresh for its
  * admitted documents. */
class TextGateVerifySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new java.util.Random(7)
  private val vocab = Vector.tabulate(400)(i => s"w$i")
  private def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
  private def text(ws: Vector[String]): String = ws.mkString(" ")
  /** `ws` with the word at `pos` replaced: one changed word removes at
    * most three of ~24 shingles, Jaccard ≥ 0.7. */
  private def edit(ws: Vector[String], pos: Int): Vector[String] =
    ws.updated(pos, s"x${rng.nextInt(1000000)}")

  private val corpusWords: Map[Long, Vector[String]] =
    (1L to 30L).map(_ -> words(26)).toMap
  private val fresh: Map[Long, Vector[String]] =
    Seq(101L, 103L, 201L, 202L, 301L).map(_ -> words(26)).toMap

  /** Batches: near-dups of corpus docs, intra-batch near-dup groups
    * (keep-lowest-id), a re-ingested corpus id, a repeat of an earlier
    * batch's admit and near-dups of earlier admits. */
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    Seq(
      100L -> text(edit(corpusWords(3L), 10)),
      101L -> text(fresh(101L)),
      102L -> text(edit(fresh(101L), 5)),
      103L -> text(fresh(103L)),
      104L -> text(edit(fresh(103L), 20)),
      105L -> text(edit(fresh(103L), 0)),
      5L -> text(corpusWords(5L))),
    Seq(
      103L -> text(fresh(103L)),
      200L -> text(edit(fresh(101L), 12)),
      201L -> text(fresh(201L)),
      202L -> text(fresh(202L)),
      203L -> text(edit(fresh(202L), 8)),
      204L -> text(edit(corpusWords(7L), 2))),
    Seq(
      300L -> text(edit(fresh(201L), 15)),
      301L -> text(fresh(301L)),
      302L -> text(edit(fresh(301L), 1)),
      201L -> text(fresh(201L))))

  private def shingleSet(t: String): Set[String] = {
    val toks = t.trim.toLowerCase.split("\\s+").toVector
    if (toks.size < 3) Set.empty else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** The exact hits of `batch` against `population`: every (new, dup_of)
    * with Jaccard ≥ 0.5, dup_of from the population (self-hits
    * included) or a lower batch id the population lacks. */
  private def exactHits(population: Map[Long, Set[String]],
      batch: Map[Long, Set[String]]): Map[(Long, Long), Double] = {
    def j(a: Set[String], b: Set[String]): Double = {
      val shared = a.intersect(b).size
      shared.toDouble / (a.size + b.size - shared)
    }
    val dupOf = population ++ batch.filter { case (id, _) => !population.contains(id) }
    (for {
      (a, sa) <- batch.toSeq
      (b, sb) <- dupOf.toSeq
      if population.contains(b) || b < a
      jab = j(sa, sb)
      if jab >= Dedup.JaccardThreshold
    } yield (a, b) -> jab).toMap
  }

  private def setsOf(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
    docs.map { case (id, t) => id -> shingleSet(t) }.toMap

  /** Per batch, the exact hits and the admitted docs, the population
    * growing by each batch's admits. */
  private lazy val model: Seq[(Map[(Long, Long), Double], Seq[(Long, String)])] = {
    var population = corpusWords.map { case (id, ws) => id -> shingleSet(text(ws)) }
    batches.map { docs =>
      val want = exactHits(population, setsOf(docs))
      val rejected = want.keySet.map(_._1)
      val admitted = docs.filterNot { case (id, _) => rejected.contains(id) }
      population ++= setsOf(admitted)
      (want, admitted)
    }
  }

  private def freshTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    new scala.reflect.io.Directory(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
      .deleteRecursively()
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def runGate(tag: String, disk: Boolean): Unit = {
    val content = s"graft_spec_tgv_content_$tag"
    val pairs = s"graft_spec_tgv_pairs_$tag"
    Seq(content, pairs).foreach(freshTable)
    graft.sources.Writers.writeBucketed(
      spark.range(0).selectExpr("id AS doc_a", "id AS doc_b"), "doc_b",
      Dedup.PairIndexBuckets, pairs)
    val corpus = corpusWords.toSeq.map { case (id, ws) => (id, text(ws)) }
      .toDF("doc_id", "text")
    val state = new DedupGate.TextGateState(corpus, pairTable = Some(pairs),
      corpusTable = if (disk) Some(content) else None)
    def contentRows: DataFrame = if (disk) spark.table(content) else state.index.sh

    var persisted = Set.empty[(Long, Long)]
    batches.zip(model).zipWithIndex.foreach { case ((docs, (want, admitted)), i) =>
      val got = scala.collection.mutable.ArrayBuffer[((Long, Long), Double)]()
      state.process(docs.toDF("doc_id", "text"), i.toLong, (df, _) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)))
      assert(got.map(_._1).distinct.size == got.size, s"$tag batch $i: repeated pair rows $got")
      assert(got.toMap == want,
        s"$tag batch $i: gate hits differ from exact Jaccard: got ${got.toMap}, want $want")

      // what the batch absorbed equals the fresh build over its admits
      val ids = admitted.map(_._1)
      val freshRows = TextFunctions.shingles(admitted.toDF("doc_id", "text"), "doc_id", "text")
      assert(rowsOf(contentRows.filter(col("doc_id").isin(ids: _*))) == rowsOf(freshRows),
        s"$tag batch $i: absorbed content rows differ from shingles(admitted)")
      assert(rowsOf(state.index.bands.filter(col("doc_id").isin(ids: _*))) ==
        rowsOf(Dedup.lshBands(Dedup.minhashSignatures(freshRows))),
        s"$tag batch $i: absorbed band rows differ from a fresh MinHash of the admits")

      // hits reach the pair table canonicalized; self-hits never do
      persisted ++= want.keySet.collect { case (a, b) if a != b => (a min b, a max b) }
      assert(spark.table(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        persisted, s"$tag batch $i: pair table differs from the non-self hits")
    }
    Seq(content, pairs).foreach(freshTable)
  }

  private def withCap[A](cap: Int)(body: => A): A = {
    val old = DedupGate.MaxVerifyIds
    DedupGate.MaxVerifyIds = cap
    try body finally DedupGate.MaxVerifyIds = old
  }

  test("the batches cover every verify population") {
    val hits = model.flatMap(_._1.keySet)
    val batchIds = batches.flatten.map(_._1).toSet
    def covers(what: String)(p: ((Long, Long)) => Boolean): Unit =
      assert(hits.exists(p), s"no $what hit in $hits")
    covers("corpus near-dup") { case (a, b) => a != b && corpusWords.contains(b) }
    covers("re-ingested corpus id") { case (a, b) => a == b && corpusWords.contains(a) }
    covers("repeated admit") { case (a, b) => a == b && !corpusWords.contains(a) }
    covers("batch-id near-dup") { case (a, b) => a != b && batchIds.contains(b) }
    assert(model.head._1.keySet.contains((102L, 101L)) &&
      Set((104L, 103L), (105L, 103L), (105L, 104L)).subsetOf(model.head._1.keySet),
      "the intra-batch groups are not near-dups of their lowest id")
  }

  test("in-memory index: hits and jaccard equal exact Jaccard; absorbs equal a fresh build") {
    runGate("mem", disk = false)
  }

  test("disk index: hits and jaccard equal exact Jaccard; absorbs equal a fresh build") {
    runGate("disk", disk = true)
  }

  test("Index.absorb of admitted docs (no verify frames) equals the fresh build") {
    val newDocs = batches.head.filterNot(d => corpusWords.contains(d._1))
    val docs = newDocs.toDF("doc_id", "text")
    val corpus = corpusWords.toSeq.map { case (id, ws) => (id, text(ws)) }
      .toDF("doc_id", "text")
    val idx = DedupGate.indexCorpus(corpus).absorb(docs)
    val ids = newDocs.map(_._1)
    val freshRows = TextFunctions.shingles(docs, "doc_id", "text")
    assert(rowsOf(idx.sh.filter(col("doc_id").isin(ids: _*))) == rowsOf(freshRows))
    assert(rowsOf(idx.bands.filter(col("doc_id").isin(ids: _*))) ==
      rowsOf(Dedup.lshBands(Dedup.minhashSignatures(freshRows))))
  }

  test("over-cap join fallback, memory and disk: same hits, same absorbs") {
    withCap(1) {
      runGate("mem_cap", disk = false)
      runGate("disk_cap", disk = true)
    }
  }
}
