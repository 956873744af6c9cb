package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text primitives shared by the text-analysis and dedup operators.
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * / Catalyst SQL expressions — no UDFs, so whole-stage codegen spans
  * the tokenize -> shingle -> hash chain.
  */
object TextFunctions {

  /** Whitespace tokenizer (the corpus is already lowercase; `lower` is
    * applied anyway so the operator is corpus-agnostic). */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** BPE-ish sub-token counter: alpha runs, digit runs, or single
    * non-space symbols — a cheap stand-in for a real BPE vocab that
    * still distinguishes "words" from punctuation/number pieces. */
  def subTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Word n-gram shingles (distinct per doc) from a `text` column —
    * returns a DataFrame of (idCol, shingle): the explode of
    * [[shingleSet]]'s per-document array, built from the same column
    * ([[shingleArray]]). The transform stays columnar: sequence +
    * transform + explode, no UDTF.
    * At scale this is the fan-out stage of MinHash/Jaccard dedup; it
    * pipelines inside the scan stage (no shuffle until the consumer
    * groups by shingle).
    *
    * PRECONDITION (round-21, ADVICE r20): `idCol` must be ROW-UNIQUE
    * in `df` — per-id distinctness is row-local (array_distinct), so
    * two rows sharing an id would double-count their shared shingles
    * (`count == set size` consumers break). Every corpus caller keys
    * by the row-unique doc_id; the streaming gates dedupe their batch
    * ids at the batch boundary ([[graft.streaming.Gate.Absorbing]])
    * before shingling, and the one non-row-unique caller (kmvHashesOf)
    * re-dedupes downstream on its own (source, h) key. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // per-id distinctness is ROW-LOCAL (round-20 optimization pass):
    // array_distinct before the explode replaces the old frame-level
    // .distinct(), which paid a full exchange of the shingle fan-out —
    // the single heaviest shuffle in every shingle consumer. Every
    // caller either keys by a row-unique id (doc_id — identical result
    // set by construction) or re-deduplicates downstream on its own
    // coarser key (kmvHashesOf's (source, h) distinct).
    tokenRows(df, idCol, textCol, n)
      .select(col(idCol), explode(shingleArray(n)).as("shingle"))

  /** Word n-gram shingle SETS: one (idCol, shingles) row per document
    * with at least `n` tokens, `shingles` its distinct n-grams as an
    * array — what set-intersection verify reads
    * (`size(array_intersect(a, b))` is the shared-shingle count).
    * Same precondition as [[shingles]]. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    tokenRows(df, idCol, textCol, n)
      .select(col(idCol), shingleArray(n).as("shingles"))

  private def tokenRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)

  /** The distinct word n-grams of the `toks` column — the ONE
    * definition behind [[shingles]] and [[shingleSet]]. */
  private def shingleArray(n: Int): Column = {
    val parts = (0 until n).map(j => s"toks[i+$j]").mkString(", ' ', ")
    array_distinct(expr(s"transform(sequence(0, size(toks)-$n), i -> concat($parts))"))
  }

  /** Ordered-bigram fan-out: one (idCol, prev, w) row per adjacent
    * token pair, pipelining inside the scan stage — the ONE definition
    * behind both the perplexity scorer and the quality gate, so their
    * LM arithmetic reads the same pairs by construction. */
  def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col(idCol),
        explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS prev, toks[i+1] AS w))"))
          .as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.w").as("w"))

  /** Ordered-trigram fan-out: one (id, w1, w2, w3) row per adjacent
    * token triple — the trigram-LM sibling of [[bigramRows]], shared
    * by the batch perplexity scorer and the trigram quality gate. */
  def trigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col(idCol),
        explode(expr(
          "transform(sequence(0, size(toks)-3), i -> struct(toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3))"))
          .as("tg"))
      .select(col(idCol), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))

  /** Canonical-form document fingerprint: md5 of the
    * whitespace-normalized lowercased text. Exact-dup detection key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  private def md5HexDigit(id: Column, pos: Int): Column =
    instr(lit("0123456789abcdef"),
      substring(md5(id.cast("string")), pos, 1)) - 1

  /** Deterministic 16-way bucket (0-15) from the first md5 hex digit
    * of an id — the ONE definition every split/pack/contamination
    * consumer shares, so their bucket assignments can never drift. */
  def md5Bucket16(id: Column): Column = md5HexDigit(id, 1)

  /** Deterministic 256-way bucket (0-255) from the first two md5 hex
    * digits — finer-grained rates (mixture sampling). */
  def md5Bucket256(id: Column): Column =
    md5HexDigit(id, 1) * 16 + md5HexDigit(id, 2)

  /** Deterministic 24-bit value (0 .. 16,777,215) from the first six
    * md5 hex digits — the uniform hash behind DATA-SIZED bucket counts
    * (`value % nBuckets`), where a fixed 16/256-way split would cap
    * parallelism. Built from the same per-digit primitive as the
    * fixed buckets so every engine (Spark, DuckDB oracle) computes
    * the identical value from the hex string. */
  def md5Value24(id: Column): Column =
    (1 to 6).map(i =>
      md5HexDigit(id, i).cast("long") * lit(1L << (4 * (6 - i)))).reduce(_ + _)

  /** The train/val/test assignment over [[md5Bucket16]]: 13/2/1
    * sixteenths. Single definition — qDataSplit and qContamination
    * must describe the SAME split. */
  def splitFromBucket(bucket: Column): Column =
    when(bucket < 13, "train").when(bucket < 15, "val").otherwise("test")

  /** Per-language stopword profiles for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "you", "wo", "he"))
}
