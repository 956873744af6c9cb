package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM's one registry of trained and derived artifacts: edge
  * checkpoints, pair and label tables, BM25 indexes, LMs, codebooks,
  * inferred schemas, the derived partsupp. Every artifact a query
  * reuses across calls is held here, one entry per (kind, key) — the
  * key is normally the corpus dir — as a (fingerprint, value) pair.
  * Reuse within a session with explicit invalidation is the model of
  * "Incremental Based Framework for Efficient Top-K Similarity Search
  * in Interactive Data Analysis Sessions" (EDBT 2020).
  *
  * The rules, for every caller:
  *  - BUILT ONCE, OUTSIDE ANY MAP LOCK. The first caller of a key
  *    installs a pending entry and runs the build on its own thread
  *    with no lock held; concurrent callers of that key wait for that
  *    one build and share its outcome. Builds may nest (a serving
  *    table's build trains its codebook, which trains its centroids):
  *    a nested `get` of another key is an ordinary call. A build
  *    asking for its own key fails instead of deadlocking.
  *  - A FAILED BUILD LEAVES NO ENTRY: its error reaches the builder
  *    and the callers that waited on it, and the next call rebuilds.
  *  - A NEW FINGERPRINT REPLACES THE ENTRY, so a rewritten corpus is
  *    rebuilt and a superseded generation is not retained. The old
  *    value is dropped, never eagerly unpersisted: a concurrent query
  *    may still be running on a stale local checkpoint, which has no
  *    lineage to recompute from, so an eager unpersist fails that job
  *    with lost-block errors. Running jobs keep their RDDs strongly
  *    referenced until they finish; the ContextCleaner then reclaims
  *    the blocks on GC (deferred reclamation).
  *  - A HIT THAT FAILS ITS VALIDITY CHECK IS REBUILT. Sites pass the
  *    checks the fingerprint cannot see: a frame from a stopped or
  *    replaced session (`sparkSession eq s`), or a saved table the
  *    session's catalog no longer has (`tableExists` — this is also
  *    how `Dedup.appendPairs` invalidates a label table).
  */
object Artifacts {

  private final class Entry(val fp: String) {
    val value = new CompletableFuture[Any]()
    @volatile var builder: Thread = Thread.currentThread()
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  /** The (kind, key) artifact for fingerprint `fp`: the held value on
    * a hit, otherwise the value of one `build`. */
  def get[V](kind: String, key: String, fp: String)(build: => V): V =
    getValid[V](kind, key, fp, (_: V) => true)(build)

  /** [[get]], rebuilding a hit that fails `valid`. */
  def getValid[V](kind: String, key: String, fp: String, valid: V => Boolean)(
      build: => V): V = {
    val k = (kind, key)
    var out: Option[V] = None
    while (out.isEmpty) {
      val cur = entries.get(k)
      if (cur != null && cur.fp == fp) {
        if (!cur.value.isDone && (cur.builder eq Thread.currentThread()))
          throw new IllegalStateException(s"artifact $kind/$key requested by its own build")
        val v = try cur.value.join().asInstanceOf[V]
          catch { case e: CompletionException => throw e.getCause }
        if (valid(v)) out = Some(v) else entries.remove(k, cur)
      } else {
        val mine = new Entry(fp)
        val won = if (cur == null) entries.putIfAbsent(k, mine) == null
          else entries.replace(k, cur, mine)
        if (won) {
          val v = try build catch { case t: Throwable =>
            entries.remove(k, mine)
            mine.value.completeExceptionally(t)
            throw t
          }
          mine.builder = null
          mine.value.complete(v)
          out = Some(v)
        }
      }
    }
    out.get
  }

  /** The saved table `name` as the (kind, key) artifact: `write`
    * saves it once per fingerprint, and a hit whose table the session's
    * catalog lacks writes it again. */
  def table(s: SparkSession, kind: String, key: String, fp: String, name: String)(
      write: => Unit): DataFrame = {
    getValid[Unit](kind, key, fp, _ => s.catalog.tableExists(name))(write)
    s.table(name)
  }

  /** Drop the (kind, key) entry; the next `get` builds. */
  def forget(kind: String, key: String): Unit = entries.remove((kind, key))

  /** Drop every entry whose kind satisfies `p`. */
  def forgetKinds(p: String => Boolean): Unit = entries.keySet.removeIf(k => p(k._1))

  /** Keys held for `kind`, sorted. */
  private[graft] def keys(kind: String): Seq[String] =
    entries.keySet.toArray(Array.empty[(String, String)]).toSeq
      .collect { case (`kind`, key) => key }.sorted
}
