package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType

/** The one certified-bounded gate: the only place that decides whether a
  * relation runs collected on the driver or through its distributed
  * loop. A site passes a budget and a CERTIFICATE — one cheap action
  * proving the relation's size — and takes its driver fast path only
  * within budget; past it the distributed form runs unchanged. One
  * switch, [[Switch]] (default true), turns every fast path off without
  * evaluating any certificate, so the fallback then runs for every
  * input, empty ones included. Specs pin each fast path to its fallback.
  */
object Bounded {

  val Switch = "spark.graft.driverFastPaths"

  /** Driver union-find budget, in DIRECTED (symmetrized) edges — the
    * number `edges.count()` measures in `Dedup.dupClusters`; the
    * collected half (a ≤ b) is budget/2 tuples, ~40 B each (≤ ~80 MB
    * transient). Why 4M: at sf0.1 the LSH dup graphs are ~10⁴–10⁵
    * directed edges and the DBSCAN quotient graph ~10⁴ — far under —
    * while the sf10 LSH corpus measured 54.6 M (r9 sweep), well over, so
    * the delta-frontier loop (the 100 TB story) remains the path wherever
    * the graph is NOT certifiably driver-sized. The budget bounds driver
    * memory by construction, not by testdata accident.
    */
  val CcEdges = 4000000L

  /** Collected Bradley–Terry MM budget in rows of the (i < j) game
    * relation, pair-bounded by construction (≤ C(players, 2)): ~3×10⁵
    * rows at sf0.1 — driver-trivial — while each MM round of the
    * DataFrame loop costs a fixed ~3 jobs (two broadcast builds + the
    * checkpoint) that the r12 PERF scaling block measured
    * core-count-INVARIANT (c8/c32 ratio 0.68–0.87: scheduling floor, not
    * compute). Past it (a genuinely large player universe) the
    * broadcast-join loop runs.
    */
  val BtPairs = 1000000L

  /** Driver triangle-census budget in UNDIRECTED edges. Wedge work is
    * Σ outdeg² ≤ m^1.5 under degree orientation, so 300k edges bounds the
    * driver at ~1.6e8 hash probes worst-case (sub-second); the kNN graphs
    * this runs on are far below (Θ(n·k²) wedges), the sf10 graph above.
    */
  val TriangleEdges = 300000L

  /** Broadcast cell-table budget in VECTORS, shared by every cell-table
    * kernel (kNN graph/delta top-k, within-cell pair emit): 1M 64-dim
    * float vectors ≈ 256 MB flat — the memory class of the broadcast hash
    * relation the join formulations ship. Beyond broadcast size the
    * salted-slice shuffle arm (ABBench) / IVF-PQ tier are the escalation.
    */
  val CellTableRows = 1000000L

  /** Switch on and certificate ≤ budget; the certificate is by-name, so
    * with the switch off no certifying job runs.
    */
  def fits(spark: SparkSession, budget: Long)(certificate: => Long): Boolean =
    spark.conf.get(Switch, "true").toBoolean && certificate <= budget

  /** The type premise of the collected kernels, which read `getLong`. */
  def allLong(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType == LongType)
}
