package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bipartite motif counting over an incidence table — the bipartite analog of
  * the reference's triangle kernel. A *butterfly* (2×2 biclique: two left
  * vertices sharing two right vertices) is the smallest bipartite cycle,
  * playing exactly the role triangles play in unipartite graphs (clustering,
  * community signal); the engine derives its incidence from the events stream
  * (user × active-hour), the transcript analog being participant × tool.
  *
  * Counting identity: butterflies = Σ_{u<w on one side} C(cn(u, w), 2) where
  * cn is the number of shared right vertices — the same "wedge → choose 2"
  * algebra as the transitivity query, summed over co-membership pairs. The
  * identity holds counted through EITHER side; [[butterflyCount]] counts
  * through the side given as the FIRST column, so callers pick the cheaper
  * orientation (wedge work is Σ_z C(deg z, 2) over the middle side — feed the
  * table (u, hr) to wedge through hours, (hr, u) to wedge through users; the
  * vertex-priority refinement in the literature is this same choice made
  * per-wedge).
  *
  * Scale shape: one equi-join on the middle vertex (the only explosion —
  * inherent, it IS the wedge set), one map-side-combinable count per pair,
  * one global sum. Hot middles concentrate C(deg, 2) rows in a join task;
  * cap/salt as for [[LinkPredict]]. All arithmetic stays integral (`div 2` on
  * the even Σ cn(cn−1)), so the count is exact at any scale — no double
  * rounding on the way up.
  */
object Bipartite {

  /** (u, hr) hourly-activity incidence of the events stream: user u was active
    * in UTC hour hr (hours since epoch — integral, timezone-free). Distinct
    * membership, one shuffle, map-side combined. */
  def hourlyMembership(events: DataFrame): DataFrame =
    events
      .select(col("user_id").as("u"),
        floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L)).cast("long").as("hr"))
      .distinct()

  /** Global butterfly count of the bipartite graph given as a two-column
    * incidence table; wedges run through the SECOND column (the middle side).
    * Output: one row (butterflies: long). */
  def butterflyCount(membership: DataFrame): DataFrame = {
    // Σ cn·(cn−1) is even by construction; integral div keeps the count exact
    // past 2^53 where a double division would silently round
    coMembership(membership).agg(coalesce(sum(col("cn") * (col("cn") - lit(1L))), lit(0L)).as("s"))
      .select(call_function("div", col("s"), lit(2L)).as("butterflies"))
  }

  /** Per-left-vertex butterfly participation: how many butterflies each vertex
    * of the first column sits in — Σ over its co-membership pairs of
    * C(cn, 2), credited to both endpoints (the per-vertex triangle-count
    * analog). Output (v, butterflies), vertices in no butterfly keep a 0 row. */
  def butterflyPerVertex(membership: DataFrame): DataFrame = {
    // ONE explode pass instead of a 2-way unionAll of (a)/(b) selects: the
    // union form replicated the unpersisted wedge join+aggregation subtree
    // into both branches, executing it twice per query (the round-7
    // triangles_per_vertex finding, same fix — identical rows)
    val credits = coMembership(membership)
      .select(explode(array(col("a"), col("b"))).as("v"),
        (col("cn") * (col("cn") - lit(1L))).as("c2"))
      .groupBy("v")
      .agg(call_function("div", sum(col("c2")), lit(2L)).as("butterflies"))
    membership.select(col(membership.columns.head).as("v")).distinct()
      .join(credits, Seq("v"), "left")
      .select(col("v"), coalesce(col("butterflies"), lit(0L)).as("butterflies"))
  }

  /** Co-membership pairs: (a, b, cn) for every pair a < b of first-column
    * vertices sharing cn ≥ 1 second-column (middle) vertices — the wedge join
    * on the middle vertex and one map-side-combinable count per pair. */
  private def coMembership(membership: DataFrame): DataFrame = {
    val Array(leftCol, midCol) = membership.columns
    val l = membership.select(col(leftCol).as("a"), col(midCol).as("z"))
    val r = membership.select(col(leftCol).as("b"), col(midCol).as("z"))
    l.join(r, "z")
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"))
  }
}
