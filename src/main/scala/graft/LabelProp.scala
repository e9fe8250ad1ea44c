package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) with a fully deterministic
  * tie-break so results are reproducible across cluster sizes: each step, a vertex
  * adopts the most frequent label among its neighbors; ties go to the smallest label.
  * Labels start as vertex ids. Fixed iteration count (synchronous LPA is not
  * guaranteed to converge — oscillation on bipartite structures is expected).
  *
  * Not in the reference; required by BASELINE.json north_star.
  *
  * Scale shape: one shuffle per step for the (neighbor-label → count) aggregation and
  * one for the per-vertex argmax — a `max_by` aggregate (map-side combinable, no
  * per-vertex sort), not a window: the round-3 `row_number` form re-shuffled AND
  * sorted the whole count table per step just to pick the max. Lineage truncated per
  * step; durable checkpoints via [[Checkpoint]] when `checkpointDir` is set.
  */
object LabelProp {

  /** Run `iters` synchronous steps. Output (v, label). */
  def run(
      canonical: DataFrame,
      iters: Int,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5): DataFrame =
    propagate(GraphCore.symmetric(canonical), lit(1L), iters, checkpointDir, checkpointEvery)

  /** Weighted synchronous LPA over a canonical weighted edge table
    * (src, dst, w): neighbor votes count w(u,v) instead of 1, so strongly
    * co-occurring pairs pull labels harder — the natural pairing of
    * [[PageRank.weightedFixedIterations]] on the
    * [[Ingest.weightedEdgesFromEvents]] multiplicity edges. Same deterministic
    * (weight desc, label asc) tie-break and the same map-side-combinable
    * `max_by` argmax (no window) as the unweighted run. */
  def runWeighted(weighted: DataFrame, iters: Int): DataFrame =
    propagate(GraphCore.symmetric(weighted.select(col("src"), col("dst"), col("w"))), col("w"), iters)

  /** The LPA loop over `edges`, the edges in both directions
    * ([[GraphCore.symmetric]]): `iters` synchronous [[step]]s whose votes weigh
    * `w` (evaluated on the edge rows; `lit(1L)`: unweighted). */
  private def propagate(
      edges: DataFrame,
      w: Column,
      iters: Int,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5): DataFrame = {
    // LAZY checkpoints throughout (round-7): every eager localCheckpoint here
    // was its own blocking job (sym, init, one per step — 4+ job round-trips
    // per query); nothing reads an intermediate between steps, so the single
    // final action materializes the whole chain in one job while each
    // checkpoint still caches and truncates lineage exactly as before.
    val sym = edges
      .repartition(col("src"))
      .localCheckpoint(false)
    val (startIter, init) = checkpointDir.flatMap(Checkpoint.resume(edges.sparkSession, _)) match {
      case Some((i, snap)) => (i + 1, snap)
      case None =>
        // vertex set from the CHECKPOINTED sym (every vertex appears as src in
        // the symmetrized table — identical set): the distinct inherits sym's
        // hash(src) partitioning, so it plans with NO exchange, vs the
        // union + full-shuffle distinct of vertices(canonical)
        (0, sym.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("label")))
    }
    var labels = init.localCheckpoint(false)
    var iter = startIter
    while (iter < iters) {
      labels = step(sym, labels, w).localCheckpoint(false)
      Checkpoint.saveIfDue(checkpointDir, checkpointEvery, iter, iter + 1 == iters)(labels)
      iter += 1
    }
    labels
  }

  /** Newman modularity contributions of a vertex partition over the canonical
    * undirected edge table: per community c,
    * `q_contrib = e_c/m − (d_c/2m)²` where e_c = intra-community edges, d_c =
    * degree mass, m = |E| — so `sum(q_contrib)` is the classic Q score of the
    * partition (Newman & Girvan 2004). Output (label, n_vertices, intra_edges,
    * deg_sum, q_contrib) with q_contrib rounded to 6 — every input to the
    * arithmetic is an integer, so the double result is bit-identical across
    * engines and the rounding is a display contract, not a fudge.
    *
    * Scale shape: two broadcast-sized joins of `labels` (vertex-sized — the
    * same table PageRank ships per iteration) onto the edge table, one
    * per-community aggregation, and a 1-row m table cross-joined in. No
    * windows, no per-vertex sorts; everything map-side combinable. */
  def communityModularity(canonical: DataFrame, labels: DataFrame): DataFrame = {
    val m = canonical.agg(count(lit(1)).cast("double").as("m"))
    val byLabel = GraphCore.degrees(canonical)
      .join(labels, "v")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("deg_sum"))
    val intra = canonical
      .join(labels.select(col("v").as("src"), col("label").as("ls")), "src")
      .join(labels.select(col("v").as("dst"), col("label").as("ld")), "dst")
      .where(col("ls") === col("ld"))
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    byLabel
      .join(intra, Seq("label"), "left")
      .crossJoin(m)
      .select(col("label"), col("n_vertices"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"), col("deg_sum"),
        // + 0.0 normalizes IEEE negative zero: a singleton community rounds to
        // -0.0 in DuckDB but +0.0 here — same value, different hash bits
        (round(coalesce(col("intra_edges"), lit(0L)) / col("m")
          - pow(col("deg_sum") / (lit(2.0) * col("m")), 2), 6) + lit(0.0)).as("q_contrib"))
  }

  /** One synchronous step: (v, label) → (v, label), each neighbor voting with
    * weight `w` — with `w = 1L` the vote sum equals the neighbor count, as the
    * same `long`. Every vertex of `sym` has ≥1 neighbor, so the output covers
    * the same vertex set. */
  private[graft] def step(sym: DataFrame, labels: DataFrame, w: Column = lit(1L)): DataFrame = {
    // argmax by (vote desc, label asc): maximize (n, -nlbl). Labels are vertex
    // ids ≥ 0 in every ingest path, so -nlbl cannot overflow.
    sym
      .join(labels.select(col("v").as("src"), col("label").as("nlbl")), "src")
      .groupBy(col("dst").as("v"), col("nlbl"))
      .agg(sum(w).as("n"))
      .groupBy("v")
      .agg(max_by(col("nlbl"), struct(col("n"), -col("nlbl"))).as("label"))
  }
}
