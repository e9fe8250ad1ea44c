package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first distances — the shortest-path primitive the
  * other kernels don't cover (PageRank measures proximity by walk mass; this
  * measures it in hops). Synchronous min-plus relaxation: dist⁰ = 0 on the
  * source set, distᵏ⁺¹(v) = min(distᵏ(v), 1 + min over neighbors distᵏ(u)).
  * A fixed round budget R yields exact distances for every vertex within R
  * hops of a source; relaxing a fixpoint changes nothing (the same budget
  * idempotence as the k-core/k-truss peels), so the registered query is
  * expressible as unrolled non-recursive oracle SQL.
  *
  * Scale shape per round: the edge table (partitioned once by `src`, reused
  * every round) joins the current distance table — only the vertex-sized
  * distance rows move — then one map-side-combined `min` aggregate;
  * `localCheckpoint` truncates lineage. This is the [[PageRank]] iteration
  * discipline with (min, +1) in place of (sum, ·damping/deg). Unreached
  * vertices carry no row (a frontier that hasn't arrived is absence, not a
  * sentinel — no ∞ constant to overflow or leak).
  *
  * One loop ([[frontierRounds]]) serves both entry points: it takes key
  * columns, as the PageRank loop does — no key is one multi-source search
  * ([[distances]]), the source column `s` is one search per source
  * ([[distancesPerSource]], behind [[harmonicCentrality]]).
  */
object Bfs {

  /** Hop distances from the source set selected by the per-row `isSource`
    * predicate (same predicate-not-table contract as
    * [[PageRank.personalizedFixedIterations]], and for the same reason: no
    * per-round vertex join). Output (v, dist) for vertices reached within
    * `rounds` hops; on a connected graph with rounds ≥ diameter this is every
    * vertex. [[frontierRounds]] with no key: one BFS from the whole set. */
  def distances(
      canonical: DataFrame,
      isSource: Column => Column,
      rounds: Int): DataFrame =
    frontierRounds(canonical, Nil,
      GraphCore.vertices(canonical).where(isSource(col("v"))), rounds)

  /** Per-source hop distances: [[frontierRounds]] keyed by the source vertex
    * `s`, so each source's BFS runs independently in one shared loop (the
    * keyed-kernel pattern of `PageRank.fixedIterationsKeyed`). Output
    * (s, v, dist) for pairs within `rounds` hops. The frontier/settled
    * tables are (source × reached)-sized — at 100 TB you SAMPLE sources (the
    * standard estimator for centralities; `isSource` is that sample predicate)
    * rather than run all-pairs. */
  def distancesPerSource(
      canonical: DataFrame,
      isSource: Column => Column,
      rounds: Int): DataFrame =
    frontierRounds(canonical, Seq("s"),
      GraphCore.vertices(canonical).where(isSource(col("v"))).select(col("v").as("s"), col("v")),
      rounds)

  /** The BFS loop: one independent search per key value (none: one search),
    * from the seed rows (keys…, v) at distance 0. Output (keys…, v, dist).
    *
    * Frontier-delta form: in unweighted BFS a settled distance never improves,
    * so only the vertices settled LAST round propagate — round r probes the
    * edges incident to the frontier (AQE broadcasts the small frontier into
    * the pre-partitioned edge table), dedups the reached set map-side, and
    * anti-joins the settled table on (keys…, v). Total aggregated rows across
    * ALL rounds ≈ m per key, versus m·rounds for the naive re-relax-everything
    * min-plus (which this replaced: measured 0.67 N→4N efficiency from paying
    * a full-edge aggregate per round; each edge now shuffles at most once per
    * key, when its source enters that key's frontier). */
  private def frontierRounds(
      canonical: DataFrame,
      keys: Seq[String],
      seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val kc = keys.map(col)
    val sym = GraphCore.symmetric(canonical)
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var settled = seeds.select(kc :+ col("v") :+ lit(0L).as("dist"): _*).localCheckpoint(false)
    var frontier = settled
    for (r <- 1 to rounds) {
      val next = sym
        .join(frontier.select(kc :+ col("v").as("src"): _*), "src")
        .select(kc :+ col("dst").as("v"): _*)
        .distinct()
        .join(settled.select(kc :+ col("v"): _*), keys :+ "v", "left_anti")
        .select(kc :+ col("v") :+ lit(r.toLong).as("dist"): _*)
        .localCheckpoint(false)
      // plain union of the per-round CACHED frontiers (round-7): checkpointing
      // the union re-cached the whole growing settled set every round —
      // O(n·rounds) duplicate cache writes; the union of cached frames costs
      // nothing to re-read and its lineage depth is bounded by the round budget
      settled = settled.unionAll(next)
      frontier = next
    }
    sym.unpersist()
    settled
  }

  /** Harmonic centrality of the sampled source set: H(s) = Σ_{v≠s} 1/d(s,v)
    * over vertices within `rounds` hops (Boldi & Vigna 2014 — the
    * finite-by-construction closeness variant; unreached pairs contribute 0,
    * so a fixed hop budget is the standard truncated estimator). Output
    * (v, harmonic, n_reached), harmonic rounded to 6 (1/d terms are a handful
    * of exact-ish values; summation-order jitter ~1e-13 against 1e-6). */
  def harmonicCentrality(
      canonical: DataFrame,
      isSource: Column => Column,
      rounds: Int): DataFrame =
    distancesPerSource(canonical, isSource, rounds)
      .where(col("dist") > 0)
      .groupBy(col("s").as("v"))
      .agg(round(sum(lit(1.0) / col("dist")), 6).as("harmonic"),
        count(lit(1)).as("n_reached"))
}
