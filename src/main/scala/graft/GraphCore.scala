package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph normalization pipeline: arbitrary pair table → canonical undirected edges →
  * degrees → degree-ordered orientation → per-vertex sorted adjacency.
  *
  * This reproduces, as declarative Catalyst plans, the four ingest "rounds" of the
  * reference (`/root/reference/nvtc/TrCountingGraph.cpp:65-274`):
  *   - self-loop drop (TrCountingGraph.cpp:298) → `filter(src =!= dst)`
  *   - duplicate-edge dedup via INTMAX sentinels (TrCountingGraph.cpp:252-268)
  *     → `dropDuplicates` on the canonicalized pair (no sentinel dance)
  *   - degree counting (TrCountingGraph.cpp:101-132; we use exact counts where the
  *     reference sampled — orientation choice never changes the triangle total,
  *     SURVEY.md §7.6)
  *   - low-degree→high-degree edge orientation with id tie-break
  *     (report.md:7, TrCountingGraph.cpp:285-326)
  *   - CSR adjacency build + per-segment sort (TrCountingGraph.cpp:328-363, :276-281)
  *     → `groupBy(src).agg(sort_array(collect_list(dst)))`
  *
  * One pair canonicalization ([[canonicalPairs]]: drop nulls and self-loops,
  * order each pair as (least, greatest), key columns carried in front) feeds
  * [[clean]] (`distinct`), [[cleanWeighted]] (`count as w`) and the per-day
  * edges ([[Ingest.edgesFromEventsDaily]], `distinct` over (day, src, dst)).
  * One fixpoint loop ([[peel]]) serves the k-core here and the k-truss in
  * [[TriangleCount.ktrussEdges]]; only the drop rule differs.
  *
  * Scale notes (100 TB / 1000-executor design):
  *   - `clean` is one shuffle (the `distinct`); canonicalization happens map-side so
  *     the dedup shuffle also co-locates both directions of each undirected edge.
  *   - `degrees` is a partial-aggregated (map-side combined) count — the shuffle
  *     carries one row per (vertex, partition), not per edge.
  *   - the degree table has one row per vertex (≪ edges); AQE turns the orientation
  *     joins into broadcast joins whenever it fits, shuffled hash join otherwise.
  *   - orientation bounds out-degree at O(√m) (report.md:9), which is what keeps the
  *     `collect_list` adjacency segments and the downstream intersection balanced —
  *     hot vertices in a power-law graph land on the *in*-neighbor side, never as a
  *     grouping key with a huge list.
  */
object GraphCore {

  /** Arbitrary (src, dst) pair table → canonical undirected simple edges with
    * `src < dst`: self-loops dropped, nulls dropped, multi-edges deduplicated. */
  def clean(pairs: DataFrame): DataFrame =
    canonicalPairs(pairs).distinct()

  /** Weighted twin of [[clean]]: arbitrary (src, dst) pair table → canonical
    * undirected edges with co-occurrence multiplicity — (src, dst, w) where w
    * counts how often the pair appeared (both directions folded together).
    * Where [[clean]]'s `distinct` throws the multiplicity away, this keeps it
    * as the natural edge weight for weighted kernels. Same single shuffle
    * (the groupBy, map-side combined, canonicalized map-side). */
  def cleanWeighted(pairs: DataFrame): DataFrame =
    canonicalPairs(pairs).groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** The map-side half of [[clean]] and [[cleanWeighted]] (and of the per-day
    * edges, [[Ingest.edgesFromEventsDaily]]): a (keys…, src, dst) pair table
    * without null ends or self-loops, each pair as (keys…, least, greatest).
    * Callers finish it with their own dedup or count over (keys…, src, dst). */
  private[graft] def canonicalPairs(pairs: DataFrame, keys: String*): DataFrame =
    pairs
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(keys.map(col) :+
        least(col("src"), col("dst")).as("src") :+
        greatest(col("src"), col("dst")).as("dst"): _*)

  /** Exact per-vertex degree of the canonical undirected edge set.
    * One row per vertex: (v, deg). */
  def degrees(canonical: DataFrame): DataFrame =
    canonical
      .select(col("src").as("v"))
      .unionAll(canonical.select(col("dst").as("v")))
      .groupBy("v")
      .agg(count(lit(1)).as("deg"))

  /** All distinct vertices of the canonical edge set. */
  def vertices(canonical: DataFrame): DataFrame =
    canonical
      .select(col("src").as("v"))
      .unionAll(canonical.select(col("dst").as("v")))
      .distinct()

  /** Degree-ordered orientation: each undirected edge becomes one directed edge
    * pointing low-degree → high-degree, ties broken by smaller id first
    * (reference rule at report.md:7). Output schema (src, dst); every input edge
    * appears exactly once. */
  def orient(canonical: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("v").as("src"), col("deg").as("deg_src"))
    val dv = deg.select(col("v").as("dst"), col("deg").as("deg_dst"))
    val keep = col("deg_src") < col("deg_dst") ||
      (col("deg_src") === col("deg_dst") && col("src") < col("dst"))
    canonical
      .join(du, "src")
      .join(dv, "dst")
      .select(
        when(keep, col("src")).otherwise(col("dst")).as("src"),
        when(keep, col("dst")).otherwise(col("src")).as("dst"))
  }

  /** Convenience: clean + degrees + orient in one call. */
  def orientClean(pairs: DataFrame): DataFrame = {
    val canonical = clean(pairs)
    orient(canonical, degrees(canonical))
  }

  /** Per-vertex sorted out-adjacency of the oriented edge set — the CSR analog.
    * Output (v, deg, nbrs: array<long> sorted ascending). Out-degree is O(√m) by
    * the orientation invariant, so no single group can blow an executor. */
  def adjacency(oriented: DataFrame): DataFrame =
    oriented
      .groupBy(col("src").as("v"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .select(col("v"), size(col("nbrs")).cast("long").as("deg"), col("nbrs"))

  /** Symmetrized (both-direction) view of an edge set, for kernels that need
    * full neighborhoods (PageRank / CC / LPA): each row appears as given and
    * with `src` and `dst` swapped; any other column (a key, a weight) rides
    * along unchanged. Schema: the input's. */
  def symmetric(edges: DataFrame): DataFrame =
    edges.unionAll(edges.select(edges.columns.toSeq.map {
      case "src" => col("dst").as("src")
      case "dst" => col("src").as("dst")
      case c => col(c)
    }: _*))

  /** CSR offsets + edge-count-balanced block assignment — the Spark analog of the
    * reference's `get_split_v2` (TrCountingGraph.cpp:365-380: lower_bound over the
    * CSR offsets array so every block holds ~equal EDGES, not equal vertices).
    *
    * offset(v) = Σ_{u<v} deg(u) via a genuinely distributed two-level scan:
    *  1. vertices are bucketed by id range (order-preserving, ~`buckets` buckets);
    *  2. a per-bucket window computes the local running sum in parallel;
    *  3. the bucket totals (one row per bucket — tiny at any scale) get a global
    *     running sum and are broadcast back.
    * No single-partition pass ever sees the full vertex set — the only
    * whole-dataset window is over the `buckets`-row totals table.
    *
    * block(v) = floor(offset·k / total): contiguous vertex ranges with ~total/k
    * edges each. Output (v, deg, off, block). Requires non-negative vertex ids. */
  def csrBlocks(adjacency: DataFrame, k: Int, buckets: Int = 1024): DataFrame = {
    // referenced three times (scalar stats, local scan, bucket totals) — persist
    // so the upstream shuffle+collect runs once
    val adj = CacheTracker.persist(adjacency)
    val stats = adj.agg(
      max(col("v")).as("maxv"), sum(col("deg")).as("total"))
    val b = adj
      .crossJoin(broadcast(stats))
      .withColumn("bkt", floor(col("v") / (col("maxv") / buckets + 1)).cast("long"))
      .select(col("v"), col("deg"), col("total"), col("bkt"))
    val byBktOrdered = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val local = b.withColumn("loc", sum(col("deg")).over(byBktOrdered))
    val bucketTotals = b.groupBy("bkt").agg(sum(col("deg")).as("bt"))
    val allPrior = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bucketOffsets = bucketTotals
      .select(col("bkt"), coalesce(sum(col("bt")).over(allPrior), lit(0L)).as("boff"))
    local
      .join(broadcast(bucketOffsets), "bkt")
      .select(col("v"), col("deg"),
        (col("boff") + col("loc") - col("deg")).as("off"),
        floor((col("boff") + col("loc") - col("deg")) * k / col("total")).cast("long").as("block"))
  }

  /** k-core of the canonical undirected edge set: the maximal subgraph in which
    * every vertex has degree ≥ k, by synchronous batch peeling — each round drops
    * every vertex currently under degree k (and its edges) at once, until a
    * fixpoint or the round budget. Peeling a fixpoint removes nothing, so a
    * converged graph yields identical rows under any larger budget — the same
    * idempotence that lets the registered query pin a finite budget and still be
    * expressible as unrolled non-recursive oracle SQL. This is [[peel]] with
    * the below-k degree drop rule; [[TriangleCount.ktrussEdges]] is the same
    * loop on triangle support.
    *
    * Scale shape per round: one map-side-combined degree aggregation (shuffle
    * carries (vertex, partition) partials, not edges) + two anti-joins of the
    * edge set against the small "below-k" vertex list — AQE broadcasts it when
    * it fits, shuffled-hash otherwise; `localCheckpoint` truncates lineage so a
    * deep peel cannot blow the plan (same discipline as [[Components]] rounds).
    * Batch peeling converges in few rounds on power-law graphs (each round
    * removes whole degree layers); worst case (a path) is O(n) rounds — the
    * budget bounds that, and the caller sees exactly `maxRounds` synchronous
    * peels, a well-defined semantics of its own. */
  def kcoreEdges(canonical: DataFrame, k: Int, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    peel(canonical, maxRounds) { e =>
      val low = degrees(e).where(col("deg") < k).select(col("v"))
      e.join(low.withColumnRenamed("v", "src"), Seq("src"), "left_anti")
        .join(low.withColumnRenamed("v", "dst"), Seq("dst"), "left_anti")
    }
  }

  /** Synchronous peel to a fixpoint — the one loop of [[kcoreEdges]] and
    * [[TriangleCount.ktrussEdges]], which differ only in the drop rule (Cohen,
    * "Trusses", 2008: the k-core and the k-truss are the same peel on degree
    * and on triangle support). Each round replaces the (src, dst) edge set
    * with the rows `keep` returns for it, until the set stops changing,
    * empties, or `maxRounds` rounds ran. The survivors take a LAZY
    * `localCheckpoint` that the round's one `count` materializes (one job per
    * round, not a checkpoint job and then a count job), which also truncates
    * lineage so a deep peel cannot blow the plan. Whatever `keep` tracks in
    * [[CacheTracker]] (the truss round's adjacency and block tables) is
    * released once the round's survivors are materialized, so a deep peel
    * never churns toward the tracker's eviction bound. `onRoundEnd(round)`
    * runs after each round. */
  private[graft] def peel(edges: DataFrame, maxRounds: Int, onRoundEnd: Int => Unit = _ => ())(
      keep: DataFrame => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    var e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    var n = e.count()
    var round = 0
    var done = n == 0L
    while (!done && round < maxRounds) {
      val snap = CacheTracker.snapshot(spark)
      val kept = keep(e).select(col("src"), col("dst")).localCheckpoint(false)
      val m = kept.count() // materializes the lazy checkpoint
      CacheTracker.releaseAddedSince(spark, snap)
      done = m == n || m == 0L
      e = kept
      n = m
      round += 1
      onRoundEnd(round)
    }
    e
  }

  /** Surviving vertices of the k-core with their in-core degree (all ≥ k once
    * converged). Output (v, deg) — the [[degrees]] contract over the core. */
  def kcoreVertices(canonical: DataFrame, k: Int, maxRounds: Int = 100): DataFrame =
    degrees(kcoreEdges(canonical, k, maxRounds))

  /** Degree assortativity (Newman 2002): Pearson correlation of endpoint
    * degrees over the symmetrized edge list — positive when hubs attach to
    * hubs, negative in hub-and-spoke graphs. The five sufficient statistics
    * are EXACT integer sums in one map-side-combined aggregate (a single pass
    * over edges joined with the vertex-sized degree table); the correlation is
    * assembled from them in double arithmetic at the end, so the only float
    * steps are deterministic scalar ops — no sum-order sensitivity at all.
    * Output one row (assortativity), NULL for degree-regular graphs (zero
    * variance). */
  def assortativity(canonical: DataFrame): DataFrame = {
    // persisted (round-7): both endpoint legs join the degree table — without
    // it the degree aggregation ran twice (exchange reuse dedupes the shuffle
    // but not the post-shuffle aggregate); at scale this is a full second pass
    // over the edge partials
    val deg = CacheTracker.persist(degrees(canonical))
    val sym = symmetric(canonical)
      .join(deg.select(col("v").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("dy")), "dst")
    sym
      .agg(
        count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(
        // combine in double (exact sums convert exactly below 2^53; long
        // products would ANSI-overflow first on a 10^12-edge graph);
        // zero variance (degree-regular graph) → NULL, in both engines
        round(
          try_divide(
            col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"),
            sqrt((col("m").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")) *
              (col("m").cast("double") * col("syy") - col("sy").cast("double") * col("sy")))),
          6).as("assortativity"))
  }

  /** Per-partition CSR-style layout (north_star): adjacency rows range-partitioned
    * by vertex id and sorted within each partition, so each partition is a
    * contiguous, ordered CSR block — the Spark analog of the reference's
    * node-aligned balanced splits (`get_split_v2`, TrCountingGraph.cpp:365-380).
    * Range partitioning balances by ROW count (sampled), and since orientation
    * bounds every row's array at O(√m), row balance ≈ byte balance. */
  def csrPartitioned(adjacency: DataFrame, numPartitions: Int): DataFrame =
    adjacency
      .repartitionByRange(numPartitions, col("v"))
      .sortWithinPartitions(col("v"))
}
