package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank over the undirected graph (each canonical edge counted in both
  * directions, so there are no dangling vertices: every vertex has out-degree ≥ 1).
  *
  * Not present in the reference (it is triangle-count only) — required by
  * BASELINE.json north_star; semantics follow the standard published definition
  * (Page et al. 1999): pr⁰ = 1/n, prᵏ⁺¹(v) = (1−d)/n + d·Σ_{u→v} prᵏ(u)/outdeg(u),
  * damping d = 0.85, convergence when max |prᵏ⁺¹ − prᵏ| < tol (1e-6 per north_rule).
  *
  * Every entry point runs the one loop, [[iterate]], parameterised by key
  * columns (per-key subgraphs), an edge weight and a teleport predicate.
  *
  * Scale shape: the edge table is joined with out-degrees ONCE, hash-partitioned by
  * (keys, `src`), and persisted — each iteration then shuffles only the rank table
  * (one row per vertex) into that fixed partitioning and aggregates map-side.
  * Tolerance mode takes one `max(abs(delta))` action and truncates lineage with a
  * lazy `localCheckpoint` every iteration; fixed-iteration mode takes no action and
  * truncates every [[lineageEvery]] iterations. Durable resumable snapshots go
  * through [[Checkpoint]] when `checkpointDir` is set.
  */
object PageRank {

  /** Run to convergence (or `maxIter`). Output (v: long, pr: double). */
  def run(
      canonical: DataFrame,
      maxIter: Int = 100,
      tol: Double = 1e-6,
      damping: Double = 0.85,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5): DataFrame =
    iterate(GraphCore.symmetric(canonical), Nil, lit(1L), _ => lit(true), maxIter, Some(tol), damping,
      checkpointDir, checkpointEvery)

  /** Run exactly `iters` iterations (no convergence action) — the oracle-checkable
    * variant. Output (v, pr). */
  def fixedIterations(canonical: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    iterate(GraphCore.symmetric(canonical), Nil, lit(1L), _ => lit(true), iters, None, damping)

  /** Weighted PageRank at exactly `iters` iterations over a canonical weighted
    * edge table (src, dst, w): contributions proportional to edge weight,
    * prᵏ⁺¹(v) = (1−d)/n + d·Σ_{u→v} prᵏ(u)·w(u,v)/wdeg(u) with wdeg the
    * weighted degree. The (pr·w)/wdeg association mirrors the oracle's
    * left-to-right SQL evaluation so rounded ranks can never drift.
    *
    * The symmetrized edges are tracker-persisted: `weighted` is typically an
    * UNCACHED derivation (scan + window + aggregate) that the degree and links
    * branches would otherwise each execute; they stay cached until the harness
    * releases the query, because the returned rank chain is lazy. Output (v, pr). */
  def weightedFixedIterations(weighted: DataFrame, iters: Int, damping: Double = 0.85): DataFrame =
    iterate(CacheTracker.persist(GraphCore.symmetric(weighted.select(col("src"), col("dst"), col("w"))),
      StorageLevel.MEMORY_AND_DISK), Nil, col("w"), _ => lit(true), iters, None, damping)

  /** Per-key (e.g. per-day) PageRank at exactly `iters` iterations over a
    * keyed canonical edge table (key, src, dst): each key's subgraph ranks
    * independently — the temporal-centrality kernel (who mattered on which
    * day). The key rides in every join and group key, so the shuffle
    * co-partitions on (key, vertex) and distinct keys proceed in parallel
    * with zero cross-talk, exactly like [[TriangleCount.globalPerKey]].
    * Output (key, v, pr). */
  def fixedIterationsKeyed(
      keyed: DataFrame,
      iters: Int,
      damping: Double = 0.85,
      key: String = "day"): DataFrame =
    iterate(GraphCore.symmetric(keyed.select(col(key), col("src"), col("dst"))), Seq(key), lit(1L),
      _ => lit(true), iters, None, damping)

  /** Personalized PageRank at exactly `iters` iterations: random walk with
    * restart into a source SET — teleport mass goes only to vertices matching
    * `isSource` (uniformly), so ranks measure proximity to the sources
    * (Jeh & Widom 2003 semantics, fixed-iteration form).
    *
    * `isSource` is a pure column predicate over the vertex id (e.g.
    * `v => pmod(v, 7) === 0`), NOT a vertex table: evaluating it per-row keeps
    * the per-iteration plan join-free on the vertex side — the same
    * "only the rank table moves" discipline as the global kernel (a source
    * TABLE would re-introduce the per-iteration vertex join the round-3 work
    * removed). For an extensional source list, ship it as a broadcast IN-list
    * or a Bloom predicate. A predicate no vertex matches fails the query.
    * Output (v, pr); Σ pr ≤ 1 with the deficit being walk mass absorbed at
    * restart — the standard PPR normalization. */
  def personalizedFixedIterations(
      canonical: DataFrame,
      isSource: Column => Column,
      iters: Int,
      damping: Double = 0.85): DataFrame =
    iterate(GraphCore.symmetric(canonical), Nil, lit(1L), isSource, iters, None, damping)

  /** Fixed-iteration lineage-truncation period: every `lineageEvery` iterations
    * the rank table gets a (lazy) localCheckpoint, bounding plan depth without
    * a per-iteration cache materialization. */
  private[graft] val lineageEvery = 5

  /** The PageRank loop over `sym`, the edges in both directions
    * ([[GraphCore.symmetric]]). `keys` rank each key's subgraph independently
    * (empty: one graph); `w` is the edge weight, evaluated on `sym`'s rows
    * (`lit(1L)`: unweighted — pr·1 is exact, so each contribution equals
    * pr/deg); teleport mass goes uniformly to the vertices matching `teleport`
    * (`lit(true)`: global PageRank). Each key's teleport denominator n (its
    * count of teleport vertices) rides WITH the rank rows — constant per key,
    * re-emitted by `max` in the aggregate — so no iteration joins a counts
    * table. `tol = None` runs exactly `maxIter` iterations. Output (keys…, v, pr). */
  private def iterate(
      sym: DataFrame,
      keys: Seq[String],
      w: Column,
      teleport: Column => Column,
      maxIter: Int,
      tol: Option[Double],
      damping: Double,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5): DataFrame = {
    val kc = keys.map(col)
    val deg = sym.groupBy(kc :+ col("src"): _*).agg(sum(w).as("deg"))
    // (keys, src, dst, [w,] deg): out-edges with the sender's (weighted) degree,
    // partitioned once by the join key every iteration reuses
    val links = sym.join(deg, keys :+ "src")
      .repartition(kc :+ col("src"): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vertex set from the PERSISTED links table: every vertex appears as src in
    // the symmetrized sym, and the inner degree join preserves every sym row —
    // identical set. The distinct inherits links' hash(keys, src) partitioning
    // and plans with NO exchange, vs an edge-scale shuffle of the raw endpoints
    val verts = links.select(kc :+ col("src").as("v"): _*).distinct()
    val n = verts.groupBy(kc: _*).agg(count(when(teleport(col("v")), 1)).as("n"))
    def tele(mass: Double, n: Column): Column =
      when(teleport(col("v")), lit(mass) / n).otherwise(lit(0.0))

    val (startIter, start) = checkpointDir.flatMap(Checkpoint.resume(sym.sparkSession, _)) match {
      case Some((i, snap)) => (i + 1, snap)
      case None =>
        (0, verts.join(n, keys).select(kc :+ col("v") :+
          when(col("n") === 0, raise_error(lit("PageRank needs at least one teleport vertex per key")))
            .otherwise(tele(1.0, col("n"))).as("pr") :+ col("n"): _*))
    }
    var ranks = start.localCheckpoint(false)
    var iter = startIter
    var converged = false
    while (iter < maxIter && !converged) {
      // No per-iteration vertex left-join: the graph is symmetrized, so every
      // vertex has an in-neighbor and appears in the contribution aggregate.
      val contrib = links
        .join(ranks.withColumnRenamed("v", "src"), keys :+ "src")
        .select(kc :+ col("dst").as("v") :+ (col("pr") * w / col("deg")).as("c") :+ col("n"): _*)
        .groupBy(kc :+ col("v"): _*)
        .agg((tele(1.0 - damping, max(col("n"))) + lit(damping) * sum(col("c"))).as("pr"),
          max(col("n")).as("n"))
      // LAZY checkpoint: in tol mode the delta action materializes it in the
      // same job and EVERY iteration must truncate (the action re-reads `next`
      // and `ranks`); in fixed-iteration mode nothing reads the intermediate
      // ranks, so truncating every [[lineageEvery]] iterations bounds plan
      // depth with fewer rank-table cache materializations in the final job
      val next =
        if (tol.isDefined || (iter - startIter) % lineageEvery == lineageEvery - 1
          || iter + 1 == maxIter)
          contrib.localCheckpoint(false)
        else contrib
      tol.foreach { t =>
        // max |Δpr| as a union + per-vertex sum (pr + (−pr_old) is exactly
        // pr − pr_old), not a join: a join of two checkpointed tables plans
        // from their size estimates, which grow every iteration, and flips to
        // a two-shuffle sort-merge form; this plan is one shuffle whatever
        // the estimates. The row count is the vertex count (the "n" metric).
        val r = next.select(kc :+ col("v") :+ col("pr"): _*)
          .unionAll(ranks.select(kc :+ col("v") :+ (-col("pr")).as("pr"): _*))
          .groupBy(kc :+ col("v"): _*).agg(sum(col("pr")).as("d"))
          .agg(max(abs(col("d"))), count(lit(1)))
          .first()
        converged = r.getDouble(0) < t
        Checkpoint.saveIfDue(checkpointDir, checkpointEvery, iter, converged || iter + 1 == maxIter)(
          next, Map("max_delta" -> r.getDouble(0), "n" -> r.getLong(1).toDouble))
      }
      ranks = next
      iter += 1
    }
    links.unpersist()
    ranks.select(kc :+ col("v") :+ col("pr"): _*)
  }
}
