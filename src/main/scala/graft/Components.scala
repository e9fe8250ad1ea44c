package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components. Labels are exact: every vertex is labeled with the minimum
  * vertex id of its component (north_rule: exact labels).
  *
  * Not in the reference (triangle-count only); required by BASELINE.json north_star.
  *
  * The production algorithm is alternating large-star/small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014): converges in
  * O(log² n) rounds on any graph — crucially NOT O(diameter), which is what makes it
  * hold at 100 TB where a naive min-propagation on a long-path component would need
  * thousands of shuffles. Each round is two grouped-min aggregations + joins, all
  * map-side combinable; the edge set only shrinks toward the final star forest.
  *
  * [[minPropagation]] (O(diameter) rounds) is kept as the differential-testing
  * reference for the star algorithm.
  */
object Components {

  /** Exact component labels via large-star/small-star. Output (v, component).
    *
    * `largeStarForm` selects the large-star physical form: `"window"` (default
    * — the partition-by-src window min, measured fastest at every hub size up
    * to 8M, BENCH.md §hub-skew) or `"agg"` (the map-side-combinable
    * groupBy-min + rejoin twin, [[largeStarAgg]]'s plan — the escape for the
    * regime where one hub's neighborhood exceeds a task; raced at the
    * 141M-edge input per round-5 verdict #2 — BENCH.md §round-6: speed tie at
    * both 8 and 32 threads and near-identical fitted round overhead K, so the
    * window sort is NOT the fixed-round bound, but the window form needed 2×
    * the heap at 32 threads (execution-memory abort in the hub sort at 8 GB;
    * the agg form completed in 8 GB at both levels) — pick `"agg"` for
    * ≥10⁸-edge dense inputs at high thread-per-GB ratios). Results are
    * identical (differential-tested); the agg form persists each round's
    * symmetrized edge set for its two passes and drops it as soon as the
    * round's checkpoint materializes. */
  def run(canonical: DataFrame, maxRounds: Int = 50, largeStarForm: String = "window"): DataFrame = {
    require(largeStarForm == "window" || largeStarForm == "agg",
      s"unknown largeStarForm '$largeStarForm' (window | agg)")
    stars(canonical, Nil, maxRounds, largeStarForm)
  }

  /** Per-key (e.g. per-day) component labels over a keyed canonical edge table
    * (key, src, dst): the same alternating star rounds with the key prefixed to
    * every window partition, group key, and distinct — each key's subgraph
    * converges independently inside the ONE shared loop (rounds needed = max
    * over keys, still O(log² n)), shuffles co-partition on (key, vertex), and
    * keys never interact. Output (key, v, component), component = min vertex id
    * within the key's subgraph. */
  def runKeyed(keyed: DataFrame, maxRounds: Int = 50, key: String = "day"): DataFrame =
    stars(keyed, Seq(key), maxRounds, "window")

  /** The star loop: alternating large-star/small-star rounds over the edges of
    * each `keys` group (empty: one graph) until the edge set is a fixpoint.
    * The `"agg"` large-star form exists only for the unkeyed graph.
    * Output (keys…, v, component). */
  private def stars(input: DataFrame, keys: Seq[String], maxRounds: Int, largeStarForm: String): DataFrame = {
    val kc = keys.map(col)
    // Internal representation: every edge directed (src, dst) with src > dst.
    var (edges, prev) = checkpointed(input
      .select(kc :+ greatest(col("src"), col("dst")).as("src") :+ least(col("src"), col("dst")).as("dst"): _*)
      .distinct(), keys)
    // the CHECKPOINTED initial edge set also serves the final vertex-set
    // derivation (round-7): referencing `input` again there re-executed the
    // caller's whole upstream pipeline twice more — for the dedup/embed cluster
    // queries that upstream is the entire near-dup-pairs computation. Same
    // vertex set: e0 is `input` with per-edge orientation flipped.
    val e0 = edges
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // both star phases are single-pass (window-min, no self-join), so the whole
      // round is one chained plan with one lineage-truncating checkpoint, and
      // the convergence checksum is observed on that checkpoint's own job —
      // one action per round, not a materialize-then-checksum pair
      val roundSym =
        if (largeStarForm == "agg")
          Some(edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        else None
      val ls = roundSym.map(largeStarAggOn).getOrElse(largeStar(edges, keys))
      val (next, cur) = checkpointed(smallStar(ls, keys), keys)
      roundSym.foreach(_.unpersist(false))
      converged = cur == prev
      edges = next
      prev = cur
      round += 1
    }
    val parents = edges.groupBy(kc :+ col("src").as("v"): _*).agg(min(col("dst")).as("p"))
    e0.select(kc :+ col("src").as("v"): _*)
      .unionAll(e0.select(kc :+ col("dst").as("v"): _*))
      .distinct()
      .join(parents, keys :+ "v", "left")
      .select(kc :+ col("v") :+ coalesce(col("p"), col("v")).as("component"): _*)
  }

  /** Large-star round: every node connects its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Preserves (src > dst) orientation.
    *
    * Implemented with a window-min rather than groupBy-min + self-join: the window
    * reads its input once, so the round's plan has no duplicated subtree and needs
    * no mid-round checkpoint — one pass, then the emit projection. The trailing
    * `distinct` costs a shuffle but pays for itself: on hub-heavy graphs the
    * large-star output collapses by orders of magnitude (many leaves map to the
    * same (hub, min) edge), so it is also the round's data-reduction step —
    * measured: removing it made rounds strictly slower. */
  private[graft] def largeStar(edges: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val kc = keyCols.map(col)
    val sym = edges.unionAll(
      edges.select(kc :+ col("dst").as("src") :+ col("src").as("dst"): _*))
    val byNode = Window.partitionBy(kc :+ col("src"): _*)
    sym
      .withColumn("mn", least(min(col("dst")).over(byNode), col("src")))
      .where(col("dst") > col("src"))
      .select(kc :+ col("dst").as("src") :+ col("mn").as("dst"): _*)
      .distinct()
  }

  /** Hub-skew twin of [[largeStar]]: the same round as a map-side-combinable
    * `groupBy-min` + rejoin instead of the window. The window form funnels a
    * hub's whole symmetrized neighborhood through ONE task (partition-by-src
    * window = per-key sort in a single task); here the min is partially
    * aggregated map-side, at the cost of reading the symmetrized edge set
    * twice (persisted) and one extra shuffle join. Same output — differential
    * test in ComponentsSpec; measured numbers in BENCH.md §hub-skew decide
    * which form [[run]] uses. */
  private[graft] def largeStarAgg(edges: DataFrame): DataFrame =
    largeStarAggOn(CacheTracker.persist(
      edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))))

  /** [[largeStarAgg]]'s plan over a caller-persisted symmetrized edge set —
    * [[run]]'s agg form persists per round and unpersists as soon as the
    * round's checkpoint materializes (a tracker persist per round would
    * accumulate across a convergence run). */
  private[graft] def largeStarAggOn(sym: DataFrame): DataFrame = {
    val mins = sym.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src"), least(col("m"), col("src")).as("mn"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("mn").as("dst"))
      .distinct()
  }

  /** Small-star round: every node connects itself and its smaller neighbors to the
    * minimum of its smaller neighborhood. Preserves (src > dst) orientation.
    * Single-pass: the window computes the min, one explode emits both the
    * neighbor→min edges and the self→min edge (deduped by the round's distinct). */
  private[graft] def smallStar(edges: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val kc = keyCols.map(col)
    val byNode = Window.partitionBy(kc :+ col("src"): _*)
    edges
      .withColumn("mn", min(col("dst")).over(byNode))
      .select(kc :+ explode(array(
        struct(col("dst").as("src"), col("mn").as("dst")),
        struct(col("src").as("src"), col("mn").as("dst")))).as("e"): _*)
      .select(kc :+ col("e.src").as("src") :+ col("e.dst").as("dst"): _*)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** `edges` eagerly local-checkpointed, with the order-insensitive 64-bit
    * fingerprint of the set (count, xor of row hashes) observed on the same
    * job. Used as the fixpoint test — an exact set compare would be an extra
    * join per round for no practical gain at 64-bit collision odds. */
  private def checkpointed(edges: DataFrame, keyCols: Seq[String]): (DataFrame, (Long, Long)) = {
    val seen = Observation()
    val cp = edges.observe(seen,
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(keyCols.map(col) :+ col("src") :+ col("dst"): _*)), lit(0L)).as("h"))
      .localCheckpoint(true)
    val m = seen.get
    (cp, (m("c").asInstanceOf[Long], m("h").asInstanceOf[Long]))
  }

  /** Naive min-label propagation (O(diameter) rounds). Exact; test oracle for
    * [[run]]. Output (v, component). */
  def minPropagation(canonical: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val sym = GraphCore.symmetric(canonical).localCheckpoint(true)
    var labels = GraphCore.vertices(canonical).select(col("v"), col("v").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val nbrMin = sym
        .join(labels.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min("component").as("nc"))
      val next = labels
        .join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          col("component").as("old"))
        .localCheckpoint(true)
      changed = next.where(col("component") =!= col("old")).count()
      labels = next.select("v", "component")
      round += 1
    }
    labels
  }
}
