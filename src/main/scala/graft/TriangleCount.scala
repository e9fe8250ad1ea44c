package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.SortedIntersectCount

/** Exact triangle counting — the headline kernel, matching the reference's
  * forward/compact-forward semantics (`/root/reference/report.md:5-9`) bit-for-bit on
  * its test graphs: orient edges low-degree→high-degree, then for every oriented edge
  * (u,v) count |N⁺(u) ∩ N⁺(v)|; each triangle is counted exactly once.
  *
  * Two physical shapes, identical results:
  *
  *  - Relational ([[globalRelational]], [[perVertex]], [[globalPerKey]],
  *    [[globalSampled]]): a pure 3-way equi self-join on the oriented edge table —
  *    fully declarative, Catalyst plans the join order/strategies, and it is directly
  *    oracle-checkable in ANSI SQL. Wedge fan-out is bounded by the orientation
  *    invariant (out-degree ≤ O(√m), report.md:9) → O(m^1.5) worst-case work, the
  *    same bound as the reference kernel.
  *
  *  - Adjacency: ONE tiling core ([[tiled]]) serves the four adjacency kernels
  *    (global count, per-vertex counts, per-edge support, per-edge membership).
  *    It yields probed rows (src, dst, nbrs_u, nbrs_v): the adjacency streams
  *    itself, each row (u, N⁺(u)) exploded into its oriented edges, and hash-probes
  *    ONE broadcast copy of the CSR-style adjacency on dst for N⁺(v) inside one
  *    codegen stage — neighbor arrays never enter a shuffle or sort. The
  *    adjacency is the only table the probe reads. Each kernel is only a
  *    [[Kernel]]: key columns plus a credit function over the probed rows;
  *    credits are summed per key and left-joined onto the key universe. The
  *    tiling is either
  *      - the 1×1 tile: the whole adjacency broadcast (every reference rank holds
  *        the full graph), or
  *      - sharded tiles when the adjacency exceeds the broadcast budget — the
  *        reference's out-of-core chunk-pair split kernel (gpu.cu:27-58, chosen
  *        at main.cpp:85-97): vertices cut into [[GraphCore.csrBlocks]] ranges,
  *        and each wave of `concurrency` non-empty block pairs runs as one Spark
  *        job that streams the pairs' src blocks and broadcasts only their dst
  *        blocks (≤ concurrency blocks resident). Wave partials fold through
  *        one [[CreditAccumulator]].
  *    The auto-select between the two ([[autoTiles]]) runs once per call.
  */
object TriangleCount {

  /** Global triangle count via 3-way self-join of the oriented edge table.
    * Output: single row (triangles: long). */
  def globalRelational(oriented: DataFrame): DataFrame =
    trianglesRelational(oriented).agg(count(lit(1)).as("triangles"))

  /** Per-key (e.g. per-day) triangle counts over a keyed canonical edge table
    * (key, src, dst) with src < dst: [[trianglesRelational]] with the key in
    * EVERY join condition, so each key's subgraph joins only against itself —
    * the shuffle co-partitions on (key, vertex) and distinct keys proceed in
    * parallel with zero cross-talk (the temporal-analytics shape: clustering
    * evolution over days). Keys whose subgraph closes no triangle keep a 0 row
    * (left join against the distinct key set). Output (key, triangles). */
  def globalPerKey(keyed: DataFrame, key: String = "day"): DataFrame =
    onto(keyed.select(col(key)).distinct(), "triangles")(
      trianglesRelational(keyed, Seq(key)).groupBy(col(key)).agg(count(lit(1)).as("cnt")))

  /** DOULION-style approximate triangle count by deterministic edge
    * sparsification (Tsourakakis et al., KDD'09: keep each edge with
    * probability p, count exactly on the sample, scale by 1/p³ — unbiased).
    * The reference itself trades exactness for a sampled scan in its degree
    * estimation (TrCountingGraph.cpp:101-132); this is the same trade applied
    * to the count, as the cheap first pass before committing a full run.
    *
    * The coin is NOT `rand()`: each edge keeps iff an affine re-mix of
    * (src, dst) lands under `ratePct` — a pure function of the data
    * (retry-stable under task reruns, identical across engines and cluster
    * sizes; the [[graft.docs.Curation.stratifiedSample]] discipline), so the
    * "estimate" is value-exact oracle-checkable, not just statistically
    * plausible. Scale shape: the sample filter is per-row arithmetic pushed
    * below everything; the counting kernel then runs on a |E|·(rate/100)
    * subgraph — at rate 50 the oriented wedge work drops ~8× while the
    * estimator's variance stays tiny for triangle counts in the millions
    * (Var ∝ 1/p³ per triangle).
    *
    * Output one row (sampled_triangles, estimate): the exact count on the
    * sample, and the unbiased rescale. `ratePct` must divide 100 so the
    * (100/ratePct)³ rescale stays integral — no double rounding. */
  def globalSampled(canonical: DataFrame, ratePct: Int): DataFrame = {
    require(ratePct > 0 && ratePct <= 100 && 100 % ratePct == 0,
      "ratePct must be a divisor of 100 (integral rescale)")
    // Dual-modulus coin (the [[graft.docs.Dedup.shingleHash]] construction over
    // the id pair): one affine-mod-p pass alone is linear in dst, so edges
    // sharing a source keep/drop in correlated runs and the estimator error
    // triples vs true Bernoulli sampling (measured 0.40 vs 0.16 mean rel-err
    // over 30 seeded 50-vertex graphs; this mix measures 0.11).
    val (p1, p2, m) = (1000000007L, 1000000009L, 2654435761L)
    def leg(p: Long, mult: Long): org.apache.spark.sql.Column =
      pmod(pmod(pmod(col("src"), lit(p)) * lit(mult) + pmod(col("dst"), lit(p)), lit(p)) * lit(m), lit(p))
    val coin = pmod(leg(p1, 31L) + leg(p2, 131L), lit(100L))
    val sampled = canonical.where(coin < ratePct)
    val scale = { val f = 100L / ratePct; f * f * f }
    // persisted (round-7): the 3-way count references the sampled orientation
    // three times — unpersisted (unlike the memoized orientedOf the headline
    // queries share), the whole orient-join subtree executed per branch
    globalRelational(CacheTracker.persist(
        GraphCore.orient(sampled, GraphCore.degrees(sampled))))
      .select(col("triangles").as("sampled_triangles"),
        (col("triangles") * lit(scale)).as("estimate"))
  }

  /** All triangles as (keys…, a, b, c) rows in orientation order (a→b, b→c,
    * a→c): the 3-way equi self-join of the oriented edge table. The `keys`
    * (none: one graph) enter every join condition, so a triangle never spans
    * two keys. Inside the join they are aliased k0, k1, … per side. */
  def trianglesRelational(oriented: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val ks = keys.indices.map(i => s"k$i")
    def side(tag: String, src: String, dst: String) =
      oriented.select(keys.zip(ks).map { case (c, k) => col(c).as(k + tag) } :+
        col("src").as(src) :+ col("dst").as(dst): _*)
    def on(tag: String, eqs: Column*) = (ks.map(k => col(k) === col(k + tag)) ++ eqs).reduce(_ && _)
    side("", "a", "b")
      .join(side("2", "b2", "c"), on("2", col("b") === col("b2")))
      .join(side("3", "a3", "c3"), on("3", col("a") === col("a3") && col("c") === col("c3")))
      .select(keys.zip(ks).map { case (c, k) => col(k).as(c) } ++ Seq(col("a"), col("b"), col("c")): _*)
  }

  /** Per-vertex triangle participation counts, including zero rows for vertices in
    * no triangle. Output (v, tri_cnt) — one row per vertex of the canonical set. */
  def perVertex(canonical: DataFrame, oriented: DataFrame): DataFrame = {
    // ONE explode pass over the triangle rows instead of a 3-way unionAll of
    // (a), (b), (c) selects: the union form replicated the whole 3-way-join
    // subtree into all three branches, so the wedge join EXECUTED three times
    // per query (round-7 plan audit: 3× BroadcastHashJoin chains feeding one
    // Union — exchange reuse dedupes the scans but not the join probes). The
    // explode emits the same three corner rows per triangle from a single join
    // execution; counts are identical.
    val corners = trianglesRelational(oriented)
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    GraphCore.vertices(canonical)
      .join(corners, Seq("v"), "left")
      .select(col("v"), coalesce(col("cnt"), lit(0L)).as("tri_cnt"))
  }

  // --- adjacency kernels: thin wrappers over the tiling core ------------------

  /** Global triangle count via adjacency-list intersection (the reference's
    * physical shape): [[SortedIntersectCount]], the codegen two-pointer merge,
    * per probed edge, then one partial+final sum (the Spark analog of OpenMP
    * `reduction(+:sum)` at TrCountingGraph.cpp:389 and `thrust::reduce` at
    * gpu-thrust.cu:24-27). `adj` must be [[GraphCore.adjacency]] of `oriented`;
    * the adjacency is the only table the probe reads.
    * Output: single row (triangles: long). */
  def globalAdjacency(spark: SparkSession, oriented: DataFrame, adj: DataFrame): DataFrame =
    tiled(adj, globalKernel, autoTiles(adj))

  /** [[globalAdjacency]] on `shards` × `shards` block-pair tiles, `concurrency`
    * pairs per wave job. */
  def globalAdjacencySharded(adj: DataFrame, shards: Int, concurrency: Int = 1): DataFrame =
    tiled(adj, globalKernel, Some(Tiles(shards, concurrency)))

  /** Per-vertex triangle counts in the adjacency form: for each oriented edge
    * (u,v), every w ∈ N⁺(u) ∩ N⁺(v) closes one triangle {u,v,w} — u, v and w each
    * get one credit. Materializes only the actual intersection elements
    * (O(#triangles) rows), never the O(m^1.5) wedge set of the relational form.
    * The probe reads only `adj`; `canonical` is the vertex universe.
    * Output (v, tri_cnt), zero rows included — identical to [[perVertex]]. */
  def perVertexAdjacency(canonical: DataFrame, oriented: DataFrame, adj: DataFrame): DataFrame =
    tiled(adj, vertexKernel(canonical), autoTiles(adj))

  /** [[perVertexAdjacency]] on `shards` × `shards` block-pair tiles. */
  def perVertexAdjacencySharded(canonical: DataFrame, adj: DataFrame, shards: Int,
      concurrency: Int = 1): DataFrame =
    tiled(adj, vertexKernel(canonical), Some(Tiles(shards, concurrency)))

  /** Per-edge triangle support: |N⁺(u) ∩ N⁺(v)| for EVERY oriented edge (u, v),
    * zero rows included — the per-edge refinement of the global count
    * (Σ support = triangles). The probe reads only `adj`; `oriented` is the
    * key universe. Output (src, dst, support). */
  def edgeSupport(oriented: DataFrame, adj: DataFrame): DataFrame =
    tiled(adj, supportKernel(oriented), autoTiles(adj))

  /** Per-edge triangle MEMBERSHIP counts — each triangle {u,v,w} credits ALL
    * THREE of its edges (Σ tri_cnt = 3·triangles), unlike [[edgeSupport]]'s
    * base-edge counts (Σ = triangles). This is the k-truss peel criterion.
    * Under the acyclic orientation u→v, u→w, v→w, the witness rows of base
    * edge (u,v) credit (u,v), (u,w) and (v,w) — all of them oriented edges.
    * The probe reads only `adj`; `oriented` is the key universe.
    * Output (src, dst, tri_cnt), zero rows included. */
  def edgeTriangleCounts(oriented: DataFrame, adj: DataFrame): DataFrame =
    tiled(adj, membershipKernel(oriented), autoTiles(adj))

  // --- kernels: key columns + a credit function over probed rows --------------

  /** One adjacency kernel. `credit` maps probed rows (src, dst, nbrs_u, nbrs_v)
    * to (keys…, cnt) rows; `finish` turns the per-key credit sums (keys…, cnt)
    * into the output — a left join onto the key universe with zeros filled in.
    * The global count has no key: its sum is a single row, its own universe. */
  private[graft] final case class Kernel(
      keys: Seq[String], credit: DataFrame => DataFrame, finish: DataFrame => DataFrame)

  private def intersectCount: Column =
    call_function(SortedIntersectCount.name, col("nbrs_u"), col("nbrs_v"))

  /** One row (src, dst, w) per triangle, w the third corner. */
  private def witnesses(probed: DataFrame): DataFrame =
    probed.select(col("src"), col("dst"),
      explode(array_intersect(col("nbrs_u"), col("nbrs_v"))).as("w"))

  private def onto(universe: DataFrame, out: String)(sums: DataFrame): DataFrame = {
    val keys = universe.columns.toSeq
    universe.join(sums, keys, "left")
      .select(keys.map(col) :+ coalesce(col("cnt"), lit(0L)).as(out): _*)
  }

  private[graft] val globalKernel = Kernel(Nil,
    _.select(intersectCount.as("cnt")),
    _.select(coalesce(col("cnt"), lit(0L)).as("triangles")))

  private[graft] def vertexKernel(canonical: DataFrame) = Kernel(Seq("v"),
    // ONE explode into the three corners, as [[perVertex]] does
    witnesses(_).select(explode(array(col("src"), col("dst"), col("w"))).as("v"), lit(1L).as("cnt")),
    onto(GraphCore.vertices(canonical), "tri_cnt"))

  private[graft] def supportKernel(oriented: DataFrame) = Kernel(Seq("src", "dst"),
    _.select(col("src"), col("dst"), intersectCount.as("cnt")),
    onto(oriented.select(col("src"), col("dst")), "support"))

  private[graft] def membershipKernel(oriented: DataFrame) = {
    def edge(a: String, b: String) = struct(col(a).as("src"), col(b).as("dst"))
    Kernel(Seq("src", "dst"),
      witnesses(_)
        .select(explode(array(edge("src", "dst"), edge("src", "w"), edge("dst", "w"))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), lit(1L).as("cnt")),
      onto(oriented.select(col("src"), col("dst")), "tri_cnt"))
  }

  // --- the tiling core --------------------------------------------------------

  /** Sharded tiling: `shards` vertex blocks, `concurrency` block pairs per wave. */
  private[graft] final case class Tiles(shards: Int, concurrency: Int) {
    require(shards >= 1, "shards must be positive")
    require(concurrency >= 1, "concurrency must be positive")
  }

  /** Wave partials that batch up before one merge folds them into the
    * [[CreditAccumulator]] (BENCH.md §round-6 measured 8). */
  private[graft] val MergeFanIn: Int = 8

  /** Run `kernel` over `tiles` (None = the 1×1 tile) and finish it. */
  private[graft] def tiled(adj: DataFrame, kernel: Kernel, tiles: Option[Tiles]): DataFrame = {
    SortedIntersectCount.register(adj.sparkSession)
    val sums = tiles match {
      case None => keyedSum(kernel.keys, kernel.credit(probe(adj, adj)))
      case Some(t) =>
        // each wave partial is materialized (eager localCheckpoint) by its own
        // job, so only that wave's broadcast blocks are ever resident
        val acc = new CreditAccumulator(kernel.keys, MergeFanIn)
        waves(adj, t).foreach(p =>
          acc.add(keyedSum(kernel.keys, kernel.credit(p)).localCheckpoint(true)))
        acc.result().getOrElse(keyedSum(kernel.keys, adj.sparkSession.range(0)
          .select((kernel.keys :+ "cnt").map(col("id").as(_)): _*)))
    }
    kernel.finish(sums)
  }

  /** Σ cnt per key: the merge of credits within a wave and across waves. */
  private def keyedSum(keys: Seq[String], credits: DataFrame): DataFrame =
    credits.groupBy(keys.map(col): _*).agg(sum(col("cnt")).as("cnt"))

  /** THE probe, with one broadcast side: the adjacency streams itself. Each
    * `srcAdj` row (v, nbrs) explodes into one row (src, nbrs_u, dst) per
    * oriented edge — N⁺(u) is the segment being scanned, as in the reference's
    * CSR walk (TrCountingGraph.cpp:397-410) — and hash-probes the broadcast
    * `dstAdj` on dst for nbrs_v. Any column of either side beyond (v, deg,
    * nbrs) rides along (the waves' block ids). Inner join: an edge whose dst
    * has out-degree 0 closes no triangle (the kernel's left join restores its
    * zero row). */
  private[graft] def probe(srcAdj: DataFrame, dstAdj: DataFrame): DataFrame = {
    def side(a: DataFrame, v: String, nbrs: String) =
      a.drop("deg").withColumnsRenamed(Map("v" -> v, "nbrs" -> nbrs))
    side(srcAdj, "src", "nbrs_u").withColumn("dst", explode(col("nbrs_u")))
      .join(broadcast(side(dstAdj, "dst", "nbrs_v")), "dst")
  }

  /** Sharded tiles as probed rows, one frame per wave. Each oriented edge (u, v)
    * belongs to block pair (block(u), block(v)) and so to exactly one wave; a
    * wave of ≤ `concurrency` non-empty pairs streams the adjacency rows of the
    * src blocks those pairs name, broadcasts only their dst blocks — ≤
    * concurrency blocks resident, the bound the reference's chunk-pair
    * launches keep — and keeps the rows whose pair is in the wave. The
    * persisted block-tagged adjacency is rescanned per wave the way the
    * reference re-reads its edge list per chunk pair; dst blocks are
    * re-broadcast ≤ shards times: the price of never holding the full CSR. */
  private[graft] def waves(adj: DataFrame, t: Tiles): Iterator[DataFrame] = {
    // checkpointed: the O(vertices) block table cuts csrBlocks' window and join
    // lineage, which every wave plan would otherwise re-analyze (about half
    // of a wave's time on a 7-shard test graph)
    val blocks = GraphCore.csrBlocks(adj, t.shards).select(col("v"), col("block")).localCheckpoint(true)
    // (v, nbrs, block): the CSR with its block id — filtered per wave
    val adjB = CacheTracker.persist(adj.join(blocks, "v").select(col("v"), col("nbrs"), col("block")))
    def pair(bs: Column, bd: Column) = bs * t.shards + bd
    // the non-empty pairs (≤ shards²), off the exploded adjacency: a dst with
    // out-degree 0 has no block, and its edges drop here as in the probe
    val pairs = adjB.select(col("block").as("bs"), explode(col("nbrs")).as("v")).join(blocks, "v")
      .select(pair(col("bs"), col("block"))).distinct().collect().map(_.getLong(0)).sorted
    // wave ids enter the plan as array literals, which codegen passes by
    // reference: every wave reuses the first wave's compiled code
    def in(c: Column, ids: Seq[Long]) = array_contains(typedLit(ids.distinct), c)
    def tagged(ids: Seq[Long], tag: String) = adjB.where(in(col("block"), ids)).withColumnRenamed("block", tag)
    pairs.grouped(t.concurrency).map(_.toSeq).map { wave =>
      probe(tagged(wave.map(_ / t.shards), "bs"), tagged(wave.map(_ % t.shards), "bd"))
        .where(in(pair(col("bs"), col("bd")), wave))
    }
  }

  /** Rolling keyed sum of wave partials — the one merge of every adjacency
    * kernel (global is the empty key; disjoint support partials are a special
    * case). Re-aggregating the whole accumulator per wave would be a full
    * shuffle + lineage truncation per wave — pure fixed cost — so partials
    * batch up to `fanIn` before ONE merge folds accumulator + batch. Credits
    * are sums, so the merge is associative-commutative. Resident state: ≤ fanIn
    * materialized partials (each holding only the keys one wave credited) + 1
    * accumulator. */
  private[graft] final class CreditAccumulator(keyCols: Seq[String], fanIn: Int) {
    require(fanIn >= 1, "fanIn must be positive")
    private var acc: DataFrame = null
    private val pending = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def add(partial: DataFrame): Unit = {
      pending += partial
      if (pending.size >= fanIn) flush()
    }
    private def flush(): Unit = {
      // a lone first partial is already keyed-summed by its wave job —
      // adopting it directly skips a no-op shuffle
      if (acc == null && pending.sizeIs == 1) acc = pending.head
      else acc = keyedSum(keyCols, (Option(acc) ++ pending).reduce(_ unionAll _))
        .localCheckpoint(true)
      pending.clear()
    }
    /** Final accumulator; None when no partial was ever added. */
    def result(): Option[DataFrame] = {
      if (pending.nonEmpty) flush()
      Option(acc)
    }
  }

  // --- the auto-select: broadcast budget vs adjacency size --------------------

  /** Cap of the auto-derived broadcast budget when the session carries no
    * executor sizing (2 GiB: a quarter of Spark's own 8 GiB broadcast-table
    * hard limit: the one resident adjacency copy plus its build-side hash map
    * fits a typical executor with a 2× margin). */
  val defaultMaxBroadcastBytes: Long = 2L << 30

  /** Block pairs per wave job when the auto-select shards — resident adjacency is
    * bounded by this many (dst) blocks. Override per session with
    * `spark.graft.pairConcurrency`. */
  val defaultPairConcurrency: Int = 4

  private[graft] def resolvePairConcurrency(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.pairConcurrency")
      .map(_.toInt).getOrElse(defaultPairConcurrency)

  /** The 1×1 tile when the adjacency fits the broadcast budget, else sharded
    * tiles sized so a wave's blocks fit it — the reference's own out-of-core
    * escape (main.cpp:85-97 picks the split kernel when `12m > GPU_mem`). */
  private def autoTiles(adj: DataFrame): Option[Tiles] = {
    val spark = adj.sparkSession
    ensurePersisted(adj) // the size probe is an eager agg; the plan reads adj twice more
    val budget = resolveMaxBroadcastBytes(spark)
    val bytes = adjacencyBytes(adj)
    if (bytes <= budget) None
    else {
      val conc = resolvePairConcurrency(spark)
      val shards = autoShards(bytes, resolveShardBudget(budget, conc))
      System.err.println(s"[TriangleCount] adjacency ≈ $bytes B > broadcast budget $budget B" +
        s" — auto-selecting sharded tiles ($shards shards, $conc pairs per wave)")
      Some(Tiles(shards, conc))
    }
  }

  /** Resolve the broadcast budget for the auto-select. Priority:
    * session conf `spark.graft.maxBroadcastBytes`
    * (size string, e.g. "512m") > derived from `spark.executor.memory` ×
    * `spark.memory.fraction` × 1/4, capped at [[defaultMaxBroadcastBytes]]. The
    * probe holds one broadcast copy, roughly doubled in memory by its hash
    * map, so the /4 leaves a 2× margin over it; change it only from a measured
    * heap reading, since it decides which inputs shard. When the session carries
    * NO executor sizing (local mode — the driver JVM is the executor), the
    * basis is the ACTUAL runtime heap, not a fixed floor: round 5 found the
    * old 2 GiB floor auto-selecting a ~1.2 GB adjacency broadcast inside an
    * 8 GB local JVM that could not hold the relation plus the persisted edge
    * table — exactly the OOM the auto-select exists to prevent.
    *
    * The derived budget is additionally bounded by 3/4 of
    * `spark.driver.maxResultSize` (default 1g; 0 = unlimited): building a
    * broadcast relation COLLECTS it to the driver through task results, so any
    * relation whose serialized size exceeds maxResultSize aborts the job no
    * matter how much executor memory exists — round 5 measured exactly that
    * (1056.4 MiB of task results vs the 1024 MiB default) on a 141M-edge
    * adjacency that passed the heap-derived budget. The 3/4 margin covers
    * Catalyst's size estimate vs the serialized task-result bytes disagreeing
    * in either direction. The session conf is honored as given — it is the
    * operator's own knob. */
  private[graft] def resolveMaxBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.maxBroadcastBytes") match {
      case Some(s) => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
      case None =>
        val execMem = {
          val conf =
            try spark.sparkContext.getConf.getSizeAsBytes("spark.executor.memory", 0L)
            catch { case _: Throwable => 0L }
          if (conf > 0L) conf else Runtime.getRuntime.maxMemory
        }
        val frac =
          try spark.sparkContext.getConf.getDouble("spark.memory.fraction", 0.6)
          catch { case _: Throwable => 0.6 }
        val maxResult =
          try spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
          catch { case _: Throwable => 1L << 30 }
        val resultCap = if (maxResult > 0L) maxResult * 3 / 4 else Long.MaxValue
        math.min(math.min(defaultMaxBroadcastBytes, resultCap), (execMem * frac / 4).toLong)
    }

  /** Block budget for the sharded tiles' `autoShards` sizing. The broadcast-mode
    * budget leaves a 2× margin over one resident copy of the relation (the /4
    * in [[resolveMaxBroadcastBytes]]). A wave holds its ≤ `concurrency` dst
    * blocks live, each sized by [[autoShards]] to half the budget it is
    * given, so the per-block budget shrinks by concurrency/2 and a wave's
    * resident blocks stay within the heap share of one full broadcast copy —
    * again with the 2× margin. Round 5 measured the overcommit this prevents:
    * 3 shards × 4 concurrent pairs = 8 live ~380 MB block broadcasts OOMing
    * the 8 GB JVM whose budget said the plan fit. The ceiling division keeps
    * odd widths within the bound. */
  private[graft] def resolveShardBudget(budget: Long, concurrency: Int): Long =
    math.max(1L, budget / math.max(1, (concurrency + 1) / 2))

  /** Shard cap: bounds the ≤ shards² block-pair count (the reference's split
    * kernel enumerates the same split_num² chunk pairs, main.cpp:87-90). */
  private[graft] val maxShards = 1024L

  /** Shard count so two adjacency blocks fit `maxBroadcastBytes` (a wave
    * broadcasts only its dst blocks, so this is a 2× margin per pair), capped
    * at [[maxShards]]. Past the cap the two-blocks-fit invariant can no
    * longer hold — warn loudly (round-3 advice: silent breakage at ~>1 TiB
    * adjacency) rather than fail: the job may still complete on a large
    * executor. */
  private[graft] def autoShards(bytes: Long, maxBroadcastBytes: Long): Int = {
    val raw = math.max(2L, (2L * bytes + maxBroadcastBytes - 1) / maxBroadcastBytes)
    val shards = raw.min(maxShards).toInt
    if (raw > maxShards)
      System.err.println(
        s"[TriangleCount] adjacency ≈ $bytes B needs $raw shards but the cap is $maxShards: " +
          s"two ~${2L * bytes / maxShards} B blocks exceed the $maxBroadcastBytes B broadcast " +
          "budget — the sizing invariant no longer holds; raise spark.graft.maxBroadcastBytes " +
          "or executor memory")
    shards
  }

  /** Persist-and-track `adj` unless the caller already did: the auto-select size
    * probe is an EAGER aggregation, and the kernel plan then reads the
    * adjacency twice more, as the probe's stream and as its broadcast side (or
    * the block table's source) — unpersisted, the whole adjacency
    * aggregation would run twice (round-3 advice: external callers on the old
    * lazy contract silently doubled their work). */
  private def ensurePersisted(adj: DataFrame): Unit =
    if (adj.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      CacheTracker.persist(adj)

  /** Estimated in-memory bytes of an adjacency table: 8 B per neighbor id plus
    * ~24 B per-row overhead (v, deg, array header). One tiny agg job. */
  private[graft] def adjacencyBytes(adj: DataFrame): Long = {
    val r = adj.agg(
      coalesce(sum(col("deg")), lit(0L)).as("m"),
      count(lit(1)).as("n")).first()
    r.getLong(0) * 8L + r.getLong(1) * 24L
  }

  /** k-truss peel: iteratively remove every edge in fewer than k−2 triangles
    * until the edge set is stable (or `maxRounds`) — [[GraphCore.peel]] with
    * the membership count ([[edgeTriangleCounts]]) as its drop rule. The
    * orientation is fixed once — any subgraph of an acyclically-oriented graph
    * stays acyclic, so triangles keep counting exactly once per round. Because
    * peeling a fixpoint changes nothing, running with a FIXED `maxRounds`
    * returns the same rows as `maxRounds` unrolled peels — which is what makes
    * the registered query oracle-expressible in non-recursive SQL while this
    * production entry point runs to convergence. Each round's adjacency (and,
    * under a small budget, its block tables) is released once the round's
    * survivors are materialized; `onRoundEnd` is the test seam that observes it.
    * Output: the surviving oriented edges (src, dst). */
  def ktrussEdges(oriented: DataFrame, k: Int, maxRounds: Int = 100,
      onRoundEnd: Int => Unit = _ => ()): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (k = 2 is the whole graph)")
    GraphCore.peel(oriented, maxRounds, onRoundEnd)(e =>
      edgeTriangleCounts(e, GraphCore.adjacency(e)).where(col("tri_cnt") >= k - 2))
  }

  /** End-to-end: arbitrary pair table → cleaned → oriented → global count
    * (relational form). */
  def countPairs(pairs: DataFrame): DataFrame =
    globalRelational(GraphCore.orientClean(pairs))

  /** End-to-end global count via the adjacency/merge form. */
  def countPairsAdjacency(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val oriented = GraphCore.orientClean(pairs)
    // persisted: the auto-select size probe aggregates the adjacency eagerly
    globalAdjacency(spark, oriented, CacheTracker.persist(GraphCore.adjacency(oriented)))
  }
}
