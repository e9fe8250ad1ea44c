package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import TestSpark.{edgeDF, fixtures}

class TriangleCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def relational(edges: Seq[(Long, Long)]): Long =
    TriangleCount.countPairs(edgeDF(edges)).first().getLong(0)

  private def adjacency(edges: Seq[(Long, Long)]): Long =
    TriangleCount.countPairsAdjacency(spark, edgeDF(edges)).first().getLong(0)

  test("tri1 fixture: 1 triangle (reference test.cpp:16,19)") {
    assert(relational(fixtures.tri1) === 1L)
    assert(adjacency(fixtures.tri1) === 1L)
  }

  test("nvgraph8 fixture: 3 triangles (reference test.cpp:27)") {
    assert(relational(fixtures.nvgraph8) === 3L)
    assert(adjacency(fixtures.nvgraph8) === 3L)
  }

  test("duplicate multi-edges dedup to 1 triangle (reference dead fixture test_zero_degree.bin)") {
    assert(relational(fixtures.dupEdges) === 1L)
    assert(adjacency(fixtures.dupEdges) === 1L)
  }

  test("self-loops dropped (reference TrCountingGraph.cpp:298)") {
    assert(relational(fixtures.selfLoop) === 1L)
    assert(adjacency(fixtures.selfLoop) === 1L)
  }

  test("count invariant under edge permutation, direction flips, and duplication") {
    val base = fixtures.nvgraph8
    val variants = Seq(
      base.reverse,
      base.map { case (u, v) => (v, u) },
      scala.util.Random.shuffle(base) ++ base.take(3), // dups
      base ++ base)
    variants.foreach { es =>
      assert(relational(es) === 3L)
      assert(adjacency(es) === 3L)
    }
  }

  test("per-vertex counts on nvgraph8: (0,1,2,3,2,1)") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val got = TriangleCount.perVertex(canonical, oriented)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  test("empty graph counts zero on all paths (relational, adjacency, sharded)") {
    val empty = Seq.empty[(Long, Long)]
    assert(relational(empty) === 0L)
    assert(adjacency(empty) === 0L)
    assert(sharded(empty, 3) === 0L)
    val canonical = GraphCore.clean(edgeDF(empty))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val pv = TriangleCount.perVertexAdjacencySharded(
      canonical, GraphCore.adjacency(oriented), 3)
    assert(pv.count() === 0L)
    CacheTracker.release(spark)
  }

  test("triangle-free graph (star) counts zero") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    assert(relational(star) === 0L)
    assert(adjacency(star) === 0L)
  }

  test("relational and adjacency paths agree on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    assert(relational(es) === adjacency(es))
  }

  private def sharded(edges: Seq[(Long, Long)], shards: Int): Long = {
    val oriented = GraphCore.orientClean(edgeDF(edges))
    TriangleCount.globalAdjacencySharded(
      GraphCore.adjacency(oriented), shards)
      .first().getLong(0)
  }

  /** Run `body` with session confs set, then unset them and release caches. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally {
      kv.foreach { case (k, _) => spark.conf.unset(k) }
      CacheTracker.release(spark)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  private def kernels(canonical: org.apache.spark.sql.DataFrame,
      oriented: org.apache.spark.sql.DataFrame): Seq[(String, TriangleCount.Kernel)] = Seq(
    "global" -> TriangleCount.globalKernel,
    "per-vertex" -> TriangleCount.vertexKernel(canonical),
    "support" -> TriangleCount.supportKernel(oriented),
    "membership" -> TriangleCount.membershipKernel(oriented))

  private def random(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  private lazy val fixtureInputs = Seq("tri1" -> fixtures.tri1, "nvgraph8" -> fixtures.nvgraph8,
    "dupEdges" -> fixtures.dupEdges, "selfLoop" -> fixtures.selfLoop)
  private lazy val randomInputs = Seq("random7" -> random(7, 40, 200),
    "random42" -> random(42, 60, 300), "random58" -> random(58, 30, 150))

  /** The tiling differential: every kernel named in `only`, at every tile
   *  `shardCounts` × `concs`, must equal its own 1×1 tile; the global 1×1
   *  tile must also equal `globalRelational` and any golden count. Returns the
   *  most wave partials one case produced (block pairs counted apart from the
   *  driver), so a caller can assert that a mid-run merge flush ran. */
  private def tilingDifferential(inputs: Seq[(String, Seq[(Long, Long)])], only: Set[String],
      shardCounts: Seq[Int] = Seq(1, 2, 3, 7), concs: Seq[Int] = Seq(1, 3)): Int = {
    var mostWaves = 0
    for ((name, es) <- inputs) {
      val canonical = GraphCore.clean(edgeDF(es)).localCheckpoint(true)
      val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical)).localCheckpoint(true)
      val adj = CacheTracker.persist(GraphCore.adjacency(oriented))
      val ks = kernels(canonical, oriented).filter { case (k, _) => only(k) }
      val oneByOne = ks.map { case (k, kernel) => k -> rows(TriangleCount.tiled(adj, kernel, None)) }.toMap
      if (only("global")) {
        val relational = TriangleCount.globalRelational(oriented).first().getLong(0)
        assert(oneByOne("global") === Seq(relational.toString), s"$name: 1×1 global vs relational")
        fixtures.goldenTriangles.get(name).foreach(g => assert(relational === g, s"$name: golden"))
      }
      val edges = oriented.collect().map(r => (r.getLong(0), r.getLong(1)))
      for (shards <- shardCounts) {
        val block = GraphCore.csrBlocks(adj, shards).select("v", "block")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val pairs = edges.flatMap { case (u, v) => block.get(u).zip(block.get(v)) }.distinct.length
        for (conc <- concs) {
          mostWaves = math.max(mostWaves, (pairs + conc - 1) / conc)
          for ((k, kernel) <- ks)
            assert(rows(TriangleCount.tiled(adj, kernel, Some(TriangleCount.Tiles(shards, conc))))
              === oneByOne(k), s"$name: $k @ $shards shards × $conc")
        }
      }
      CacheTracker.release(spark)
    }
    mostWaves
  }

  private def assertFlushes(mostWaves: Int): Unit =
    assert(mostWaves > TriangleCount.MergeFanIn,
      s"no case flushes mid-run: $mostWaves wave partials ≤ fan-in ${TriangleCount.MergeFanIn}")

  // The tiling differential (4 kernels × shards {1, 2, 3, 7} × concurrency
  // {1, 3} over the four fixtures and three seeded random graphs) is split
  // across the next six tests, one slice of the table each.

  test("sharded-broadcast (out-of-core) path equals broadcast path on all fixtures") {
    tilingDifferential(fixtureInputs, Set("global"))
  }

  test("sharded path equals broadcast path on seeded random graphs") {
    assertFlushes(tilingDifferential(randomInputs, Set("global"), concs = Seq(1)))
  }

  test("concurrent pair-job pool yields the same count as the sequential loop") {
    // waves of 3 block pairs per Spark job against the 1×1 tile (the
    // sequential concurrency-1 waves are the test above)
    tilingDifferential(randomInputs, Set("global"), concs = Seq(3))
  }

  test("sharded per-vertex counts equal the broadcast per-vertex form") {
    assertFlushes(tilingDifferential(fixtureInputs ++ randomInputs, Set("per-vertex"), concs = Seq(1)))
  }

  test("pooled per-vertex sharded merge equals sequential and broadcast forms") {
    tilingDifferential(fixtureInputs ++ randomInputs, Set("per-vertex"), concs = Seq(3))
  }

  test("merge fan-in end-to-end: flush-forcing fanIn equals the broadcast forms") {
    // edge-keyed credits (support and membership) at both wave widths; the
    // 7-shard sequential cases yield more wave partials than the fan-in
    assertFlushes(tilingDifferential(fixtureInputs ++ randomInputs, Set("support", "membership")))
  }

  test("CreditAccumulator: fanIn 1/2/16 all equal one flat union+groupBy; empty → None") {
    // unit-level: the merge logic itself, no pair jobs. 7 partials with
    // overlapping keys — fanIn 1 merges per add (the old behavior), 2 forces
    // three mid-run flushes + a final one, 16 defers to a single final merge.
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val partials = Seq.tabulate(7)(p =>
      Seq.fill(20)((rnd.nextInt(9).toLong, rnd.nextLong(100L)))
        .toDF("v", "cnt").groupBy("v").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .localCheckpoint(true))
    val want = partials.reduce(_ unionAll _)
      .groupBy("v").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (fanIn <- Seq(1, 2, 16)) {
      val accum = new TriangleCount.CreditAccumulator(Seq("v"), fanIn)
      partials.foreach(accum.add)
      val got = accum.result().get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"fanIn $fanIn")
    }
    assert(new TriangleCount.CreditAccumulator(Seq("v"), 4).result().isEmpty)
  }

  test("broadcast budget: session conf > derived-with-cap") {
    // session conf (size string) overrides the derivation
    withConf("spark.graft.maxBroadcastBytes" -> "512m") {
      assert(TriangleCount.resolveMaxBroadcastBytes(spark) === 512L * 1024 * 1024)
    }
    // no conf, no executor sizing (local mode): the basis is the ACTUAL runtime
    // heap (× memory.fraction / 4), never above the 2 GiB cap (a fixed 2 GiB
    // floor inside an 8 GiB JVM is the round-5 OOM this derivation replaces)
    // and never above 3/4 of driver.maxResultSize (the broadcast build collects
    // the relation to the driver — round 5 measured the abort past that limit)
    val derived = TriangleCount.resolveMaxBroadcastBytes(spark)
    val sc = spark.sparkContext.getConf
    val frac = sc.getDouble("spark.memory.fraction", 0.6)
    val maxResult = sc.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val resultCap = if (maxResult > 0L) maxResult * 3 / 4 else Long.MaxValue
    assert(derived === math.min(math.min(TriangleCount.defaultMaxBroadcastBytes, resultCap),
      (Runtime.getRuntime.maxMemory * frac / 4).toLong))
    assert(derived > 0L)
    // wave width: conf override > constant default
    assert(TriangleCount.resolvePairConcurrency(spark) === TriangleCount.defaultPairConcurrency)
    withConf("spark.graft.pairConcurrency" -> "7") {
      assert(TriangleCount.resolvePairConcurrency(spark) === 7)
    }
  }

  test("a configured small budget flips auto-select to the sharded path") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    withConf("spark.graft.maxBroadcastBytes" -> "1") {
      val df = TriangleCount.globalAdjacency(spark, oriented, adj)
      // the sharded form's sum is a checkpointed accumulator: its result plan
      // has no joins — the 1×1 tile would be an agg over the probe joins
      assert(df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
        "tiny configured budget must route through the sharded tiles")
      assert(df.first().getLong(0) === 3L)
    }
  }

  test("autoShards: caps at maxShards and sizes blocks to the budget below it") {
    assert(TriangleCount.autoShards(10L << 30, 2L << 30) === 10)
    assert(TriangleCount.autoShards(100L, 2L << 30) === 2) // floor of 2
    assert(TriangleCount.autoShards(Long.MaxValue / 4, 2L << 30) === 1024) // capped + warns
  }

  test("shard budget shrinks with pool width: concurrency×2 blocks stay within the derived heap share") {
    // broadcast-mode budget assumes 2 resident copies; a wave holds conc×2
    // blocks, so the per-pair block budget divides by conc/2 (round-5 OOM:
    // 3 shards × 4 pool jobs = 8 live blocks against a /4-derived budget)
    val b = 1L << 30
    assert(TriangleCount.resolveShardBudget(b, 1) === b)
    assert(TriangleCount.resolveShardBudget(b, 2) === b)
    assert(TriangleCount.resolveShardBudget(b, 4) === b / 2)
    assert(TriangleCount.resolveShardBudget(b, 8) === b / 4)
    // odd wave widths round UP (round-5 advice: floor let concurrency 3 keep
    // the whole budget — ~3× the documented ≤2× resident invariant)
    assert(TriangleCount.resolveShardBudget(b, 3) === b / 2)
    assert(TriangleCount.resolveShardBudget(b, 7) === b / 4)
    // end-to-end: shards sized against budget/(conc/2), so resident bytes
    // (conc × 2 × bytes/shards) never exceed 2× the broadcast-mode budget —
    // the same heap share two full broadcast copies would have used
    val bytes = 10L << 30
    val conc = 4
    val shards = TriangleCount.autoShards(bytes, TriangleCount.resolveShardBudget(b, conc))
    assert(conc * 2 * (bytes / shards) <= 2 * b)
  }

  test("edge support: per-edge counts on nvgraph8, zero rows kept, sum equals the global count") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val sup = TriangleCount.edgeSupport(oriented, adj)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup.size === oriented.count()) // every oriented edge has a row
    assert(sup.values.sum === 3L)         // Σ support = triangle total
    assert(sup.values.exists(_ === 0L), "support-0 edges must keep their rows")
    // seeded random graph: Σ support == relational global count
    val rnd = new scala.util.Random(17)
    val es = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val o2 = GraphCore.orientClean(edgeDF(es))
    val total = TriangleCount.globalRelational(o2).first().getLong(0)
    val sum2 = TriangleCount.edgeSupport(o2, GraphCore.adjacency(o2))
      .agg(org.apache.spark.sql.functions.sum("support")).first().getLong(0)
    assert(sum2 === total)
  }

  test("edge support: sharded twin equals the broadcast form; forced budget auto-selects it") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val want = rows(TriangleCount.edgeSupport(oriented, adj))
    // a 1-byte budget must route through the sharded tiles, rows unchanged
    withConf("spark.graft.maxBroadcastBytes" -> "1") {
      assert(rows(TriangleCount.edgeSupport(oriented, adj)) === want)
    }
  }

  test("edge membership: sharded twin equals the broadcast form (cross-pair credits re-aggregate)") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    val want = rows(TriangleCount.edgeTriangleCounts(oriented, adj))
    withConf("spark.graft.maxBroadcastBytes" -> "1") {
      assert(rows(TriangleCount.edgeTriangleCounts(oriented, adj)) === want)
    }
  }

  test("k-truss inherits the out-of-core escape: forced tiny budget, same surviving edges") {
    val rnd = new scala.util.Random(61)
    val oriented = GraphCore.orientClean(edgeDF(
      Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)))).localCheckpoint(true)
    val want = TriangleCount.ktrussEdges(oriented, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.maxBroadcastBytes", "1")
    spark.conf.set("spark.graft.pairConcurrency", "2")
    try {
      val forced = TriangleCount.ktrussEdges(oriented, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(forced === want, "every peel round must survive the sharded path")
    } finally {
      spark.conf.unset("spark.graft.maxBroadcastBytes")
      spark.conf.unset("spark.graft.pairConcurrency")
      CacheTracker.release(spark)
    }
  }

  test("k-truss peel releases round-scoped caches: tracked frames stay O(1) over a 5+-round peel") {
    // deterministic 30-vertex hash-rule graph whose k=5 peel converges only
    // after 9+ changing rounds (pinned by the maxRounds=4 differential below);
    // round-6 verdict #5: per-round persists (withW + adjacency) must be
    // released when the round's survivor set materializes, not accumulate
    // toward CacheTracker's eviction bound across a deep peel
    val es = for { i <- 0 until 30; j <- i + 1 until 30; if (i * 31 + j * 17) % 10 < 4 }
      yield (i.toLong, j.toLong)
    val oriented = GraphCore.orientClean(edgeDF(es)).localCheckpoint(true)
    val before = CacheTracker.trackedCount(spark)
    val perRound = scala.collection.mutable.ArrayBuffer.empty[Int]
    val full = TriangleCount.ktrussEdges(oriented, 5,
        onRoundEnd = _ => perRound += CacheTracker.trackedCount(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(perRound.size >= 5, s"peel must run 5+ rounds, ran ${perRound.size}")
    assert(perRound.forall(_ == before),
      s"round-scoped frames must be released at end of round: $perRound (baseline $before)")
    val capped = TriangleCount.ktrussEdges(oriented, 5, maxRounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped !== full, "the peel must still be in motion after 4 rounds")
    assert(full.subsetOf(capped), "later rounds only remove edges")
    CacheTracker.release(spark)
  }

  test("edge triangle membership: every triangle credits its three edges (sum = 3x total)") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val cnts = TriangleCount.edgeTriangleCounts(oriented, GraphCore.adjacency(oriented))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cnts.size === oriented.count())
    assert(cnts.values.sum === 9L) // 3 triangles × 3 edges
    CacheTracker.release(spark)
  }

  test("k-truss fixpoint equals in-memory brute-force peel on fixtures and random graphs") {
    def brute(edges: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var e = edges
      var changed = true
      while (changed && e.nonEmpty) {
        val bySrc = e.groupBy(_._1)
        val cnt = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
        for {
          (a, b) <- e
          (_, c) <- bySrc.getOrElse(b, Set.empty)
          if e((a, c))
        } { cnt((a, b)) += 1; cnt((b, c)) += 1; cnt((a, c)) += 1 }
        val next = e.filter(cnt(_) >= k - 2)
        changed = next != e
        e = next
      }
      e
    }
    def run(es: Seq[(Long, Long)], k: Int): Unit = {
      val oriented = GraphCore.orientClean(edgeDF(es))
      val want = brute(
        oriented.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, k)
      val got = TriangleCount.ktrussEdges(oriented, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"k=$k")
      CacheTracker.release(spark)
    }
    run(fixtures.nvgraph8, 3)
    run(fixtures.nvgraph8, 4)
    val rnd = new scala.util.Random(29)
    val es = Seq.fill(500)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    run(es, 3); run(es, 4); run(es, 5)
  }

  test("truss hierarchy nests: (k+1)-truss edges are a subset of k-truss edges") {
    val rnd = new scala.util.Random(41)
    val es = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val oriented = GraphCore.orientClean(edgeDF(es)).localCheckpoint(true)
    val byK = (3 to 6).map { k =>
      k -> TriangleCount.ktrussEdges(oriented, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    (3 to 5).foreach { k =>
      assert(byK(k + 1).subsetOf(byK(k)), s"${k + 1}-truss must nest inside $k-truss")
    }
    assert(byK(3).nonEmpty, "dense random graph must retain a 3-truss")
    CacheTracker.release(spark)
  }

  test("globalAdjacency auto-selects the sharded path above the broadcast threshold") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    val adj = GraphCore.adjacency(oriented)
    // threshold of 1 byte forces the out-of-core path; result must be unchanged
    withConf("spark.graft.maxBroadcastBytes" -> "1") {
      assert(TriangleCount.globalAdjacency(spark, oriented, adj).first().getLong(0) === 3L)
    }
  }

  test("perVertexAdjacency auto-selects the sharded path above the broadcast threshold") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = GraphCore.adjacency(oriented)
    withConf("spark.graft.maxBroadcastBytes" -> "1") {
      val got = TriangleCount.perVertexAdjacency(canonical, oriented, adj)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    }
  }

  test("job count: each tile reads the adjacency alone — one broadcast per probe, no edge table") {
    // a second broadcast per probe, or a re-added block-tagged edge table,
    // raises these counts (the two-sided probe with one took 6 / 32 / 8 / 7)
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical)).localCheckpoint(true)
    val adj = CacheTracker.persist(GraphCore.adjacency(oriented))
    adj.count()
    def jobs(df: => org.apache.spark.sql.DataFrame): Int = JobCounter(df.collect())._2
    val got = Seq(
      jobs(TriangleCount.globalAdjacency(spark, oriented, adj)),
      jobs(TriangleCount.globalAdjacencySharded(adj, 2, 1)),
      jobs(TriangleCount.perVertexAdjacency(canonical, oriented, adj)),
      jobs(TriangleCount.edgeSupport(oriented, adj)))
    assert(got === Seq(5, 26, 7, 5), "global / 2-shard global / per-vertex / edge support")
    CacheTracker.release(spark)
  }

  test("sharded pair jobs use broadcast hash joins — no sort-merge join of array payloads") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    object aqe extends AdaptiveSparkPlanHelper
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val oriented = GraphCore.orient(canonical, GraphCore.degrees(canonical))
    val adj = CacheTracker.persist(GraphCore.adjacency(oriented))
    graft.expr.SortedIntersectCount.register(spark)
    // the shared probe as the 1×1 tile and as a wave of a 2-shard tiling,
    // under every kernel's credit function and keyed sum
    val probes = Seq(
      "1×1" -> TriangleCount.probe(adj, adj),
      "2-shard" -> TriangleCount.waves(adj, TriangleCount.Tiles(2, 1)).next())
    for ((tile, probed) <- probes; (k, kernel) <- kernels(canonical, oriented)) {
      val summed = kernel.credit(probed).groupBy(kernel.keys.map(col): _*).agg(sum("cnt"))
      summed.collect()
      val plan = summed.queryExecution.executedPlan
      val text = plan.toString
      assert(text.contains("BroadcastHashJoin"), s"$tile/$k: expected broadcast joins:\n$text")
      assert(!text.contains("SortMergeJoin"), s"$tile/$k: array payload must never sort-merge:\n$text")
      val arrayShuffles = aqe.collect(plan) {
        case e: ShuffleExchangeExec if e.output.exists(_.name.startsWith("nbrs")) => e
      }
      assert(arrayShuffles.isEmpty, s"$tile/$k: an exchange carries neighbor arrays:\n$text")
      // one build side per probe: the adjacency streams itself, only N⁺(v) is broadcast
      val arrayBroadcasts = aqe.collect(plan) {
        case e: BroadcastExchangeExec if e.output.exists(_.name.startsWith("nbrs")) => e
      }
      assert(arrayBroadcasts.size === 1, s"$tile/$k: one broadcast of neighbor arrays per probe:\n$text")
    }
    CacheTracker.release(spark)
  }
}

class GraphCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("clean: canonical src<dst, no loops, no dups") {
    val out = GraphCore.clean(edgeDF(fixtures.dupEdges ++ Seq((7L, 7L)))).collect()
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.length === 3)
  }

  test("orientation: every cleaned edge appears exactly once, low-degree to high-degree, id tie-break (report.md:7)") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val deg = GraphCore.degrees(canonical)
    val oriented = GraphCore.orient(canonical, deg)
    assert(oriented.count() === canonical.count())
    // undirected closure identical
    val a = canonical.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = oriented.collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(a === b)
    // rule: deg(src) < deg(dst) or (equal and src < dst)
    val d = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    oriented.collect().foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(d(u) < d(v) || (d(u) == d(v) && u < v), s"bad orientation ($u,$v)")
    }
  }

  test("adjacency: sorted ascending, deg = |nbrs|, out-degree bounded") {
    val oriented = GraphCore.orientClean(edgeDF(fixtures.nvgraph8))
    GraphCore.adjacency(oriented).collect().foreach { r =>
      val nbrs = r.getSeq[Long](2)
      assert(nbrs == nbrs.sorted)
      assert(r.getLong(1) === nbrs.length.toLong)
    }
  }

  test("csrPartitioned: vertex-contiguous ordered partitions, content preserved") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val adj = GraphCore.adjacency(GraphCore.orientClean(edgeDF(es)))
    val csr = GraphCore.csrPartitioned(adj, 4)
    import org.apache.spark.sql.functions.spark_partition_id
    val rows = csr.select(spark_partition_id().as("pid"), org.apache.spark.sql.functions.col("v"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // within each partition ids are sorted, and partition ranges do not overlap
    val byPid = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    byPid.values.foreach(vs => assert(vs == vs.sorted))
    val ranges = byPid.toSeq.sortBy(_._1).map { case (_, vs) => (vs.min, vs.max) }
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ =>
    }
    assert(csr.count() === adj.count())
  }

  test("degrees match hand-computed values on nvgraph8") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val got = GraphCore.degrees(canonical).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 3L, 5L -> 2L))
  }

  test("globalPerKey: per-key isolation, zero rows kept for triangle-free keys") {
    val s = spark
    import s.implicits._
    // day A closes {1,2,3}; day B has (1,2),(2,3) — a triangle ONLY if day A's
    // (1,3) leaked across the key boundary; day C is a lone edge
    val keyed = Seq(
      ("A", 1L, 2L), ("A", 2L, 3L), ("A", 1L, 3L), ("A", 3L, 9L),
      ("B", 1L, 2L), ("B", 2L, 3L),
      ("C", 7L, 8L)).toDF("day", "src", "dst")
    val got = TriangleCount.globalPerKey(keyed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 1L, "B" -> 0L, "C" -> 0L))
  }

  test("edgesFromEventsDaily: lag stream resets at day boundaries (two-day fixture)") {
    val s = spark
    import s.implicits._
    val ts = (x: String) => java.sql.Timestamp.valueOf(x)
    // one event_type stream spanning two days; users 1,2,3,1 on day 1 close a
    // triangle, users 4,5,6 on day 2 form a path. The day-1→day-2 boundary pair
    // (1,4) must NOT become an edge — the per-day window resets the stream.
    val events = Seq(
      (10L, ts("2024-01-01 10:00:00"), 1L, "t"),
      (11L, ts("2024-01-01 10:01:00"), 2L, "t"),
      (12L, ts("2024-01-01 10:02:00"), 3L, "t"),
      (13L, ts("2024-01-01 10:03:00"), 1L, "t"),
      (20L, ts("2024-01-02 09:00:00"), 4L, "t"),
      (21L, ts("2024-01-02 09:01:00"), 5L, "t"),
      (22L, ts("2024-01-02 09:02:00"), 6L, "t"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft-daily").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val edges = Ingest.edgesFromEventsDaily(spark, dir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(edges === Set(
      ("2024-01-01", 1L, 2L), ("2024-01-01", 2L, 3L), ("2024-01-01", 1L, 3L),
      ("2024-01-02", 4L, 5L), ("2024-01-02", 5L, 6L)))
    val tri = TriangleCount.globalPerKey(Ingest.edgesFromEventsDaily(spark, dir))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(tri === Map("2024-01-01" -> 1L, "2024-01-02" -> 0L))
  }
}
