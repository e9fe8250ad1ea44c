package graft

import org.scalatest.funsuite.AnyFunSuite

import TestSpark.{edgeDF, fixtures}

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.run(GraphCore.clean(edgeDF(edges)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("single component on both fixture graphs, labeled by min id") {
    assert(labels(fixtures.tri1) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    assert(labels(fixtures.nvgraph8).values.toSet === Set(0L))
  }

  test("disjoint components get distinct min-id labels") {
    val two = fixtures.tri1 ++ Seq((10L, 11L), (11L, 12L), (20L, 21L))
    val got = labels(two)
    assert(got === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long path converges (O(log n) rounds, not O(diameter))") {
    val path = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = labels(path)
    assert(got.size === 200 && got.values.toSet === Set(0L))
  }

  test("keyed components equal the unkeyed kernel run per day (differential)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, least, greatest, lit}
    val d = java.sql.Date.valueOf(_: String)
    val rnd = new scala.util.Random(41)
    // day 1: two disjoint cliques + an isolate edge; day 2: random sparse graph
    val day1 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (20L, 21L))
    val day2 = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val daily = (day1.map { case (a, b) => (d("2024-03-01"), a, b) } ++
      day2.map { case (a, b) => (d("2024-03-02"), a, b) })
      .toDF("day", "src", "dst")
      .select(col("day"), least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst")).distinct()
    val keyed = Components.runKeyed(daily)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    for (day <- Seq("2024-03-01", "2024-03-02")) {
      val want = Components.run(daily.where(col("day") === lit(day)).select("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(want === keyed.collect { case ((dy, v), c) if dy == day => v -> c })
    }
  }

  test("largeStarAgg (hub-skew twin) equals the window form on fixtures and random graphs") {
    def oneRound(es: Seq[(Long, Long)]): Unit = {
      import org.apache.spark.sql.functions._
      val edges = GraphCore.clean(edgeDF(es))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()
      val w = Components.largeStar(edges).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = Components.largeStarAgg(edges).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a === w)
      CacheTracker.release(spark)
    }
    oneRound(fixtures.nvgraph8)
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      oneRound(Seq.fill(200)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong)))
    }
  }

  test("run with the agg large-star form equals the window form end to end") {
    // the 141M-edge race (BENCH.md §components-141M) decides which form
    // production uses; this pins that the choice is purely physical
    (1 to 2).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(250)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      val canonical = GraphCore.clean(edgeDF(es)).localCheckpoint(true)
      val w = Components.run(canonical).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = Components.run(canonical, largeStarForm = "agg")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a === w, s"seed=$seed")
    }
  }

  test("job count: each star round is one action, its fixpoint checksum observed on its checkpoint") {
    // a separate checksum action per round (and one for the initial edge
    // set) made this 25 jobs
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    val (got, jobs) = JobCounter(Components.run(canonical).collect())
    assert(got.map(_.getLong(1)).toSet === Set(0L))
    assert(jobs === 21, s"Components.run on nvgraph8 took $jobs jobs")
  }

  test("differential: large/small-star equals min-propagation on seeded random graphs") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(150)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      val canonical = GraphCore.clean(edgeDF(es)).localCheckpoint(true)
      val fast = Components.run(canonical).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val slow = Components.minPropagation(canonical).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast === slow, s"seed=$seed")
    }
  }
}

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** In-memory double-array power iteration — independent golden. */
  private def goldenPr(edges: Seq[(Long, Long)], iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val vs = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = vs.zipWithIndex.toMap
    val adj = Array.fill(vs.length)(List.empty[Int])
    canon.foreach { case (u, v) =>
      adj(idx(u)) = idx(v) :: adj(idx(u))
      adj(idx(v)) = idx(u) :: adj(idx(v))
    }
    val n = vs.length
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = Array.fill(n)((1.0 - damping) / n)
      for (u <- 0 until n; v <- adj(u)) next(v) += damping * pr(u) / adj(u).size
      pr = next
    }
    vs.zip(pr).toMap
  }

  test("links-derived vertex set covers dst-only vertices in every entry point") {
    // round 7: all four kernels derive their vertex set from the persisted
    // links table (src side of the symmetrized edges) instead of a
    // union+distinct over the raw endpoints — this pins the invariant that
    // derivation relies on (every vertex appears as src in sym) on a graph
    // whose max vertex appears ONLY as dst in canonical orientation
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val es = Seq((1L, 5L), (2L, 5L), (3L, 5L)) // 5 is dst-only in canonical form
    val canonical = GraphCore.clean(edgeDF(es))
    val want = Set(1L, 2L, 3L, 5L)
    def vs(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("v").collect().map(_.getLong(0)).toSet
    assert(vs(PageRank.fixedIterations(canonical, 2)) === want)
    assert(vs(PageRank.personalizedFixedIterations(canonical, v => pmod(v, lit(2)) === 1, 2)) === want)
    assert(vs(PageRank.weightedFixedIterations(
      canonical.withColumn("w", lit(2L)), 2)) === want)
    val d = java.sql.Date.valueOf("2024-03-01")
    val keyed = PageRank.fixedIterationsKeyed(
      es.map { case (a, b) => (d, a, b) }.toDF("day", "src", "dst"), 2)
    assert(keyed.select("v").collect().map(_.getLong(0)).toSet === want)
    CacheTracker.release(spark)
  }

  test("symmetric triangle converges to uniform 1/3") {
    val got = PageRank.run(GraphCore.clean(edgeDF(fixtures.tri1)), maxIter = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.values.foreach(p => assert(math.abs(p - 1.0 / 3) < 1e-5))
  }

  test("fixed 10 iterations match independent power iteration on nvgraph8 (allclose 1e-9)") {
    val got = PageRank.fixedIterations(GraphCore.clean(edgeDF(fixtures.nvgraph8)), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = goldenPr(fixtures.nvgraph8, 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9, s"v=$v") }
  }

  /** Weighted golden: independent in-memory power iteration with per-edge
    * weights (contribution pr(u)·w(u,v)/wdeg(u)). */
  private def goldenWeightedPr(
      edges: Seq[((Long, Long), Long)], iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    val vs = edges.flatMap { case ((u, v), _) => Seq(u, v) }.distinct.sorted
    val idx = vs.zipWithIndex.toMap
    val adj = Array.fill(vs.length)(List.empty[(Int, Long)])
    edges.foreach { case ((u, v), w) =>
      adj(idx(u)) = (idx(v), w) :: adj(idx(u))
      adj(idx(v)) = (idx(u), w) :: adj(idx(v))
    }
    val wdeg = adj.map(_.map(_._2).sum.toDouble)
    val n = vs.length
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = Array.fill(n)((1.0 - damping) / n)
      for (u <- 0 until n; (v, w) <- adj(u)) next(v) += damping * pr(u) * w / wdeg(u)
      pr = next
    }
    vs.zip(pr).toMap
  }

  test("weighted pagerank matches an independent weighted power iteration") {
    val s = spark; import s.implicits._
    val weighted = Seq(((0L, 1L), 5L), ((1L, 2L), 1L), ((0L, 2L), 1L), ((2L, 3L), 2L))
    val df = weighted.map { case ((a, b), w) => (a, b, w) }
      .toDF("src", "dst", "w")
    val got = PageRank.weightedFixedIterations(df, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = goldenWeightedPr(weighted, 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9, s"v=$v") }
    // the heavy 0-1 edge must pull rank toward 0 and 1 relative to uniform
    assert(got(0L) > got(3L) && got(1L) > got(3L))
  }

  test("weighted pagerank with unit weights equals unweighted pagerank") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val unitW = canonical.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val weighted = PageRank.weightedFixedIterations(unitW, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = PageRank.fixedIterations(canonical, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(weighted.keySet === plain.keySet)
    weighted.foreach { case (v, p) => assert(math.abs(p - plain(v)) < 1e-12, s"v=$v") }
  }

  /** PPR golden: teleport only into `sources`, uniformly. */
  private def goldenPpr(
      edges: Seq[(Long, Long)], sources: Set[Long], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val vs = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = vs.zipWithIndex.toMap
    val adj = Array.fill(vs.length)(List.empty[Int])
    canon.foreach { case (u, v) =>
      adj(idx(u)) = idx(v) :: adj(idx(u))
      adj(idx(v)) = idx(u) :: adj(idx(v))
    }
    val nS = vs.count(sources)
    def tele(v: Long, mass: Double) = if (sources(v)) mass / nS else 0.0
    var pr = vs.map(v => tele(v, 1.0)).toArray
    for (_ <- 0 until iters) {
      val next = vs.map(v => tele(v, 1.0 - damping)).toArray
      for (u <- 0 until n0(adj); v <- adj(u)) next(v) += damping * pr(u) / adj(u).size
      pr = next
    }
    vs.zip(pr).toMap
  }
  private def n0(a: Array[List[Int]]) = a.length

  test("keyed pagerank equals the unkeyed kernel run per day (differential)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, least, greatest, lit}
    val d = java.sql.Date.valueOf(_: String)
    // day 1: nvgraph8; day 2: tri1 plus a pendant — different shapes per day
    val daily =
      (fixtures.nvgraph8.map { case (a, b) => (d("2024-02-01"), a, b) } ++
        (fixtures.tri1 :+ ((2L, 7L))).map { case (a, b) => (d("2024-02-02"), a, b) })
        .toDF("day", "src", "dst")
        .select(col("day"),
          least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct()
    val keyed = PageRank.fixedIterationsKeyed(daily, 5)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getDouble(2)).toMap
    for (day <- Seq("2024-02-01", "2024-02-02")) {
      val sub = daily.where(col("day") === lit(day)).select("src", "dst")
      val want = PageRank.fixedIterations(sub, 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(want.keySet === keyed.keySet.filter(_._1 == day).map(_._2))
      want.foreach { case (v, p) =>
        assert(math.abs(keyed((day, v)) - p) < 1e-12, s"day=$day v=$v")
      }
    }
  }

  test("personalized pagerank matches an independent golden and concentrates near sources") {
    val sources = Set(0L) // fixtures.nvgraph8 vertices are 0..5
    val got = PageRank.personalizedFixedIterations(
        GraphCore.clean(edgeDF(fixtures.nvgraph8)),
        v => v === 0L, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = goldenPpr(fixtures.nvgraph8, sources, 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, p) => assert(math.abs(p - want(v)) < 1e-9, s"v=$v") }
    // proximity semantics: the source outranks the far end of the graph
    assert(got(0L) > got(5L))
  }

  test("personalized pagerank with no source vertex fails the query") {
    val e = intercept[Exception] {
      PageRank.personalizedFixedIterations(GraphCore.clean(edgeDF(fixtures.nvgraph8)),
        _ => org.apache.spark.sql.functions.lit(false), 2).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("at least one teleport vertex")))
  }

  test("personalized pagerank with ALL vertices as sources equals global pagerank") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val ppr = PageRank.personalizedFixedIterations(canonical, _ => org.apache.spark.sql.functions.lit(true), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val global = PageRank.fixedIterations(canonical, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ppr.foreach { case (v, p) => assert(math.abs(p - global(v)) < 1e-12, s"v=$v") }
  }

  test("converged ranks sum to ~1 and are stable under extra iterations") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val got = PageRank.run(canonical, maxIter = 200, tol = 1e-9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    val more = goldenPr(fixtures.nvgraph8, 300)
    got.foreach { case (v, p) => assert(math.abs(p - more(v)) < 1e-6, s"v=$v") }
  }

  test("pagerank_converged matches the committed sf0.01 golden within 1e-6") {
    // pins the one remaining no-oracle row to an artifact: regressions in the
    // convergence loop surface as a diff against the checked-in ranks instead
    // of hiding behind the DuckDB-impossibility waiver
    val golden = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream("/pagerank_converged_sf001.csv"))
      .getLines().drop(1)
      .map { l => val a = l.split(","); a(0).toLong -> a(1).toDouble }.toMap
    assert(golden.size === 150)
    val got = SparkEntry.queries("pagerank_converged")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === golden.keySet)
    got.foreach { case (v, p) => assert(math.abs(p - golden(v)) <= 1e-6, s"v=$v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-3) // rounded to 6dp, still ~a distribution
    SparkEntry.releaseCaches(spark)
  }

  test("pagerank_converged oracle pin: k* = 4 is the convergence iteration at BOTH sf scales") {
    // The registered oracle is pagerankFixed(4) — valid iff the engine's
    // stopping rule (first k with max|r_k − r_{k−1}| < 1e-6) lands on k = 4 for
    // the data. Pin it per scale: d4 < 1e-6 ≤ d3 (k* = 4 and minimal), and the
    // convergence run equals fixedIterations(4) row-exact after round(6). A
    // testdata regen that moves k* fails HERE, not as an engine-vs-oracle diff.
    import org.apache.spark.sql.functions._
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val canonical = GraphCore.clean(Ingest.edgesFromEvents(spark, dir)).localCheckpoint(true)
      def maxDelta(k: Int): Double =
        PageRank.fixedIterations(canonical, k).withColumnRenamed("pr", "a")
          .join(PageRank.fixedIterations(canonical, k - 1).withColumnRenamed("pr", "b"), "v")
          .agg(max(abs(col("a") - col("b")))).first().getDouble(0)
      val d3 = maxDelta(3)
      val d4 = maxDelta(4)
      assert(d4 < 1e-6, s"$dir: d4 = $d4 — k* moved below/above 4, update the oracle")
      assert(d3 >= 1e-6, s"$dir: d3 = $d3 — k* < 4, the oracle over-iterates")
      val conv = PageRank.run(canonical, maxIter = 100, tol = 1e-6)
        .select(col("v"), round(col("pr"), 6).as("pr"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val fixed = PageRank.fixedIterations(canonical, 4)
        .select(col("v"), round(col("pr"), 6).as("pr"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(conv === fixed, s"$dir: converged run must equal fixedIterations(4) at 6dp")
    }
  }

  test("job count: a tolerance run with checkpoints takes one action an iteration and one write a snapshot") {
    // a separate max |Δpr| action per iteration and a snapshot re-read per
    // save made this 153 jobs
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    val (_, jobs) = JobCounter(PageRank.run(canonical, tol = 1e-6, checkpointDir = Some(dir)).collect())
    val iters = Checkpoint.latestIter(dir).get + 1
    assert(iters === 25)
    assert(jobs === 84, s"PageRank.run on nvgraph8 took $jobs jobs for $iters iterations")
    Checkpoint.deleteRecursively(dir)
  }

  test("checkpoint + resume mid-run reproduces the uninterrupted result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    // full run, checkpointing every 2 iterations
    val full = PageRank.run(canonical, maxIter = 10, tol = 0.0,
      checkpointDir = Some(dir), checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // simulate a crash: drop the last manifests so resume starts mid-run
    val kept = Checkpoint.latestIter(dir).get
    (kept - 3 to kept).foreach { i =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/manifest_$i.json"))
    }
    assert(Checkpoint.latestIter(dir).exists(_ < kept))
    val resumed = PageRank.run(canonical, maxIter = 10, tol = 0.0,
      checkpointDir = Some(dir), checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    full.foreach { case (v, p) => assert(math.abs(p - resumed(v)) < 1e-12, s"v=$v") }
    Checkpoint.deleteRecursively(dir)
  }

  test("a run stopped by maxIter, not convergence, certifies its last iteration") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    PageRank.run(GraphCore.clean(edgeDF(fixtures.nvgraph8)), maxIter = 3, tol = 0.0,
      checkpointDir = Some(dir), checkpointEvery = 2).collect()
    assert(Checkpoint.latestIter(dir) === Some(2))
    Checkpoint.deleteRecursively(dir)
  }
}

class LabelPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("one step on tri1: deterministic min-label tie-break") {
    val got = LabelProp.run(GraphCore.clean(edgeDF(fixtures.tri1)), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // neighbors' labels are the two other ids; all counts tie → smallest label wins
    assert(got === Map(0L -> 1L, 1L -> 0L, 2L -> 0L))
  }

  test("two dense cliques joined by one bridge separate into two labels") {
    val cliqueA = for (i <- 0 to 3; j <- i + 1 to 3) yield (i.toLong, j.toLong)
    val cliqueB = for (i <- 10 to 13; j <- i + 1 to 13) yield (i.toLong, j.toLong)
    val es = cliqueA ++ cliqueB ++ Seq((3L, 10L))
    val got = LabelProp.run(GraphCore.clean(edgeDF(es)), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.filter(_._1 <= 3L).values.toSet.size === 1)
    assert(got.filter(_._1 >= 10L).values.toSet.size === 1)
  }

  test("fixed iterations are deterministic across runs") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val a = LabelProp.run(canonical, 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = LabelProp.run(canonical, 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("weighted LPA with unit weights equals unweighted LPA") {
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val unitW = canonical.withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val weighted = LabelProp.runWeighted(unitW, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = LabelProp.run(canonical, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(weighted === plain)
  }

  test("weighted LPA: a heavy edge overrules a count majority") {
    val s = spark; import s.implicits._
    // vertex 2 has light neighbors 0, 1 (label votes 2×1) and one heavy
    // neighbor 3 (vote weight 5) — weighted argmax must pick 3's label
    val weighted = Seq((0L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 5L), (0L, 1L, 1L))
      .toDF("src", "dst", "w")
    val one = LabelProp.runWeighted(weighted, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(2L) === 3L, s"vertex 2 must adopt the heavy neighbor's label, got $one")
    // sanity: with all weights equal, the count majority (smallest label 0) wins
    val flat = LabelProp.runWeighted(
        weighted.withColumn("w", org.apache.spark.sql.functions.lit(1L)), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flat(2L) === 0L)
  }

  test("checkpoint + resume mid-run reproduces the uninterrupted labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    def labels(): Map[Long, Long] = LabelProp.run(canonical, 6, checkpointDir = Some(dir), checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = labels()
    // simulate a crash: drop the last manifests so resume starts mid-run
    val kept = Checkpoint.latestIter(dir).get
    (kept - 3 to kept).foreach { i =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/manifest_$i.json"))
    }
    assert(Checkpoint.latestIter(dir).exists(_ < kept))
    assert(labels() === full)
    assert(Checkpoint.latestIter(dir) === Some(kept))
    Checkpoint.deleteRecursively(dir)
  }

  test("job count: a checkpointed run takes one write job a snapshot and no re-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    val (_, jobs) = JobCounter(LabelProp.run(canonical, 6, checkpointDir = Some(dir), checkpointEvery = 2).collect())
    // three snapshots that each read themselves back made this 33 jobs
    assert(jobs === 24, s"LabelProp.run on nvgraph8 took $jobs jobs")
    Checkpoint.deleteRecursively(dir)
  }

  test("step plans the argmax as a map-side-combinable aggregate — no window node") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8))
    val sym = GraphCore.symmetric(canonical)
    val labels = GraphCore.vertices(canonical)
      .select(org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("v").as("label"))
    val plan = LabelProp.step(sym, labels).queryExecution.optimizedPlan
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "round-3 row_number argmax re-shuffled and sorted the count table per step")
  }
}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def manifest(dir: String, iter: Int): org.json4s.JValue = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/manifest_$iter.json")), java.nio.charset.StandardCharsets.UTF_8)
    org.json4s.jackson.JsonMethods.parse(text)
  }

  test("job count: save is one Spark job, the parquet write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val state = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    val (_, jobs) = JobCounter(Checkpoint.save(state, dir, 0))
    // the write, then a re-read grouped by partition id, made this 4 jobs
    assert(jobs === 1)
    Checkpoint.deleteRecursively(dir)
  }

  test("manifest contents: rows, partition rows and max_delta agree with the snapshots and fixed iterations") {
    import org.json4s._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val canonical = GraphCore.clean(edgeDF(fixtures.nvgraph8)).localCheckpoint(true)
    PageRank.run(canonical, tol = 1e-6, checkpointDir = Some(dir)).collect()
    val iters = (0 to Checkpoint.latestIter(dir).get)
      .filter(i => java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/manifest_$i.json")))
    assert(iters.size >= 2, s"expected several snapshots, got iterations $iters")
    iters.foreach { i =>
      val m = manifest(dir, i)
      val rows = (m \ "rows").asInstanceOf[JInt].num.toLong
      assert(rows === Checkpoint.load(spark, dir, i).count(), s"iter $i")
      val parts = (m \ "partitions").asInstanceOf[JArray].arr.map(p => (p \ "rows").asInstanceOf[JInt].num.toLong)
      assert(parts.sum === rows, s"iter $i")
      // manifest i certifies the state after i + 1 iterations
      val want = PageRank.fixedIterations(canonical, i + 1).withColumnRenamed("pr", "a")
        .join(PageRank.fixedIterations(canonical, i).withColumnRenamed("pr", "b"), "v")
        .agg(max(abs(col("a") - col("b")))).first().getDouble(0)
      val got = (m \ "metrics" \ "max_delta").asInstanceOf[JDouble].num
      assert(math.abs(got - want) <= 1e-12, s"iter $i: max_delta $got, expected $want")
    }
    Checkpoint.deleteRecursively(dir)
  }

  test("manifest JSON: escaped path and metric keys, non-finite metrics as null") {
    import org.json4s._
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val dir = s"$root/a \"quoted\" dir"
    val state = GraphCore.clean(edgeDF(fixtures.tri1)).localCheckpoint(true)
    Checkpoint.save(state, dir, 3, Map("max_delta" -> Double.NaN, "up\"per" -> Double.PositiveInfinity,
      "back\\slash" -> Double.NegativeInfinity, "n" -> 3.0))
    val m = manifest(dir, 3)
    assert((m \ "path") === JString(s"$dir/iter_3"))
    assert((m \ "rows") === JInt(3))
    assert((m \ "metrics") === JObject("max_delta" -> JNull, "up\"per" -> JNull,
      "back\\slash" -> JNull, "n" -> JDouble(3.0)))
    assert(Checkpoint.resume(spark, dir).map { case (i, df) => (i, df.count()) } === Some((3, 3L)))
    Checkpoint.deleteRecursively(root)
  }
}
