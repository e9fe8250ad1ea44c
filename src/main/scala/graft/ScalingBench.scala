package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scaling-efficiency evidence (BASELINE.json north_rule): run the identical kernels
  * on the identical input at two parallelism levels — local[N] and local[4N] — and
  * report throughput at both plus efficiency = (throughput_4N / throughput_N) / 4.
  * This is the sandbox stand-in for N vs 4N executors (no real cluster available);
  * the partitioning story (shuffle partitions = cores, AQE) is the same one a
  * multi-executor deployment uses.
  *
  * Two subcommands, so each parallelism level runs in a FRESH JVM (sharing one JVM
  * biases the second level with a dirty heap/GC state):
  *
  *   graft.ScalingBench gen <nConvs> <nTools> <path>
  *     — synthesize transcripts (skewed tool popularity), derive the canonical
  *       participant co-occurrence edge table, write it to parquet.
  *   graft.ScalingBench measure <path> <cpus> [reps]
  *     — read the edge table, run the kernels `reps` times, print one JSON line per
  *       kernel with best-of times.
  *
  * The harness (BENCH.md) runs `gen` once, then `measure` at N and 4N and computes
  * efficiency = sec_N / (4 · sec_4N).
  */
object ScalingBench {

  def kernels(spark: SparkSession, edges: DataFrame): Seq[(String, () => DataFrame)] = {
    def oriented() = GraphCore.orient(edges, GraphCore.degrees(edges))
    Seq(
      // NOTE: only the adjacency form is benched at scale — the relational
      // (wedge-join) form materializes O(m^1.5) wedge rows and is the small-scale
      // oracle twin, not the scale path. The oriented/adjacency tables are
      // persisted INSIDE the timed kernel (they are referenced by three plan
      // branches; production would materialize them once the same way).
      "triangles_adj" -> (() => {
        val o = oriented().persist()
        TriangleCount.globalAdjacency(spark, o, GraphCore.adjacency(o).persist())
      }),
      // the out-of-core fallback, forced to 4 shards with 2 block pairs per
      // wave job (each wave streams its src blocks and broadcasts only its
      // dst blocks: resident adjacency ≤ 2 blocks = half the CSR at 4 shards;
      // production sizes shards so concurrency blocks fit) — evidences
      // that the beyond-executor-memory plan also completes and scales
      "triangles_sharded" -> (() => {
        TriangleCount.globalAdjacencySharded(
          GraphCore.adjacency(oriented().persist()).persist(), 4, concurrency = 2)
      }),
      // per-vertex out-of-core twin with the same waves: its K is
      // strictly larger (a vertex-sized credit checkpoint per wave), so the
      // wave width matters more here — the W/K row beside triangles_sharded
      "pv_sharded" -> (() => {
        TriangleCount.perVertexAdjacencySharded(edges,
          GraphCore.adjacency(oriented().persist()).persist(), 4, concurrency = 2)
      }),
      "pagerank_5iter" -> (() => PageRank.fixedIterations(edges, 5)),
      "components" -> (() => Components.run(edges)),
      // the hub-skew twin raced at the 141M input (round-5 verdict #2): the
      // map-side-combinable groupBy-min form vs the window form above
      "components_agg" -> (() => Components.run(edges, largeStarForm = "agg")),
      "lpa_2step" -> (() => LabelProp.run(edges, 2)),
      // round-4 kernels on the same input: BFS moves only the vertex-sized
      // distance table per round; weighted PageRank derives synthetic
      // deterministic weights from the ids (same workload shape as production
      // multiplicity weights without a second input artifact)
      "bfs_4rounds" -> (() =>
        Bfs.distances(edges, v => org.apache.spark.sql.functions.pmod(
          v, org.apache.spark.sql.functions.lit(1000L)) === 0L, rounds = 4)),
      "pagerank_w_5iter" -> (() => {
        import org.apache.spark.sql.functions._
        // per-endpoint pmod before the add: raw ids are full-range 64-bit
        // hashes, src + dst would ANSI-overflow
        PageRank.weightedFixedIterations(
          edges.withColumn("w",
            pmod(col("src"), lit(5L)) + pmod(col("dst"), lit(5L)) + lit(1L)), 5)
      }),
      // keyed (per-day analog) kernel: a deterministic edge-hash key splits the
      // input into 30 independent subgraphs ranked in one keyed loop — the
      // temporal-suite workload shape (co-partition on (key, vertex), keys
      // never interact)
      "pagerank_keyed_5iter" -> (() => {
        import org.apache.spark.sql.functions._
        PageRank.fixedIterationsKeyed(
          edges.withColumn("day", pmod(xxhash64(col("src"), col("dst")), lit(30L))), 5)
      }),
      // deterministic random walks from EVERY vertex (the DeepWalk corpus
      // shape): frontier-joins-capped-adjacency per step
      "walks_4steps" -> (() =>
        Walks.deterministicWalks(edges, steps = 4, startMod = 1)),
      // round-6 verdict #1 proof-at-scale: the per-edge support kernel with its
      // NEW broadcast-budget auto-select, run at the input whose ~1.14 GB
      // adjacency proved the old unconditional broadcast aborts on
      // maxResultSize — the probe must degrade to sharded tiles and
      // complete (same contract as the triangles_adj auto-select row)
      "edge_support_auto" -> (() => {
        val o = oriented().persist()
        TriangleCount.edgeSupport(o, GraphCore.adjacency(o).persist())
      }))
  }

  private def gen(nConvs: Long, nTools: Int, path: String): Unit = {
    val spark = Bench.session("32")
    spark.sparkContext.setLogLevel("WARN")
    val transcripts = Transcripts.synth(spark, nConvs, 20, nTools = nTools, skew = 3.0)
    Ingest.edgesFromTranscripts(transcripts.toDF())
      .write.mode("overwrite").parquet(path)
    val e = spark.read.parquet(path)
    println(s"""{"gen":"$path","edges":${e.count()},"vertices":${GraphCore.vertices(e).count()}}""")
    spark.stop()
  }

  private def measure(path: String, cpus: Int, reps: Int, only: Option[String]): Unit = {
    val spark = Bench.session(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    val edges = spark.read.parquet(path).persist()
    val nEdges = edges.count() // also warms the persist
    Bench.materialize(GraphCore.degrees(edges)) // codegen/JIT warm-up
    val results = (1 to reps).map { rep =>
      kernels(spark, edges)
        .filter { case (name, _) => only.forall(_ == name) }
        .map { case (name, mk) =>
        val t0 = System.nanoTime()
        Bench.materialize(mk())
        val sec = (System.nanoTime() - t0) / 1e9
        // kernels persist their intermediates; drop them so reps don't accumulate
        // duplicate cache entries (keep the shared edge table cached)
        spark.catalog.clearCache()
        edges.persist(); edges.count()
        System.err.println(f"[scaling] rep=$rep cpus=$cpus $name: $sec%.2fs")
        name -> sec
      }.toMap
    }.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    results.toSeq.sortBy(_._1).foreach { case (k, sec) =>
      println(f"""{"kernel":"$k","cpus":$cpus,"edges":$nEdges,"sec":$sec%.3f,"edges_per_sec":${nEdges / sec}%.1f,"input":"$path"}""")
    }
    spark.stop()
  }

  /** Equality evidence at scale: broadcast vs sharded forms on the same input
    * must agree bit-for-bit — the global count AND every per-vertex count. */
  private def check(path: String, shards: Int): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val edges = spark.read.parquet(path).persist()
    val o = GraphCore.orient(edges, GraphCore.degrees(edges)).persist()
    val adj = GraphCore.adjacency(o).persist()
    val full = TriangleCount.globalAdjacency(spark, o, adj).first().getLong(0)
    val shd = TriangleCount.globalAdjacencySharded(adj, shards).first().getLong(0)
    val pvB = TriangleCount.perVertexAdjacency(edges, o, adj)
    // concurrency 2: the equality evidence also covers the merge across waves
    val pvS = TriangleCount.perVertexAdjacencySharded(edges, adj, shards, concurrency = 2)
    val pvDiff = pvB.withColumnRenamed("tri_cnt", "b")
      .join(pvS.withColumnRenamed("tri_cnt", "s"), Seq("v"), "full")
      .where(col("b").isNull || col("s").isNull || col("b") =!= col("s"))
      .count()
    println(s"""{"check":"$path","shards":$shards,"triangles_broadcast":$full,"triangles_sharded":$shd,"per_vertex_mismatches":$pvDiff,"equal":${full == shd && pvDiff == 0}}""")
    spark.stop()
    if (full != shd || pvDiff != 0) sys.exit(1)
  }

  /** Bounded hub-skew experiment (round-3 verdict #7): a star graph with one
    * `nLeaves`-degree hub — the adversarial input for `largeStar`'s
    * partition-by-src window (the hub's whole symmetrized neighborhood sorts
    * in ONE task). Times one large-star round in the window form vs the
    * groupBy-min twin, plus the full Components.run. */
  private def hub(nLeaves: Long, reps: Int): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    // hub 0 with nLeaves neighbors, plus a 1000-vertex background ring that
    // keeps later rounds non-trivial
    val leaves = spark.range(1, nLeaves + 1).select(col("id").as("src"), lit(0L).as("dst"))
    val ring = spark.range(0, 1000).select(
      (col("id") + nLeaves + 1).as("src"),
      (((col("id") + 1) % 1000) + nLeaves + 1).as("dst"))
    val edges = leaves.unionAll(ring)
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .persist()
    edges.count()
    def time(name: String, f: () => Unit): Double = {
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"""{"hub_experiment":"$name","n_leaves":$nLeaves,"sec":$best%.3f}""")
      best
    }
    time("largeStar_window", () => Bench.materialize(Components.largeStar(edges)))
    time("largeStar_agg", () => { Bench.materialize(Components.largeStarAgg(edges)); CacheTracker.release(spark) })
    time("components_run_full", () => Bench.materialize(Components.run(edges)))
    spark.stop()
  }

  /** Deterministic documents corpus at scale — the dedup-pipeline analog of
    * [[Transcripts.synth]] (the testdata `documents` tables stop at 5k rows;
    * scaling evidence for the LLM-curation layer needs corpus sizes the same
    * way the graph rows needed the 32M/141M edge tables). ~20% of docs draw
    * their text from a SHARED template pool of `nDocs`/50 streams, each doc
    * appending up to 3 doc-specific tokens — so the corpus carries real
    * near-duplicate clusters (shared-template docs sit far above the 0.35
    * Jaccard threshold, ~10 docs per hot template) while ~80% stay unique.
    * Pure function of doc_id mixed through `xxhash64` (hashes pmod'd to 1e9
    * BEFORE the per-token affine walk — ANSI mode would overflow a full-range
    * 64-bit hash), generated distributed via `spark.range`: any scale
    * regenerates bit-identically, no driver-side materialization. */
  /** The corpus construction behind `gendocs`, exposed for GendocsSpec (which
    * pins determinism, the planted near-dup cluster structure, and background
    * selectivity — the properties the BENCH.md dedup-scaling rows rest on). */
  private[graft] def docsCorpus(spark: SparkSession, nDocs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // token = vocab word (length 3-9) + number: a ~48k-word universe whose
    // tokens VARY IN LENGTH. Both properties matter:
    //  - a large universe keeps unrelated docs sharing ~no shingles
    //    (real-corpus behavior — LSH band buckets stay selective; an affine
    //    position walk over a 32-word vocab made every template a rotation of
    //    one token cycle and the pair output quadratic);
    //  - varying LENGTH spreads the polynomial token hashes over the whole
    //    [0, p) range. Fixed-length shared-prefix tokens ("w"+5 digits) confine
    //    the rolling hashes to a ~1e7-wide interval, which DEGENERATES SimHash:
    //    with r = c0+δ the bit-i vote parity((r(2i+1)+c_i) mod p) loses its
    //    mod-wrap for low i and collapses to parity(K_i)⊕parity(δ) — every doc
    //    lands on one of TWO complementary low-band values (measured: buckets
    //    12902/52633 = 0x3266/0xCD99, exact ~16-bit complements, holding 60% of
    //    500k docs → 3.8e10 candidate pairs). Real text varies token length, so
    //    31^len alone spans many multiples of p. See BENCH.md §docs-scaling.
    val vocab = array(Seq(
      "plan", "scan", "join", "agg", "shuffle", "filter", "sort", "hash",
      "merge", "batch", "stream", "vector", "column", "row", "key", "value",
      "graph", "edge", "vertex", "triangle", "rank", "label", "component", "degree",
      "read", "write", "spill", "broadcast", "partition", "skew", "salt", "codegen"
    ).map(lit): _*)
    def token(seed: Long, key: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) = {
      val t = xxhash64(lit(seed), key, j)
      concat(element_at(vocab, pmod(t, lit(32L)).cast("int") + 1),
        pmod(xxhash64(t), lit(1500L)))
    }
    val h = pmod(xxhash64(lit(7L), col("id")), lit(1000000007L))
    val tpl = when(pmod(h, lit(10L)) < 2,
      pmod(xxhash64(lit(11L), col("id")), lit(math.max(1L, nDocs / 50))))
      .otherwise(col("id"))
    val nTok = pmod(xxhash64(lit(13L), tpl), lit(41L)).cast("int") + lit(40)
    val base = transform(sequence(lit(0), nTok), j => token(17L, tpl, j))
    val salt = transform(sequence(lit(0), pmod(h, lit(4L)).cast("int")),
      j => token(19L, col("id"), j))
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", flatten(array(base, salt))).as("text"))
  }

  private def genDocs(nDocs: Long, path: String): Unit = {
    val spark = Bench.session("32")
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    docsCorpus(spark, nDocs).write.mode("overwrite").parquet(path)
    val d = spark.read.parquet(path)
    val stats = d.agg(count(lit(1)), sum(length(col("text")))).first()
    println(s"""{"gendocs":"$path","docs":${stats.getLong(0)},"chars":${stats.getLong(1)}}""")
    spark.stop()
  }

  /** The dedup-pipeline kernels on a docs parquet, same protocol as [[measure]]
    * (fresh JVM per parallelism level, persists dropped between reps, best-of).
    * Throughput unit is corpus chars/s — the quantity that is 100 TB at the
    * design point. */
  private def measureDocs(path: String, cpus: Int, reps: Int, only: Option[String]): Unit = {
    val spark = Bench.session(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(path)
    val stats = docs.agg(count(lit(1)), sum(length(col("text")))).first()
    val (nDocs, nChars) = (stats.getLong(0), stats.getLong(1)) // also warms the scan
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      // the registered oracle-scale configuration: k=5 char shingles. At
      // corpus scale the BACKGROUND Jaccard of unrelated same-language docs
      // under 5-char shingles (~0.08 here) meets the 16x4 banding tail
      // (~16·J^4 of ALL pairs become candidates) — measured 135M candidate
      // rows on this 500k corpus. Correct, but quadratic-tailed: small-scale
      // config only.
      "minhash_lsh" -> (() => graft.docs.Dedup.minhashLshPairs(docs, 5, 64, 16, 0.35)),
      // the corpus-scale configuration (Gopher-style long shingles): k=13
      // drops background J to ~0, candidates track planted dup density
      // (measured 7.0M pre-distinct on the same corpus, max bucket 23)
      "minhash_lsh_k13" -> (() => graft.docs.Dedup.minhashLshPairs(docs, 13, 64, 16, 0.35)),
      // the registered hamming<=8 contract: 9 pigeonhole bands of ~7 bits =
      // ~128 bucket values per band, so candidates grow ~n^2/128 — correct and
      // verified at oracle scale, NOT a corpus-scale configuration
      "simhash_pairs" -> (() => graft.docs.Dedup.simhashNearDupPairs(docs, 8)),
      // the corpus-scale simhash configuration: hamming<=3 -> 4 bands x 16
      // bits = 65k bucket values per band, selectivity ~n^2/65536
      "simhash_pairs_h3" -> (() => graft.docs.Dedup.simhashNearDupPairs(docs, 3)),
      "dedup_exact" -> (() => graft.docs.Dedup.exact(docs)))
    val results = (1 to reps).map { rep =>
      kernels
        .filter { case (name, _) => only.forall(_ == name) }
        .map { case (name, mk) =>
          val t0 = System.nanoTime()
          Bench.materialize(mk())
          val sec = (System.nanoTime() - t0) / 1e9
          CacheTracker.release(spark)
          spark.catalog.clearCache()
          System.err.println(f"[scaling-docs] rep=$rep cpus=$cpus $name: $sec%.2fs")
          name -> sec
        }.toMap
    }.reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    results.toSeq.sortBy(_._1).foreach { case (k, sec) =>
      println(f"""{"kernel":"$k","cpus":$cpus,"docs":$nDocs,"chars":$nChars,"sec":$sec%.3f,"chars_per_sec":${nChars / sec}%.1f,"input":"$path"}""")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: nConvs :: nTools :: path :: Nil =>
      gen(nConvs.toLong, nTools.toInt, path)
    case "gendocs" :: nDocs :: path :: Nil =>
      genDocs(nDocs.toLong, path)
    case "measure" :: path :: cpus :: rest =>
      measure(path, cpus.toInt,
        rest.headOption.map(_.toInt).getOrElse(2), rest.drop(1).headOption)
    case "measuredocs" :: path :: cpus :: rest =>
      measureDocs(path, cpus.toInt,
        rest.headOption.map(_.toInt).getOrElse(2), rest.drop(1).headOption)
    case "check" :: path :: shards :: Nil =>
      check(path, shards.toInt)
    case "hub" :: nLeaves :: rest =>
      hub(nLeaves.toLong, rest.headOption.map(_.toInt).getOrElse(2))
    case _ =>
      System.err.println("usage: ScalingBench gen <nConvs> <nTools> <path> | gendocs <nDocs> <path> | measure <path> <cpus> [reps] [kernel] | measuredocs <path> <cpus> [reps] [kernel] | check <path> <shards> | hub <nLeaves> [reps]")
      sys.exit(2)
  }
}
