package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.docs.{Dedup, Multimodal, Similarity, TextOps}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDF(texts: (Long, String)*) = texts.toDF("doc_id", "text")

  test("token count: empties dropped, whitespace runs handled") {
    val got = TextOps.tokenCount(docsDF(
        0L -> "one two three", 1L -> "  padded  tokens  ", 2L -> "", 3L -> "single"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 2L, 2L -> 0L, 3L -> 1L))
  }

  test("lang id: marker-dominant text classified, tie broken alphabetically") {
    val got = TextOps.langId(docsDF(
        0L -> "the cat and the dog of the house",
        1L -> "der hund und die katze und der vogel",
        2L -> "xyzzy")) // no markers anywhere → all scores 0 → 'de' (alphabetical)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(0L -> "en", 1L -> "de", 2L -> "de"))
  }

  test("lang id plans as one projection — no union, no window, no shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Union, Window => LWindow}
    val plan = TextOps.langId(docsDF(0L -> "the cat and the dog")).queryExecution.optimizedPlan
    assert(plan.collect { case u: Union => u }.isEmpty, "argmax must not union per-language scans")
    assert(plan.collect { case w: LWindow => w }.isEmpty, "argmax must be per-row, not a window")
  }

  test("quality score in [0,1] and monotone in alphabetic content") {
    val got = TextOps.qualityScore(docsDF(
        0L -> "the quick brown fox and the lazy dog of the field",
        1L -> "0123456789 !!! ### $$$ %%%"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0L) > got(1L))
  }

  test("repetition ratio: duplicate 3-grams scored, short docs 0, distinct text 0") {
    val got = TextOps.repetitionRatio(docsDF(
        0L -> "spam spam spam spam spam spam",  // all 3-grams identical
        1L -> "every word here is fully distinct",
        2L -> "ab cd",                           // < 3 tokens
        3L -> "")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(0L) === ((4L, 1L, 0.75)))
    assert(got(1L)._1 === got(1L)._2 && got(1L)._3 === 0.0)
    assert(got(2L) === ((0L, 0L, 0.0)))
    assert(got(3L) === ((0L, 0L, 0.0)))
  }

  test("pii scrub: emails, phones, and IPs counted and redacted; phones win over IPs") {
    val got = TextOps.piiScrub(docsDF(
        0L -> "mail me at jane.doe+x@example.org or bob@test.co thanks",
        1L -> "call 555-123-4567 or visit 10.0.255.1 today",
        2L -> "no pii here at all")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(0L)._1 === 2L)
    assert(got(0L)._4 === "mail me at <EMAIL> or <EMAIL> thanks")
    assert(got(1L) === ((0L, 1L, 1L, "call <PHONE> or visit <IP> today")))
    assert(got(2L) === ((0L, 0L, 0L, "no pii here at all")))
    // a dotted phone number must redact as ONE phone, not a partial IP
    val dotted = TextOps.piiScrub(docsDF(9L -> "fax 555.123.4567 ok")).collect().head
    assert(dotted.getString(4) === "fax <PHONE> ok")
  }

  test("fingerprint: deterministic, sensitive to single-char change, 0 on empty") {
    val got = TextOps.fingerprint(docsDF(0L -> "hello world", 1L -> "hello worle", 2L -> ""))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) !== got(1L))
    assert(got(2L) === 0L)
    val again = TextOps.fingerprint(docsDF(0L -> "hello world"))
      .collect().head.getLong(1)
    assert(again === got(0L))
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    0L -> "the quick brown fox jumps over the lazy dog in the sunny meadow today",
    1L -> "The  quick  brown fox jumps over the LAZY dog in the sunny meadow today",
    2L -> "the quick brown fox jumps over the lazy dog in the sunny meadow tonight",
    3L -> "completely different content about spark shuffles and partitions here",
    4L -> "another unrelated document mentioning triangles and adjacency lists")

  private def docsDF = corpus.toDF("doc_id", "text")

  test("exact dedup: case/whitespace-normalized duplicates collapse to min id") {
    val got = Dedup.exact(docsDF).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(0L) === (0L, false))
    assert(got(1L) === (0L, true)) // same after normalization
    assert(got(2L)._2 === false) // near but not exact
  }

  test("ngram jaccard: near-identical pair found, unrelated pair absent, self-similarity 1") {
    val pairs = Dedup.ngramJaccardPairs(docsDF, k = 5, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 2L)), s"expected (0,2) in ${pairs.keySet}")
    assert(!pairs.contains((3L, 4L)))
    val self = Dedup.ngramJaccardPairs(
      Seq(0L -> corpus.head._2, 9L -> corpus.head._2).toDF("doc_id", "text"),
      k = 5, threshold = 0.3).collect()
    assert(self.length === 1 && self.head.getDouble(2) === 1.0)
  }

  test("brute sorted-intersect form equals the shingle-join twin on seeded corpora") {
    // round 7: ngramJaccardPairs is the Θ(n²) two-pointer form over compiled
    // hash sets; the pre-round-7 string-join plan is kept as the hash-free
    // differential twin. Row-exact equality, including threshold 0.0 (where
    // the i > 0 guard must keep shingle-disjoint pairs absent, matching the
    // join form's pairs-sharing-a-shingle row set).
    for (seed <- 1 to 3; threshold <- Seq(0.0, 0.3)) {
      val rnd = new scala.util.Random(seed)
      val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      def doc() = Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" ")
      val base = (0L until 20L).map(i => i -> doc())
      // a few near-duplicates + one shingle-disjoint doc (no 5-gram shared)
      val df = (base ++ Seq(100L -> (base(0)._2 + " omega"), 101L -> base(1)._2,
        200L -> "zzzzzzzzzz")).toDF("doc_id", "text")
      val brute = Dedup.ngramJaccardPairs(df, k = 5, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      CacheTracker.release(spark)
      val join = Dedup.ngramJaccardPairsShingleJoin(df, k = 5, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      CacheTracker.release(spark)
      assert(brute === join, s"seed=$seed threshold=$threshold")
      if (threshold == 0.0)
        assert(!brute.exists(t => t._1 == 200L || t._2 == 200L),
          s"shingle-disjoint doc must produce no pairs even at threshold 0 (seed=$seed)")
    }
  }

  test("minhash LSH candidates recover all exact-jaccard pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(docsDF, k = 5, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docsDF, k = 5, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("minhash lsh jaccard values equal the exact ones (verification join is exact)") {
    val exact = Dedup.ngramJaccardPairs(docsDF, k = 5, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Dedup.minhashLshPairs(docsDF, k = 5, threshold = 0.3).collect().foreach { r =>
      assert(exact((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
  }

  test("minhash lsh plan joins only on long keys — never a shingle-string self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.types.StringType
    val df = Dedup.minhashLshPairs(docsDF, k = 5, threshold = 0.3)
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.nonEmpty)
    joins.foreach(_.condition.foreach(_.references.foreach(a =>
      assert(a.dataType != StringType,
        s"join key $a:${a.dataType} — the scale path must never self-join shingle text"))))
    CacheTracker.release(spark)
  }

  test("LSH cluster dedup equals the exact-anchor clusters on the sf0.001 documents table") {
    val docsT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(name: String) =
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = canon("dedup_cluster_canonical")
    val lsh = canon("dedup_cluster_canonical_lsh")
    assert(docsT.count() > 0)
    assert(lsh === exact) // same threshold, full recall on this corpus ⇒ same closure
    CacheTracker.release(spark)
  }

  test("LSH cluster oracle round budget: 8 min-label rounds reach the exact closure at sf0.01 AND sf0.1") {
    // The dedup_cluster_canonical_lsh ORACLE unrolls 8 min-label propagation
    // rounds (OracleSql.dedupClusterCanonicalLsh default — DuckDB's recursive
    // CTE spilled at sf0.1). This pins the budget: the identical bounded
    // propagation over the identical pair set (oracle-verified equal) must
    // already equal the exact Components closure on both verify scales, i.e.
    // round 8 is a fixpoint, not a truncation.
    import org.apache.spark.sql.functions.min
    def minLabelRounds(pairs: org.apache.spark.sql.DataFrame, rounds: Int) = {
      val ud = pairs.select(col("a").as("u"), col("b").as("w"))
        .unionAll(pairs.select(col("b").as("u"), col("a").as("w")))
        .persist()
      var l = ud.select(col("u").as("v")).distinct().withColumn("l", col("v"))
        .localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val prop = l.as("lt").join(ud.as("ue"), col("lt.v") === col("ue.u"))
          .select(col("ue.w").as("v"), col("lt.l").as("l"))
        l = l.unionAll(prop).groupBy("v").agg(min("l").as("l"))
          .localCheckpoint(true) // keep the unrolled lineage bounded
      }
      ud.unpersist()
      l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val pairs = Dedup.minhashLshPairs(
        spark.read.parquet(s"$dir/documents.parquet"), k = 5, threshold = 0.35)
        .select(col("a"), col("b")).persist()
      val exact = Components.run(pairs.select(col("a").as("src"), col("b").as("dst")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bounded = minLabelRounds(pairs, 8)
      assert(bounded === exact, s"$dir: 8 rounds did not reach the exact closure")
      pairs.unpersist()
      CacheTracker.release(spark)
    }
  }

  test("simhash banded near-dup pairs equal brute force, no cartesian in the plan") {
    // whitespace-only difference (docs 0/1) → identical token stream → hamming 0,
    // so the corpus always has at least one qualifying pair
    val brute = Dedup.simhashNearDupPairsBrute(docsDF, maxHamming = 24).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(brute.nonEmpty)
    val banded = Dedup.simhashNearDupPairs(docsDF, maxHamming = 24)
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === brute)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "pigeonhole banding must plan as an equi-join, not an all-pairs product")
  }

  test("near-dup pair operators emit each pair once, a < b — spec corpora and sf0.01") {
    // every banded operator must dedupe the pairs its band join repeats once
    // per shared band, and every anchor must emit each unordered pair once;
    // the other near-dup tests compare .toSet/.toMap, which a repeated row passes
    val toy = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (7L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (13L, Array(0.7f, 0.7f, 0.0f, 0.0f)), (50L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (99L, Array(0.0f, 0.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val sf = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashLshPairs spec" -> (() => Dedup.minhashLshPairs(docsDF, k = 5, threshold = 0.3)),
      "ngramJaccardPairs spec" -> (() => Dedup.ngramJaccardPairs(docsDF, k = 5, threshold = 0.3)),
      "simhashNearDupPairs spec" -> (() => Dedup.simhashNearDupPairs(docsDF, maxHamming = 24)),
      "simhashNearDupPairsBrute spec" -> (() => Dedup.simhashNearDupPairsBrute(docsDF, maxHamming = 24)),
      "lshNearDupPairs spec" -> (() =>
        Similarity.lshNearDupPairs(toy, dim = 4, threshold = 0.5, planes = 2, bands = 8)),
      "cosineNearDupPairs spec" -> (() => Similarity.cosineNearDupPairs(toy, threshold = 0.5)),
      "minhashLshPairs sf0.01" -> (() => Dedup.minhashLshPairs(docs, k = 5, threshold = 0.35)),
      "ngramJaccardPairs sf0.01" -> (() => Dedup.ngramJaccardPairs(docs, k = 5, threshold = 0.35)),
      "simhashNearDupPairs sf0.01" -> (() => Dedup.simhashNearDupPairs(docs, maxHamming = 8)),
      "simhashNearDupPairsBrute sf0.01" -> (() => Dedup.simhashNearDupPairsBrute(docs, maxHamming = 8)),
      "lshNearDupPairs sf0.01" -> (() =>
        Similarity.lshNearDupPairs(emb, dim = 64, threshold = 0.4, planes = 5, bands = 40)),
      "cosineNearDupPairs sf0.01" -> (() => Similarity.cosineNearDupPairs(emb, threshold = 0.4)))
    for ((name, op) <- cases) {
      val pairs = op().collect().map(r => (r.getLong(0), r.getLong(1)))
      CacheTracker.release(spark)
      assert(pairs.nonEmpty, s"$name: no pairs — the check below would be vacuous")
      assert(pairs.forall { case (a, b) => a < b }, s"$name: a row with a >= b")
      assert(pairs.length === pairs.distinct.length, s"$name: repeated (a, b) rows")
    }
  }

  test("simhash: identical docs equal, near-identical close, unrelated far (hamming)") {
    val hs = Dedup.simhash(docsDF).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0L), hs(2L)) < ham(hs(0L), hs(3L)))
    val dup = Dedup.simhash(Seq(0L -> corpus.head._2, 9L -> corpus.head._2).toDF("doc_id", "text"))
      .collect().map(_.getLong(1))
    assert(dup(0) === dup(1))
  }
}

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsT = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("stratified sample: deterministic, rate-0 drops all, rate-100 keeps all") {
    val all = docs.Curation.stratifiedSample(docsT, rates = Seq.empty, defaultRate = 100)
    assert(all.where(!col("keep")).count() === 0L)
    val none = docs.Curation.stratifiedSample(docsT, rates = Seq.empty, defaultRate = 0)
    assert(none.where(col("keep")).count() === 0L)
    val a = docs.Curation.stratifiedSample(docsT, Seq("en" -> 30), 100)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val b = docs.Curation.stratifiedSample(docsT, Seq("en" -> 30), 100)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(a === b) // retry-stable: pure function of the data
    // and the sampled stratum is actually downsampled
    val en = docs.Curation.stratifiedSample(docsT, Seq("en" -> 30), 100)
      .where(col("lang_pred") === "en")
    val kept = en.where(col("keep")).count().toDouble
    val total = en.count().toDouble
    assert(total > 0 && kept < total, s"kept $kept of $total")
  }

  test("token pack shards: per-stratum budgets respected, shards contiguous from 0") {
    val budget = 2000L
    val got = docs.Curation.tokenPackShards(docsT, budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val byShard = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
      val shards = byShard.keys.toSeq.sorted
      // shard ids are monotone in doc order and start at 0; they may legitimately
      // GAP when one doc exceeds the budget (floor jumps past it — documented)
      assert(shards.head === 0L, s"$lang shards must start at 0")
      assert(byShard.values.sum === rows.map(_._3).sum)
      // greedy prefix invariant: a shard never overfills BEFORE its closing doc —
      // sum minus the shard's last doc is strictly under budget
      rows.groupBy(_._4).foreach { case (_, docsIn) =>
        val sorted = docsIn.sortBy(_._1)
        val withoutLast = sorted.dropRight(1).map(_._3).sum
        assert(withoutLast < budget, s"$lang shard overfilled before its closing doc")
      }
    }
  }

  test("two-level token packing equals the single-window form at several bucket sizes") {
    val budget = 2000L
    val anchor = docs.Curation.tokenPackShards(docsT, budget)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // tiny buckets (many stitches), mid, and one bucket spanning everything
    Seq(16L, 128L, 1L << 40).foreach { bs =>
      val got = docs.Curation.tokenPackShardsScalable(docsT, budget, bucketSize = bs)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      assert(got === anchor, s"bucketSize=$bs diverged from the single-window anchor")
      CacheTracker.release(spark)
    }
  }

  test("two-level token packing handles negative doc ids (truncating div stays monotone)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val weird = (-40 to 40).map(i =>
      (i.toLong * 7 - 3, (0 to rnd.nextInt(30)).map(_ => "tok").mkString(" ")))
      .toDF("doc_id", "text")
    val anchor = docs.Curation.tokenPackShards(weird, 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val got = docs.Curation.tokenPackShardsScalable(weird, 50L, bucketSize = 13L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === anchor)
    CacheTracker.release(spark)
  }

  test("two-level token packing plan: every per-stratum window is bucket-scoped or post-aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = docs.Curation.tokenPackShardsScalable(docsT, 2000L, bucketSize = 64L)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val partCols = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      val overBuckets = w.partitionSpec.size >= 2 // (lang_pred, bkt) — bucket-local
      val aboveAgg = w.child.collectFirst { case a: Aggregate => a }.nonEmpty
      assert(overBuckets || aboveAgg,
        s"window over $partCols scans a whole stratum in one task — the round-3 scale-killer")
    }
    CacheTracker.release(spark)
  }

  test("dataset split: total partition, retry-stable, uncorrelated with sampling, ~80/10/10") {
    val split = docs.Curation.datasetSplit(docsT, 80, 10)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(split.length.toLong === docsT.count())
    val bySplit = split.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    val n = split.length.toDouble
    assert(bySplit("train") / n > 0.7 && bySplit("train") / n < 0.9)
    // pure function of the data: identical on a second run
    val again = docs.Curation.datasetSplit(docsT, 80, 10)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(split.toMap === again.toMap)
    // different multiplier than stratifiedSample → the two decisions must not
    // coincide (a sampling-kept doc should not deterministically be train)
    val keep = docs.Curation.stratifiedSample(docsT, Seq.empty, 80)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val trainIds = split.filter(_._2 == "train").map(_._1).toSet
    val agree = keep.count { case (id, k) => k == trainIds(id) }
    assert(agree < split.length, "split and sample decisions are identical — correlated hashes")
  }

  test("top tokens: hand fixture ranks by count then token, k respected") {
    val s = spark
    import s.implicits._
    val t = Seq(
      (0L, "the the the cat sat"),
      (1L, "the cat ran"),
      (2L, "a a b")).toDF("doc_id", "text")
    val got = docs.TextOps.topTokens(t, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // all three docs land in ONE language stratum (tiny texts, same argmax);
    // assert the ranking contract within each stratum instead of pinning lang
    got.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to sorted.length).map(_.toLong))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi._3 > lo._3 || (hi._3 == lo._3 && hi._2 < lo._2))
        case _ =>
      }
    }
    val all = got.map(x => (x._2, x._3)).toMap
    assert(all.getOrElse("the", 0L) === 4L)
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 4-dim toy corpus: vec 0 (query) is nearly parallel to vec 7, orthogonal to 50.
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (7L, Array(0.99f, 0.1f, 0.0f, 0.0f), 0),
    (13L, Array(0.7f, 0.7f, 0.0f, 0.0f), 1),
    (50L, Array(0.0f, 0.0f, 1.0f, 0.0f), 2),
    (99L, Array(0.0f, 0.0f, 0.0f, -1.0f), 3))

  private def embDF = vecs.toDF("vec_id", "embedding", "label")

  test("brute-force cosine top-k: correct order and scores") {
    val got = Similarity.bruteForceCosineTopK(embDF, k = 4, queryMod = 25) // queries: 0, 50
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(got((0L, 1L)) === 7L)  // most parallel
    assert(got((0L, 2L)) === 13L)
    val scores = Similarity.bruteForceCosineTopK(embDF, k = 4, queryMod = 25)
      .where(col("q_id") === 0L).collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(scores(7L) - 0.99 / math.sqrt(0.99 * 0.99 + 0.01)) < 1e-4)
    assert(scores(50L) === 0.0)
  }

  test("LSH top-k finds the high-similarity neighbor (same bucket by construction)") {
    val got = Similarity.lshCosineTopK(embDF, dim = 4, k = 4, queryMod = 25, planes = 4)
      .where(col("q_id") === 0L && col("rnk") === 1).collect()
    assert(got.length === 1 && got.head.getLong(1) === 7L,
      "near-parallel vector must share all hyperplane signs with the query")
  }

  test("deterministic across runs") {
    val a = Similarity.bruteForceCosineTopK(embDF, 4, 25).collect().toSeq.map(_.toString).sorted
    val b = Similarity.bruteForceCosineTopK(embDF, 4, 25).collect().toSeq.map(_.toString).sorted
    assert(a === b)
  }

  test("LSH near-dup pairs: 100% recall on a high-similarity corpus, no cartesian") {
    // the favorable (production) regime: true near-dups at cosine ≥ ~0.95, noise
    // pairs near-orthogonal — every dup pair must survive banding
    val rnd = new scala.util.Random(7)
    val base = Array.fill(5)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 40).map { i =>
      val b = base(i % 5)
      val v = b.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      (i.toLong, v, i % 5)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val brute = Similarity.cosineNearDupPairs(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val lsh = Similarity.lshNearDupPairs(df, dim = 16, threshold = 0.9, planes = 8, bands = 16)
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, "high-similarity near-dups must all share a band bucket")
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF top-k on the driver corpus: deterministic, recall vs brute measured") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val brute = Similarity.bruteForceCosineTopK(emb, k = 5, queryMod = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfCosineTopK(emb, k = 5, queryMod = 25, centMod = 50, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    info(f"ivf top-k recall at sf0.01 (10 centroids, nProbe 2): $recall%.3f")
    assert(recall >= 0.5, f"IVF recall $recall%.3f collapsed — probe/centroid params broken")
    // determinism across runs (argmax tie-break is total)
    val again = Similarity.ivfCosineTopK(emb, k = 5, queryMod = 25, centMod = 50, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivf)
  }

  test("LSH near-dup pairs on the driver corpus: recall vs brute anchor >= 0.9 at threshold 0.4") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val brute = Similarity.cosineNearDupPairs(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, dim = 64, threshold = 0.4, planes = 5, bands = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "verification is exact — LSH rows must be a subset")
    val recall = lsh.size.toDouble / brute.size
    info(f"lsh near-dup recall at sf0.01 threshold 0.4: ${recall}%.3f (${lsh.size}/${brute.size})")
    assert(recall >= 0.9, f"recall $recall%.3f below floor on the driver corpus")
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDF = Seq(
    0L -> "abcdefgh", 1L -> "zyxwvuts", 2L -> "short").toDF("doc_id", "text")

  test("media synth: schema, deterministic mime assignment, payload round-trips text bytes") {
    val m = Multimodal.synthFromDocuments(docsDF).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Array[Byte]](2))).toMap
    assert(m(0L)._1 === "image/png" && m(1L)._1 === "audio/wav" && m(2L)._1 === "video/mp4")
    assert(new String(m(0L)._2, "UTF-8") === "abcdefgh")
  }

  test("feature extraction: stub decode deterministic, n_bytes exact, features normalized") {
    val f = Multimodal.extractFeatures(spark, Multimodal.synthFromDocuments(docsDF))
      .collect().map(r => r.doc_id -> r).toMap
    assert(f(0L).n_bytes === 8L)
    assert(math.abs(f(0L).features.sum - 1.0f) < 1e-5)
    val again = Multimodal.extractFeatures(spark, Multimodal.synthFromDocuments(docsDF))
      .collect().map(r => r.doc_id -> r.checksum).toMap
    assert(f.view.mapValues(_.checksum).toMap === again)
  }

  test("frame sample: n frames per doc, frames are contiguous payload slices") {
    val frames = Multimodal.frameSample(Multimodal.synthFromDocuments(docsDF), 4)
      .where(col("doc_id") === 0L).orderBy("frame_idx")
      .collect().map(r => new String(r.getAs[Array[Byte]](3), "UTF-8"))
    assert(frames.toSeq === Seq("ab", "cd", "ef", "gh"))
  }
}

class BinaryIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Pack edges as the reference's little-endian uint32 pairs
    * (graph_generator.py:6-16). */
  private def writeBin(name: String, ints: Seq[Long]): String = {
    val buf = java.nio.ByteBuffer.allocate(ints.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ints.foreach(i => buf.putInt(i.toInt))
    val p = java.nio.file.Files.createTempDirectory("graft-bin").resolve(name)
    java.nio.file.Files.write(p, buf.array())
    p.toString
  }

  test("reference fixture binaries reproduce golden counts through binary ingest") {
    val tri1 = writeBin("test_io.bin", Seq(0L, 1L, 2L, 0L, 1L, 2L))
    assert(TriangleCount.countPairs(Ingest.edgesFromBinary(spark, tri1)).first().getLong(0) === 1L)
    val nv = writeBin("test_io_nvgraph.bin",
      Seq(1L, 0L, 2L, 1L, 3L, 1L, 3L, 2L, 4L, 2L, 4L, 3L, 5L, 4L, 5L, 3L))
    assert(TriangleCount.countPairs(Ingest.edgesFromBinary(spark, nv)).first().getLong(0) === 3L)
  }

  test("writeBinary round-trips bit-exactly, including ids above Int.MaxValue") {
    val dir = java.nio.file.Files.createTempDirectory("graft-binout").toString + "/graph"
    val big = 0xFFFFFFFFL // uint32 max survives the round trip as a positive long
    val edges = Seq((1L, 0L), (2L, 1L), (3L, 1L), (3L, 2L), (4L, 2L), (4L, 3L),
      (5L, 4L), (5L, 3L), (big, 0L))
    Ingest.writeBinary(TestSpark.edgeDF(edges), dir)
    // commit protocol: _SUCCESS marker present, no staging dir left behind,
    // and the marker's bytes never enter the reader's size/8 record count
    val parent = new java.io.File(dir).getParentFile
    assert(new java.io.File(dir, "_SUCCESS").exists, "job-commit marker missing")
    assert(parent.listFiles.forall(!_.getName.startsWith("._staging-")),
      "staging dir leaked past the commit")
    assert(Ingest.edgesFromBinary(spark, dir).count() === edges.length.toLong)
    val back = Ingest.edgesFromBinary(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.sorted.toSeq === edges.sorted)
    assert(TriangleCount.countPairs(Ingest.edgesFromBinary(spark, dir)).first().getLong(0) === 3L)
    // re-writing a SMALLER edge set to the same path must not leave stale shards
    Ingest.writeBinary(TestSpark.edgeDF(edges.take(2)).repartition(1), dir)
    assert(Ingest.edgesFromBinary(spark, dir).count() === 2L)
    // out-of-domain ids fail fast
    val err = intercept[org.apache.spark.SparkException] {
      Ingest.writeBinary(TestSpark.edgeDF(Seq((0x1_0000_0000L, 1L))), dir + "2")
    }
    assert(err.getMessage.contains("uint32") ||
      Option(err.getCause).exists(_.getMessage.contains("uint32")))
  }

  test("commit protocol under failure: a mid-job crash leaves the previous output bit-intact") {
    // round-5 verdict #6: the protocol's value is the crash path. A task dies
    // mid-write (out-of-domain id) AFTER the staging dir exists; the previous
    // output must survive byte-identically and staging must be swept.
    val dir = java.nio.file.Files.createTempDirectory("graft-bincrash").toString + "/graph"
    val v1 = Seq((1L, 0L), (2L, 1L), (3L, 2L), (3L, 0L))
    Ingest.writeBinary(TestSpark.edgeDF(v1), dir)
    val before = Ingest.edgesFromBinary(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    intercept[org.apache.spark.SparkException] {
      Ingest.writeBinary(TestSpark.edgeDF(Seq((5L, 4L), (0x1_0000_0000L, 1L))), dir)
    }
    val after = Ingest.edgesFromBinary(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after === before, "a failed job must not touch the previous output")
    assert(new java.io.File(dir, "_SUCCESS").exists, "previous job's marker must survive")
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles.forall(!_.getName.startsWith("._staging-")),
      "the failed job's staging dir must be swept")
  }

  test("task retry: a zombie attempt that died before its rename is swept; the retry's part wins") {
    // drives the task/job-commit primitives directly — the scheduler sequence
    // writeBinary's foreachPartition produces on a task retry
    import org.apache.spark.sql.Row
    val parent = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft-binretry").toString)
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(parent, "._staging-graph-test")
    fs.mkdirs(staging)
    // attempt 0 writes its bytes then dies BEFORE its task-commit rename
    Ingest.writeTaskFile(fs, staging.toString, 0, 0,
      Iterator(Row(9L, 9L), Row(9L, 8L), Row(9L, 7L)), commitRename = false)
    // the retry (attempt 1) writes different row order/content and commits
    Ingest.writeTaskFile(fs, staging.toString, 0, 1, Iterator(Row(1L, 0L), Row(2L, 1L)))
    val dir = new org.apache.hadoop.fs.Path(parent, "graph")
    Ingest.commitStaging(fs, staging, dir)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    assert(!names.exists(_.contains(".attempt-")), "orphaned attempt file must be swept")
    assert(names.contains("_SUCCESS"))
    val back = Ingest.edgesFromBinary(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(back === Seq((1L, 0L), (2L, 1L)), "only the committed retry's bytes may be read")
    // a ZOMBIE attempt finishing after the sweep drops a hidden attempt file
    // into the final dir — the reader's filter must skip it (round-5 advice:
    // visible attempt names would silently enter the size/8 edge count)
    Ingest.writeTaskFile(fs, dir.toString, 0, 2, Iterator(Row(7L, 7L)), commitRename = false)
    assert(Ingest.edgesFromBinary(spark, dir.toString).count() === 2L,
      "a late zombie attempt's hidden file must not enter the record count")
  }

  test("malformed input: odd trailing ints silently truncated (reference file_size/8 semantics)") {
    // 5 ints = 2 edges + half a record — the reference's test_io_false.bin shape
    val p = writeBin("test_io_false.bin", Seq(0L, 1L, 1L, 2L, 7L))
    val edges = Ingest.edgesFromBinary(spark, p)
    assert(edges.count() === 2L)
  }

  test("range-split reader: multi-hundred-MB shard reads as parallel splits, exact content") {
    // 200 MB single shard = 25M records (i, 2i+1): forces the reader to plan many
    // record-aligned ranges of one file — the reference's big-kron workload shape
    val m = 25L * 1000 * 1000
    val dir = java.nio.file.Files.createTempDirectory("graft-bin-big")
    val p = dir.resolve("big_shard.bin")
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val batch = 1 << 20
    var i = 0L
    while (i < m) {
      val n = math.min(batch.toLong, m - i).toInt
      val buf = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < n) { buf.putInt((i + j).toInt); buf.putInt((2 * (i + j) + 1).toInt); j += 1 }
      buf.flip(); ch.write(buf); i += n
    }
    ch.close()
    val df = Ingest.edgesFromBinary(spark, p.toString, splitBytes = 32L << 20)
    assert(df.rdd.getNumPartitions > 1, "a single large file must split into parallel tasks")
    val r = df.agg(count(lit(1)), sum(col("src")), sum(col("dst"))).collect().head
    assert(r.getLong(0) === m)
    assert(r.getLong(1) === m * (m - 1) / 2)         // Σ i
    assert(r.getLong(2) === m * m)                   // Σ (2i+1)
    java.nio.file.Files.delete(p); java.nio.file.Files.delete(dir)
  }

  test("triangle adjacency form: broadcast and shuffled-join variants agree") {
    val pairs = TestSpark.edgeDF(Seq(
      (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L), (5L, 6L)))
    val oriented = GraphCore.orientClean(pairs)
    val adj = GraphCore.adjacency(oriented)
    val b = TriangleCount.globalAdjacency(spark, oriented, adj).first().getLong(0)
    val s = TriangleCount.globalRelational(oriented).first().getLong(0)
    assert(b === 2L && s === 2L)
  }

  test("uint32 ids above Int.MaxValue read as positive longs") {
    val big = 4294967295L // 2^32 - 1
    val p = writeBin("big.bin", Seq(big, 1L))
    val row = Ingest.edgesFromBinary(spark, p).collect().head
    assert(row.getLong(0) === big && row.getLong(1) === 1L)
  }
}
