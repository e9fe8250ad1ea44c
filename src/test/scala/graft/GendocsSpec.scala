package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scaling-corpus contract: the BENCH.md §dedup-scaling rows rest on
  * `ScalingBench.docsCorpus` having (a) bit-stable determinism, (b) real
  * planted near-dup clusters, and (c) a SELECTIVE background — unrelated docs
  * sharing ~no long shingles, and token hashes spread enough that neither LSH
  * family degenerates (the two measured failure modes: an affine token walk
  * made the whole corpus one near-dup cluster; fixed-length shared-prefix
  * tokens collapsed SimHash's low bands to two complementary values). */
class GendocsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val n = 2000L
  private def corpus = ScalingBench.docsCorpus(spark, n)

  test("deterministic: regenerating yields bit-identical rows") {
    val h1 = corpus.agg(bit_xor(xxhash64(col("doc_id"), col("text")))).first().getLong(0)
    val h2 = corpus.agg(bit_xor(xxhash64(col("doc_id"), col("text")))).first().getLong(0)
    assert(h1 === h2)
    assert(corpus.count() === n)
  }

  test("planted near-dup clusters exist and are confined: k=13 LSH pairs all high-jaccard") {
    val pairs = graft.docs.Dedup.minhashLshPairs(corpus, k = 13, perms = 64,
      bands = 16, threshold = 0.35).persist()
    val cnt = pairs.count()
    // ~20% of 2000 docs over 40 templates → ~10 docs/template → hundreds of
    // true pairs; a degenerate corpus would produce ~n²/2 ≈ 2M
    assert(cnt > 100L, s"expected planted duplicate pairs, got $cnt")
    assert(cnt < 20000L, s"pair count $cnt smells quadratic — background not selective")
    val minJac = pairs.agg(min(col("jac"))).first().getDouble(0)
    assert(minJac >= 0.35)
    // shared-template docs differ only in 1-4 salt tokens → their jaccard is
    // HIGH, not threshold-straddling: the clusters are real duplicates
    val medJac = pairs.agg(percentile_approx(col("jac"), lit(0.5), lit(1000)))
      .first().getDouble(0)
    assert(medJac > 0.7, s"median planted-pair jaccard $medJac — clusters too weak")
    pairs.unpersist()
  }

  test("background selectivity: minhash k=13 band buckets stay tiny") {
    // the production banding (64 permutations in 16 bands), so the bound
    // follows any change to the band hash
    val maxBucket = graft.docs.Dedup.minhashBands(graft.docs.Dedup.shingleSets(corpus, 13), 64, 16)
      .groupBy("band", "bucket").count()
      .agg(max(col("count"))).first().getLong(0)
    // planted clusters are ~10-12 docs; a degenerate background produced
    // buckets of 60% of the corpus
    assert(maxBucket <= 40L, s"max band bucket $maxBucket — background J too high")
  }

  test("simhash bands stay spread (the token-hash-clustering failure mode)") {
    // the degenerate corpus put 60% of docs on ONE low-16-bit value (and its
    // complement); here the largest 16-bit bucket must stay near cluster size.
    // The production banding at maxHamming = 3 cuts four 16-bit bands, band 0
    // being exactly the low 16 bits
    val maxLow = graft.docs.Dedup.simhashBands(corpus, maxHamming = 3)
      .where(col("band") === 0).groupBy(col("bucket")).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(maxLow <= 60L, s"largest low-band bucket $maxLow of $n docs — simhash collapsing")
  }
}
