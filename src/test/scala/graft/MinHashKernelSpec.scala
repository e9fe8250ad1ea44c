package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.docs.Dedup
import graft.expr.{MinHashKernel, MinHashSig, ShingleHashSet}

/** The row-local minhash prep kernels: bit-for-bit equivalence with the
  * aggregate forms they replaced (reconstructed verbatim from
  * [[Dedup.shingleHashes]], which stays in production for the contamination
  * scan), interpreted == codegen, survival inside codegen at the production
  * (k=5, perms=64) shape, and the null/short-text contracts. */
class MinHashKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val k = 5
  private val perms = 64

  /** The pre-round-6 set construction, verbatim: posexplode'd rolling hashes
    * into `sort_array(collect_set(x))` — the equivalence anchor. */
  private def oldSets(docs: DataFrame): DataFrame =
    Dedup.shingleHashes(docs, k)
      .groupBy("doc_id").agg(sort_array(collect_set(col("x"))).as("xs"))

  /** The pre-round-6 signature aggregation, verbatim: `perms` plain `min`
    * aggregates over the exploded hash rows. */
  private def oldSigs(hashed: DataFrame): DataFrame = {
    val bs = Dedup.minhashOffsets(perms)
    val minCols = (0 until perms).map(i =>
      min(pmod(col("xp") * lit(2L * i + 1) + lit(bs(i)), lit(1000000007L))).as(s"_m$i"))
    hashed
      .withColumn("xp", pmod(col("x"), lit(1000000007L)))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until perms).map(i => col(s"_m$i")): _*).as("sig"))
  }

  private val adversarial = Seq(
    (0L, Some("hello world, a perfectly ordinary document")),
    (1L, Some("")),                                  // empty → dropped by both
    (2L, Some("abcd")),                              // length k-1 → dropped
    (3L, Some("abcde")),                             // length k → exactly one shingle
    (4L, Some("aaaaaaaaaa")),                        // every shingle identical → 1-element set
    (5L, Some("naïve café déjà-vu — ünïcødé")),      // non-ASCII BMP
    (6L, Some("emoji 😀😀 pair soup 😀 xyz")),        // surrogate pairs inside shingles
    (7L, None),                                      // null text
    (8L, Some((1 to 40).map(i => s"tok$i").mkString(" "))))

  private def adversarialDF = {
    val s = spark
    import s.implicits._
    adversarial.toDF("doc_id", "text")
  }

  private def collectSets(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("shingle set kernel == the posexplode + collect_set form (adversarial strings)") {
    val got = collectSets(Dedup.shingleSets(adversarialDF, k))
    val expected = collectSets(oldSets(adversarialDF))
    assert(got === expected)
    // the where-guard contract: empty/short/null texts are ABSENT, not empty rows
    assert(!got.contains(1L) && !got.contains(2L) && !got.contains(7L))
    assert(got(3L).length === 1, "length-k text has exactly one shingle")
    assert(got(4L).length === 1, "identical shingles collapse to one set element")
    got.values.foreach(xs => assert(xs === xs.sorted && xs.distinct === xs))
  }

  test("signature kernel == the 64-min-aggregate form (adversarial strings)") {
    val got = collectSets(Dedup.minhashSignatures(adversarialDF, k, perms))
    val expected = collectSets(oldSigs(Dedup.shingleHashes(adversarialDF, k)))
    assert(got === expected)
    got.values.foreach(sig => assert(sig.length === perms))
  }

  test("both kernels == the aggregate forms on the sf0.001 documents corpus") {
    val docs = Ingest.table(spark, "/root/testdata/sf0.001", "documents")
    assert(collectSets(Dedup.shingleSets(docs, k)) === collectSets(oldSets(docs)))
    assert(collectSets(Dedup.minhashSignatures(docs, k, perms)) ===
      collectSets(oldSigs(Dedup.shingleHashes(docs, k))))
  }

  test("property: kernels == aggregate forms on 64 seeded random unicode strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    // the TextHashSpec code-point soup: ASCII, latin-1, BMP CJK, astral plane
    val cpGen: Gen[Int] = Gen.frequency(
      8 -> Gen.chooseNum(0x20, 0x7e),
      2 -> Gen.chooseNum(0xa0, 0xff),
      2 -> Gen.chooseNum(0x4e00, 0x4eff),
      1 -> Gen.chooseNum(0x1f300, 0x1f6ff), // surrogate pairs
      2 -> Gen.oneOf(' '.toInt, ' '.toInt, '\t'.toInt))
    val strGen: Gen[String] = Gen.chooseNum(0, 80).flatMap(n =>
      Gen.listOfN(n, cpGen).map(cps =>
        new String(cps.toArray.flatMap(Character.toChars), 0,
          cps.map(Character.charCount).sum)))
    val params = Gen.Parameters.default
    val docs = (1 to 64).map(i =>
      (i.toLong, strGen.pureApply(params, Seed(i.toLong)))).toDF("doc_id", "text")
    assert(collectSets(Dedup.shingleSets(docs, k)) === collectSets(oldSets(docs)))
    assert(collectSets(Dedup.minhashSignatures(docs, k, perms)) ===
      collectSets(oldSigs(Dedup.shingleHashes(docs, k))))
  }

  test("codegen == interpreted (factoryMode differential)") {
    val s2 = spark.newSession()
    import s2.implicits._
    ShingleHashSet.register(s2)
    MinHashSig.register(s2)
    val df = adversarial.toDF("doc_id", "text").where(length(col("text")) >= k)
    def run(mode: String): Map[Long, (Seq[Long], Seq[Long])] = {
      s2.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("doc_id"),
          call_function(ShingleHashSet.name, col("text"), lit(k)).as("xs"))
        .select(col("doc_id"), col("xs"),
          call_function(MinHashSig.name, col("xs"), lit(perms)).as("sig"))
        .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
      finally s2.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(run("CODEGEN_ONLY") === run("NO_CODEGEN"))
  }

  test("stays inside codegen at the production (k=5, perms=64) shape") {
    val s2 = spark.newSession()
    import s2.implicits._
    s2.conf.set("spark.sql.codegen.fallback", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val docs = adversarial.toDF("doc_id", "text")
      val n = Dedup.minhashSignatures(docs, k, perms)
        .select(posexplode(col("sig"))).count()
      assert(n === 6L * perms) // 6 docs survive the length guard
    } finally {
      s2.conf.unset("spark.sql.codegen.fallback")
      s2.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("rolling window hash == aggregate form at every k the engine uses (1, 2, 5, 13)") {
    // the k=5 differentials above anchor the registered config; the scaling
    // evidence runs k=13, and the rolling recurrence (subtract the outgoing
    // code point's 31^(k-1) term, shift, add the incoming) must be bit-exact
    // at EVERY k — including k=1 (pow = 1, window = single code point)
    for (kk <- Seq(1, 2, 5, 13)) {
      val docs = adversarialDF
      val expected = collectSets(
        Dedup.shingleHashes(docs, kk)
          .groupBy("doc_id").agg(sort_array(collect_set(col("x"))).as("xs")))
      assert(collectSets(Dedup.shingleSets(docs, kk)) === expected, s"k=$kk")
    }
  }

  test("shingle hash is injective on the sf0.01 and sf0.1 documents corpora (k = 5, 13)") {
    // every set size and pairwise intersection the hashed dedup forms compute
    // equals its shingle-string twin only while no two distinct shingles share
    // a hash: a collision here fails loudly instead of as a later oracle diff
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"); kk <- Seq(5, 13)) {
      val strings = Dedup.shingles(spark.read.parquet(s"$dir/documents.parquet"), kk)
        .select(col("sh")).distinct()
      val r = strings.agg(count(lit(1)), count_distinct(Dedup.shingleHash(col("sh"), kk))).first()
      assert(r.getLong(0) > 0L, s"$dir k=$kk: no shingles")
      assert(r.getLong(0) === r.getLong(1), s"$dir k=$kk: distinct shingles vs distinct hashes")
    }
  }

  test("invalid UTF-8: kernel == LEGACY byte-walk pipeline (real differential, not the " +
    "round-6 tautology)") {
    import org.apache.spark.unsafe.types.UTF8String
    val s = spark
    import s.implicits._
    // Cases from the round-6 advice: a truncated 3-byte lead (0xE2 swallows the
    // next 2 bytes as one byte-walk char — toString would instead keep them),
    // a lone continuation byte, and a mix of both; BinaryType → StringType cast
    // wraps the raw bytes unchecked, so the legacy SQL pipeline
    // (Dedup.shingleHashes — substring/ascii byte-walk semantics) sees exactly
    // the malformed UTF8String the kernel sees.
    val cases = Seq(
      "abc".getBytes ++ Array(0xe2.toByte) ++ "defgh".getBytes,
      "abc".getBytes ++ Array(0x80.toByte, 0xe2.toByte) ++ "defgh".getBytes,
      Array(0x80.toByte) ++ "abcdefg".getBytes ++ Array(0xf0.toByte, 0x9f.toByte))
    for ((bytes, idx) <- cases.zipWithIndex) {
      val bad = UTF8String.fromBytes(bytes)
      assert(!bad.isValid, s"case $idx must be malformed")
      val docs = Seq((1L, bytes)).toDF("doc_id", "bin")
        .select(col("doc_id"), col("bin").cast("string").as("text"))
      val legacy = Dedup.shingleHashes(docs, k)
        .select("x").collect().map(_.getLong(0)).distinct.sorted.toSeq
      assert(MinHashKernel.shingleSet(bad, k).toSeq === legacy,
        s"case $idx: kernel fallback must reproduce the legacy byte-walk windows")
      // and end-to-end through the registered expression
      assert(collectSets(Dedup.shingleSets(docs, k)) === Map(1L -> legacy),
        s"case $idx: shingleSets must keep matching shingleHashes on malformed input")
    }
  }

  test("contracts: null → null, empty signature input is a loud error") {
    val s = spark
    import s.implicits._
    ShingleHashSet.register(s)
    MinHashSig.register(s)
    val r = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(call_function(ShingleHashSet.name, col("text"), lit(k)).as("xs"))
      .collect().head
    assert(r.isNullAt(0), "null text → null set at the expression level")
    val nullArr = Seq((1L, Option.empty[Seq[Long]])).toDF("doc_id", "xs")
      .select(call_function(MinHashSig.name, col("xs").cast("array<bigint>"), lit(perms)))
      .collect().head
    assert(nullArr.isNullAt(0), "null array → null signature")
    val err = intercept[Exception] {
      Seq((1L, Seq.empty[Long])).toDF("doc_id", "xs")
        .select(call_function(MinHashSig.name, col("xs"), lit(perms)))
        .collect()
    }
    assert(err.getMessage != null)
  }
}
