package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table: exact (normalized-hash
  * group-by), exact n-gram Jaccard (the correctness anchor), MinHash+LSH (the 100 TB
  * scale path — candidate generation without the all-pairs join), and SimHash.
  *
  * Each near-duplicate operator is its banding plus its exact score over the
  * shared candidate core ([[Candidates]]): [[minhashLshPairs]] and
  * [[simhashNearDupPairs]] band their signatures and self-join on (band,
  * bucket) — candidate count tracks true-duplicate count, not |docs|²; the
  * brute anchors [[ngramJaccardPairs]] and [[simhashNearDupPairsBrute]] take
  * the core's all-pairs join. The exact Jaccard pair join explodes on common
  * shingles — it is the small-scale oracle. At 100 TB the path is
  * [[minhashLshPairs]]: per-document signatures (row-local over the cached hash
  * sets), banding, and the bucket equi-join; verified candidates then get the
  * exact Jaccard on a join restricted to candidates.
  *
  * Bucket skew: a band bucket with B members yields B(B−1)/2 candidates, and a
  * megabucket (boilerplate duplicated millions of times) is quadratic BY
  * SEMANTICS — those pairs really are near-duplicates the query contract must
  * emit, so no lossless cap exists at the pair level. The production answer is
  * the CLUSTER form ([[graft.SparkEntry]] `dedup_cluster_canonical_lsh`): once
  * the goal is components rather than the pair list, a megabucket's members can
  * be chained through their verified neighbors instead of enumerated all-pairs
  * — AQE's skew-join split handles the bucket join's task balance meanwhile.
  */
object Dedup {

  /** Exact dedup on whitespace-normalized lowercase text. Output one row per doc:
    * (doc_id, canonical_id, is_dup) where canonical_id = min doc_id of the group.
    *
    * The group key is a 128-bit content hash (two independently-seeded xxhash64 of
    * the normalized text), NOT the text itself: at 100 TB the window's shuffle key
    * must be 16 bytes, not a whole document (round-1 audit finding). Collision odds
    * across P candidate pairs are P/2^128 — the same equality-by-hash contract as
    * content-addressed stores; a byte-exact within-group verify would require
    * shuffling the full text, which is exactly the cost this removes. */
  def exact(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), TextOps.normalized(col("text")).as("norm"))
      .select(
        col("doc_id"),
        xxhash64(col("norm")).as("h1"),
        xxhash64(lit("graft.dedup.exact/2"), col("norm")).as("h2"))
    val byKey = Window.partitionBy(col("h1"), col("h2"))
    keyed
      .withColumn("canonical_id", min(col("doc_id")).over(byKey))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** Distinct k-character shingles per document: (doc_id, sh). Documents shorter
    * than k contribute nothing (mirrors the oracle's length guard; also keeps
    * Spark's `sequence` from generating a descending range). */
  def shingles(docs: DataFrame, k: Int = 5): DataFrame =
    docs
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - lit(k - 1)),
          i => substring(col("text"), i, lit(k))))).as("sh"))

  /** Exact n-gram Jaccard similarity for all pairs at or above `threshold`.
    * Output (a, b, jac) with a < b, jac rounded to 6, pairs sharing ≥ 1
    * shingle — the small-scale correctness anchor for [[minhashLshPairs]]
    * (which remains the 100 TB scale path).
    *
    * Round 7: Θ(n²) per-pair two-pointer intersection over the row-local
    * compiled shingle-hash sets ([[shingleSets]] +
    * [[graft.expr.SortedIntersectCount]] — the minhash verify kernels), the
    * same brute anchor shape as [[simhashNearDupPairsBrute]] and the embed
    * anchors. The previous pairs-sharing-a-shingle self-join + count
    * ([[ngramJaccardPairsShingleJoin]], kept as the differential twin)
    * enumerates Σ_sh C(n_sh,2) co-occurrence rows — 769M at sf0.1, 81% of
    * them from the 159 hottest of only 2,041 distinct shingles, a join-OUTPUT
    * explosion AQE's skew handling cannot split (the join INPUTS are tiny) —
    * measured 438 s vs 6.3-7.9 s for this form at sf0.1/local[32],
    * row-exact equal output. On a sparse corpus the join form's
    * candidates-only enumeration wins asymptotically; at this anchor's
    * documented scale the dense-overlap regime (background J ≈ 0.18) makes
    * the candidate set ≈ all pairs anyway, so brute is strictly better.
    *
    * Intersection counts run over the ~60-bit portable shingle hashes:
    * identical to string counts while the hash is injective on the corpus's
    * shingle universe (verified 2,041 = 2,041 at sf0.1; structural odds
    * ~S²/2^61 — the same equality-by-hash contract as [[exact]] and the
    * minhash verify). The DuckDB oracle stays string-based and re-pins value
    * equality every round. The `i > 0` guard preserves the join form's
    * "pairs sharing a shingle" row set at EVERY threshold, including 0. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 5, threshold: Double = 0.35): DataFrame = {
    graft.expr.SortedIntersectCount.register(docs.sparkSession)
    // [[TextOps.fanned]]: fan the text out only when the scan is under-split —
    // the row-local kernel otherwise inherits 1 task for a small single-file
    // input, serializing the whole n² loop on one core. The core persists the
    // sets: unpersisted, the text hashing would run twice (once in the
    // broadcast build, once on the stream side)
    val sets = shingleSets(TextOps.fanned(docs), k).withColumnRenamed("doc_id", "id")
    jaccardAtLeast(intersections(Candidates.allPairs(sets)).where(col("i") > 0), threshold)
  }

  /** (a, b, i, na, nb) for pairs carrying both sorted hash sets (xs_a, xs_b):
    * the two-pointer intersection count and the set sizes. */
  private def intersections(pairs: DataFrame): DataFrame =
    pairs.select(col("a"), col("b"),
      call_function(graft.expr.SortedIntersectCount.name, col("xs_a"), col("xs_b")).as("i"),
      size(col("xs_a")).cast("long").as("na"), size(col("xs_b")).cast("long").as("nb"))

  /** (a, b, jac) rounded to 6, kept at or above `threshold` — the one Jaccard
    * verify of the anchor and the MinHash scale path. */
  private def jaccardAtLeast(counted: DataFrame, threshold: Double): DataFrame =
    counted
      .select(col("a"), col("b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 6).as("jac"))
      .where(col("jac") >= threshold)

  /** The pre-round-7 pairs-sharing-a-shingle form of [[ngramJaccardPairs]] —
    * string join keys, co-occurrence count as the intersection. Kept as the
    * hash-free differential twin (DocsSpec pins brute == join on seeded
    * corpora); would win on a sparse corpus where candidates ≪ n². */
  private[graft] def ngramJaccardPairsShingleJoin(
      docs: DataFrame, k: Int = 5, threshold: Double = 0.35): DataFrame = {
    // persisted: referenced three times (both self-join sides + sizes) — without it
    // the shingle explode runs three times per query
    val sh = graft.CacheTracker.persist(shingles(docs, k))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Portable ~60-bit shingle hash: two independent polynomial rolling hashes of
    * the k characters (multipliers 31/131, moduli 1e9+7/1e9+9) combined as
    * h1·(1e9+9) + h2 < 2^60. Unrolled over the k FIXED positions — pure codegen
    * arithmetic, no interpreted higher-order fold per shingle (the round-2
    * signature fold was the whole pipeline's CPU), and exactly reproducible in
    * DuckDB (round-2's xxhash64 had no twin there — the one blocker of the
    * minhash oracle). Collision odds for S distinct shingles: ~S²/2^61 —
    * the same equality-by-hash contract as [[exact]]. */
  private[graft] def shingleHash(sh: Column, k: Int): Column = {
    def roll(mult: Long, p: Long): Column =
      (1 to k).foldLeft(lit(0L): Column)((acc, i) =>
        pmod(acc * lit(mult) + ascii(substring(sh, i, 1)).cast("long"), lit(p)))
    roll(31L, 1000000007L) * lit(1000000009L) + roll(131L, 1000000009L)
  }

  /** MinHash permutation parameters: h_i(x) = (a_i·(x mod p) + b_i) mod p,
    * a_i = 2i+1 odd, b_i = xxhash64(i) mod p evaluated ONCE on the driver (the
    * same Catalyst expression either engine could run) and shipped as literals
    * — both the Spark aggregates and the DuckDB oracle read this one table. */
  private[graft] val minhashP = 1000000007L
  private[graft] def minhashOffsets(perms: Int): Seq[Long] =
    (0 until perms).map { i =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(i)), 42L)
        .eval(null).asInstanceOf[Long]
      ((h % minhashP) + minhashP) % minhashP
    }

  /** Hashed shingle rows: (doc_id, x) with x = [[shingleHash]] of the shingle
    * at every position — the shared map-side input of both MinHash stages.
    * Positions come from `posexplode(sequence(...))` + `substr`, which stays
    * entirely inside codegen (the [[shingles]] form's per-doc `transform`
    * lambda is interpreted); rows are NOT de-duplicated here — the downstream
    * `collect_set` and `min` aggregates are duplicate-insensitive, so the
    * distinct pass would be pure cost. */
  def shingleHashes(docs: DataFrame, k: Int = 5): DataFrame =
    docs
      .where(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), length(col("text")) - lit(k - 1))))
      .select(col("doc_id"),
        shingleHash(col("text").substr(col("col"), lit(k)), k).as("x"))

  /** Per-document sorted shingle-hash set: (doc_id, xs: array<long> ascending).
    *
    * Round 6: ROW-LOCAL via the compiled [[graft.expr.ShingleHashSet]] kernel —
    * every hash derives from the document's own text, so the previous
    * `posexplode` (one row per character position) + `sort_array(collect_set)`
    * ObjectHashAggregate and its exchange were pure overhead (~85% of the warm
    * `minhash_lsh_pairs` profile at sf0.1 sat in the prep stages). The per-doc
    * set now never leaves its row; the pipeline's first exchange is the
    * band-bucket self-join, the one that genuinely has to move data.
    * Bit-equivalence with the aggregate form (reconstructed verbatim from
    * [[shingleHashes]], which stays in production for the per-shingle
    * contamination scan) is pinned by MinHashKernelSpec, including a seeded
    * random-unicode property differential. */
  def shingleSets(docs: DataFrame, k: Int = 5): DataFrame = {
    graft.expr.ShingleHashSet.register(docs.sparkSession)
    docs
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        call_function(graft.expr.ShingleHashSet.name, col("text"), lit(k)).as("xs"))
  }

  /** MinHash signatures (doc_id, sig: array<long> of length `perms`).
    *
    * Round-6 lineage: round 2's interpreted `aggregate`/`zip_with` fold (Spark
    * never compiles higher-order functions; it was 17 s of the driver bench)
    * became `perms` plain codegen `min` aggregates in round 3; round 6 makes the
    * minima ROW-LOCAL over the [[shingleSets]] arrays via the compiled
    * [[graft.expr.MinHashSig]] kernel — same values, no re-explode, no
    * HashAggregate, no exchange. */
  def minhashSignatures(docs: DataFrame, k: Int = 5, perms: Int = 64): DataFrame =
    signaturesFromSets(shingleSets(docs, k), perms)

  private def signaturesFromSets(sets: DataFrame, perms: Int): DataFrame = {
    graft.expr.MinHashSig.register(sets.sparkSession)
    sets.select(col("doc_id"),
      call_function(graft.expr.MinHashSig.name, col("xs"), lit(perms)).as("sig"))
  }

  /** MinHash banding of per-doc hash sets (doc_id, xs): (id, band, bucket), one
    * row per document and band. The bucket is a rolling hash over the band's
    * `perms / bands` signature values, seeded with the band index — plain
    * codegen arithmetic, identical in DuckDB. Collisions can only ADD
    * candidates (merged buckets), never lose them; the exact verify removes
    * any such false positive in both engines identically. */
  private[graft] def minhashBands(sets: DataFrame, perms: Int, bands: Int): DataFrame = {
    require(perms % bands == 0, "bands must divide perms")
    val rows = perms / bands
    def bandHash(b: Int): Column =
      (0 until rows).foldLeft(lit(b.toLong): Column)((acc, r) =>
        pmod(acc * lit(1000003L) + element_at(col("sig"), b * rows + r + 1), lit(minhashP)))
    signaturesFromSets(sets, perms)
      .select(col("doc_id"), posexplode(array((0 until bands).map(bandHash): _*)))
      .select(col("doc_id").as("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** LSH candidate pairs from banded MinHash signatures, verified with exact
    * Jaccard. Output (a, b, jac) with jac ≥ `threshold` — same shape as
    * [[ngramJaccardPairs]], but reached without the all-pairs shingle join.
    * bands×rows must equal the signature length.
    *
    * Scale shape: ONE pass over the text builds the persisted per-doc hash
    * sets ([[shingleSets]] — row-local compiled kernel, no exchange); the
    * signatures are row-local minima over the CACHED arrays
    * ([[graft.expr.MinHashSig]] — no exchange either); [[minhashBands]] +
    * [[Candidates.bandJoin]] yield candidates proportional to true-duplicate
    * density — the FIRST shuffle of the whole plan; the distinct candidates
    * get both sorted hash arrays joined back ([[Candidates.withSides]]; the
    * arrays are too large to carry through the band join once per band) and
    * are verified with the codegen'd two-pointer merge
    * ([[graft.expr.SortedIntersectCount]]). Every stage is codegen'd — the
    * portable hashes also make the whole pipeline DuckDB-oracle-checkable
    * (round 2's last closable no-oracle row).
    *
    * Parameter contract at corpus scale (measured, round 6): "candidates
    * proportional to true-duplicate density" holds only while the BACKGROUND
    * Jaccard of unrelated same-language documents is far below the banding
    * threshold s* = (1/bands)^(1/rows). Short shingles raise background J —
    * at k=5 chars, unrelated docs share the language's common 5-grams
    * (J ≈ 0.08 on a 500k-doc synthetic corpus), and the 16×4 banding's tail
    * admits ~bands·J^rows of ALL pairs: measured 135M candidate rows there
    * (quadratic in |docs|, small constant). The registered query keeps k=5
    * because the driver-oracle corpora are ~300-char docs at tiny sf; at
    * corpus scale use LONG shingles (k=13, the Gopher-style choice) — same
    * plan, background J ≈ 0, candidates track planted dup density (7.0M on
    * the same corpus, max band bucket 23). BENCH.md §dedup-scaling carries
    * the measured rows. */
  def minhashLshPairs(
      docs: DataFrame,
      k: Int = 5,
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.35): DataFrame = {
    graft.expr.SortedIntersectCount.register(docs.sparkSession)
    // ONE map-side pass hashes the text into per-doc sorted sets (the compiled
    // row-local kernel); signatures are row-local minima over the CACHED
    // arrays — neither stage shuffles, and the text is never touched again.
    // The sets persist is explicitly MEMORY_AND_DISK like the core's (round-4
    // verdict #6), and both persisted sizes are logged: the persisted volume
    // is observable when a bench run degrades.
    // Fan the TEXT out to the session's shuffle width ONCE, before hashing — but
    // ONLY when the scan is under-split ([[TextOps.fanned]]): the
    // row-local kernels removed both prep exchanges, so parallelism would
    // otherwise equal the SCAN's split count — 1 for a small single-file input,
    // serializing the hashing, the banding, the self-join probe and the verify
    // joins on one core. On a production multi-split scan the input is already
    // well distributed, and an unconditional repartition to
    // spark.sql.shuffle.partitions would both pay a corpus-sized text shuffle
    // AND collapse parallelism whenever the scan's split count exceeds that
    // setting (the normal case at the 100 TB design point) — round-6 advice.
    val sets = graft.CacheTracker.persist(shingleSets(TextOps.fanned(docs), k),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = minhashBands(sets, perms, bands)
    val candidates = Candidates.bandJoin(banded).distinct()
    // logged AFTER the core's materializing count, so the estimates read the
    // COMPUTED InMemoryRelation sizes, not the scan-derived guess (round-6
    // advice: a pre-count log printed "0.0 MiB est" in test runs).
    // `.select("*")` builds a FRESH QueryExecution: the handles' own memoized
    // plans were forced pre-materialization (inside CacheTracker.persist) and
    // would keep reporting the stale guess.
    def estMb(df: DataFrame): String =
      graft.CacheTracker.sizeEstimate(df.select(col("*")))
        .fold("unknown")(b => f"${b / 1048576.0}%.1f MiB est")
    System.err.println(
      s"[minhash] persisted (MEMORY_AND_DISK): sets ${estMb(sets)}, banded ${estMb(banded)}")
    jaccardAtLeast(intersections(
      Candidates.withSides(candidates, sets.withColumnRenamed("doc_id", "id"))), threshold)
  }

  /** 64-bit SimHash over whitespace tokens (unit weights): per-bit ±1 votes summed
    * across token hashes, sign → bit. Output (doc_id, simhash).
    *
    * The token hash is the same polynomial rolling hash (mod 1e9+7) as
    * [[TextOps.fingerprint]] — DuckDB-reproducible, so both simhash queries are
    * oracle-checkable (round 1 used xxhash64, which has no DuckDB twin). Bit i's
    * per-token vote is the parity of an affine re-mix of the token hash
    * (r·(2i+1) + i·2654435761 mod p).
    *
    * Round 6: the whole signature is the compiled [[graft.expr.SimHash64]]
    * kernel — the previous two-level higher-order fold (per-token char
    * `aggregate`, then an O(tokens × 64) `zip_with` vote accumulation) ran
    * INTERPRETED end to end (Spark never compiles HOFs), allocating a
    * `sequence(0, 63)` per token; one compiled pass over (token, bit) replaced
    * it bit-for-bit (simhash64 3.34 → 0.23 s, neardup pairs 6.49 → 2.78 s at
    * sf0.1 — the pairs remainder is the banding self-join, as it should be).
    * Still a pure per-row computation — the only shuffle is none at all.
    *
    * Scale contract (measured, round 6): per-bit independence relies on the
    * TOKEN HASHES spreading over the whole [0, p) range. Natural text does
    * this for free (token length varies, and 31^len alone spans many
    * multiples of p), but an adversarial token universe of fixed-length
    * shared-prefix strings ("w"+5 digits, i.e. sequential ids) confines the
    * rolling hashes to a ~1e7-wide interval — then the bit-i vote
    * `parity((r(2i+1)+c_i) mod p)` never wraps for low i and collapses to
    * `parity(K_i) XOR parity(δ)`: every document lands on one of TWO
    * complementary low-band values and the banding self-join degenerates
    * toward all-pairs (measured on a 500k-doc synthetic id-token corpus:
    * 60% of docs in two complementary 16-bit buckets, 3.8e10 candidate
    * pairs; with length-diverse tokens the same corpus yields 231k buckets,
    * max 258, 1.9e7 candidates). If a corpus is id-like, pre-mix the tokens
    * or use [[minhashLshPairs]], whose shingle hashes span windows and do
    * not inherit the structure. Changing the vote mixer itself would fix
    * this unconditionally but break the DuckDB-renderable oracle parity
    * that motivates this hash. */
  def simhash(docs: DataFrame): DataFrame = {
    graft.expr.SimHash64.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      call_function(graft.expr.SimHash64.name, split(lower(col("text")), " "))
        .as("simhash"))
  }

  /** SimHash pigeonhole banding: (id, band, bucket, h), one row per document and
    * band. The 64 bits split into `maxHamming + 1` contiguous bands, the first
    * `64 % nBands` one bit wider; a bucket is the band's bit value. */
  private[graft] def simhashBands(docs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val base = 64 / nBands
    val widths = Seq.tabulate(nBands)(j => if (j < 64 % nBands) base + 1 else base)
    val lows = widths.scanLeft(0)(_ + _).init
    val bandCols = (0 until nBands).map { j =>
      // mask after the arithmetic shift → exact logical band extraction, sign-safe
      struct(lit(j).as("band"),
        shiftright(col("simhash"), lows(j)).bitwiseAND(lit((1L << widths(j)) - 1)).as("bucket"))
    }
    simhash(docs).select(col("doc_id").as("id"), col("simhash").as("h"),
        explode(array(bandCols: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bucket").as("bucket"), col("h"))
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ `maxHamming`, WITHOUT the
    * all-pairs join (round 1's scale-killer): pigeonhole banding. Split the 64 bits
    * into `maxHamming + 1` bands — two hashes within hamming `maxHamming` differ in
    * at most `maxHamming` bands, so at least one band is bit-identical; the band
    * join ([[Candidates.bandJoin]], carrying each side's hash) yields every
    * qualifying pair as a candidate, the exact hamming filter verifies, and
    * `distinct` runs last, on the verified pairs only. Candidate volume tracks
    * near-duplicate density (band-bucket sizes), never |docs|². Output
    * (a, b, hamming), a < b — identical rows to the brute-force form by
    * construction (banding is lossless here). */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    withinHamming(Candidates.bandJoin(simhashBands(docs, maxHamming), "h"), maxHamming)
      .distinct()

  /** Brute-force twin of [[simhashNearDupPairs]] — the O(n²) correctness anchor,
    * for differential tests only (never registered as a scale path). */
  private[graft] def simhashNearDupPairsBrute(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    withinHamming(Candidates.allPairs(
      simhash(docs).select(col("doc_id").as("id"), col("simhash").as("h"))), maxHamming)

  /** (a, b, hamming) of pairs carrying both hashes (h_a, h_b), kept within `maxHamming`. */
  private def withinHamming(pairs: DataFrame, maxHamming: Int): DataFrame =
    pairs.select(col("a"), col("b"), hamming64(col("h_a"), col("h_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)

  /** Hamming distance between two 64-bit fingerprints (for near-dup query on
    * simhashes). */
  def hamming64(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))
}
