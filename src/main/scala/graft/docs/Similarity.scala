package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.{DotProduct, HyperplaneBands}

/** Similarity search over the `embeddings` table (vec_id, embedding: array<float>,
  * label).
  *
  * [[bruteForceCosineTopK]] is the exact baseline: query-set × corpus cosine with a
  * per-query top-k window. The dot product is the codegen'd
  * [[graft.expr.DotProduct]] expression — one compiled loop, no UDFs, no
  * interpreted higher-order functions.
  *
  * [[lshCosineTopK]] is the scale path: random-hyperplane (SimHash-style) bucketing
  * — each vector gets a `planes`-bit signature from deterministic hash-derived ±1
  * hyperplanes; only vectors sharing a bucket are compared. At 100 TB the bucket
  * equi-join replaces the query×corpus cross join; recall is tunable via `planes`
  * (fewer bits → bigger buckets → higher recall, more compute).
  *
  * The near-duplicate pair operators share the family's candidate core
  * ([[Candidates]]): [[lshNearDupPairs]] bands the vectors into OR-amplified
  * hyperplane buckets and self-joins on (band, bucket); its anchor
  * [[cosineNearDupPairs]] takes the core's all-pairs join. Every operator
  * scores with the one rounded [[cosine]], and the three top-k operators end
  * in the one [[topK]] window.
  */
object Similarity {

  /** (vec_id, emb: array<double>, nrm: double) with zero-norm guard. Requires
    * [[graft.expr.DotProduct]] registered (every public operator does). */
  private def normed(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      .where(col("nrm") > 0)

  /** Codegen'd dot product ([[graft.expr.DotProduct]] — one compiled loop, same
    * left-to-right IEEE accumulation as the interpreted fold it replaced and as
    * DuckDB's list folds, so oracle comparisons stay bit-for-bit). The round-2
    * interpreted `aggregate` fold dominated every similarity query's CPU. */
  private def dot(a: Column, b: Column): Column =
    call_function(DotProduct.name, a, b)

  /** Cosine of vectors `x`, `y` with norms `nx`, `ny`, rounded to 6 — the one
    * score of every operator here. */
  private def cosine(x: Column, y: Column, nx: Column, ny: Column): Column =
    round(dot(x, y) / (nx * ny), 6)

  /** The k best neighbors of each query in `scored` (q_id, nbr_id, score):
    * (q_id, nbr_id, score, rnk) with rnk 1..k by (score desc, nbr_id asc). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nbr_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("nbr_id"), col("score"), col("rnk").cast("long").as("rnk"))
  }

  /** (a, b, score) of pairs carrying both vectors and norms, kept at or above
    * `threshold`. */
  private def cosineAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .select(col("a"), col("b"),
        cosine(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("score"))
      .where(col("score") >= threshold)

  /** Exact cosine top-k for every query vector (`vec_id % queryMod == 0`), self
    * excluded. Output (q_id, nbr_id, score, rnk), score rounded to 6, rnk 1..k with
    * deterministic (score desc, nbr_id asc) tie-break. */
  def bruteForceCosineTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 25): DataFrame = {
    DotProduct.register(embeddings.sparkSession)
    // persisted: referenced twice (query side + corpus side) — unpersisted, the
    // norm fold over every embedding ran twice per query (round-2 audit)
    val n = graft.CacheTracker.persist(normed(embeddings))
    val q = n.select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
      .where(pmod(col("q_id"), lit(queryMod)) === 0)
    topK(broadcast(q).join(n, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("qe"), col("emb"), col("qn"), col("nrm")).as("score")), k)
  }

  /** All band signatures in one compiled [[graft.expr.HyperplaneBands]] kernel —
    * `array<long>` of length `bands`, bit p of element b = sign of the projection
    * onto global plane b·planes+p. The plane matrix derives from
    * [[graft.expr.HyperplaneBands.planeSign]] (also the oracle's source) and
    * ships once as a codegen reference object. Replaces the per-plane unrolled
    * `when(dot(emb, literal) >= 0, …)` form, whose bands×planes inlined
    * DotProducts overflowed Janino's 64 KB method limit at the production
    * (5, 40, 64) shape and silently dropped the stage out of codegen. */
  private def bandSignatures(embName: String, dim: Int, planes: Int, bands: Int): Column =
    call_function(HyperplaneBands.name, col(embName), lit(dim), lit(planes), lit(bands))

  /** Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥ `threshold`.
    * Brute-force form (exact, oracle-checkable) over the core's all-pairs join
    * ([[Candidates.allPairs]]); at scale, [[lshNearDupPairs]] buckets first and
    * verifies within buckets — same two-tier pattern as
    * [[graft.docs.Dedup.minhashLshPairs]]. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    DotProduct.register(embeddings.sparkSession)
    cosineAtLeast(Candidates.allPairs(normed(embeddings).withColumnRenamed("vec_id", "id")),
      threshold)
  }

  /** Approximate cosine near-duplicate pairs WITHOUT the all-pairs join — the
    * 100 TB scale path beside the brute [[cosineNearDupPairs]] oracle anchor (same
    * two-tier pattern as [[graft.docs.Dedup.minhashLshPairs]]).
    *
    * OR-amplified banded hyperplane LSH: `bands` independent `planes`-bit
    * signatures per vector; vectors sharing ANY band bucket become a candidate
    * pair; candidates get the exact cosine and the threshold filter. Recall for a
    * pair at cosine s is 1 − (1 − p^planes)^bands with p = 1 − acos(s)/π — tune
    * (planes, bands) to the threshold. Production near-dup thresholds (≥ 0.8)
    * prune superlinearly (SimilaritySpec shows 100% recall at 0.9); the driver
    * corpus's threshold 0.4 sits just above its cosine noise floor (q99.9 ≈ 0.38),
    * the adversarial regime for any LSH — (5, 40) measures 1.000 recall there (59/59 at sf0.01, asserted >= 0.9 in SimilaritySpec).
    * Output (a, b, score) — a subset of the brute form's rows, never a superset.
    *
    * Candidates come from [[Candidates.bandJoin]]; the distinct pairs get both
    * vectors joined back ([[Candidates.withSides]]) — a vector is too large to
    * carry through the band join once per band. */
  def lshNearDupPairs(
      embeddings: DataFrame,
      dim: Int,
      threshold: Double,
      planes: Int = 5,
      bands: Int = 40): DataFrame = {
    DotProduct.register(embeddings.sparkSession)
    HyperplaneBands.register(embeddings.sparkSession)
    // banding pass + both verify sides
    val n = graft.CacheTracker.persist(normed(embeddings).withColumnRenamed("vec_id", "id"))
    val banded = n.select(col("id"), posexplode(bandSignatures("emb", dim, planes, bands)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
    cosineAtLeast(Candidates.withSides(Candidates.bandJoin(banded).distinct(), n), threshold)
  }

  /** IVF (inverted-file) approximate cosine top-k — the data-adaptive scale path
    * beside hyperplane LSH. Coarse centroids are every `centMod`-th vector
    * (deterministic data rows, no training step); every vector is assigned to its
    * best centroid via one broadcast join (building the "inverted lists" — the
    * assignment shuffle is the IVF index build); queries probe their `nProbe`
    * best centroids and scan only those lists, so scanned volume is
    * ≈ nProbe/|cents| of the corpus instead of all of it.
    *
    * Fully deterministic: argmax by (cosine desc, centroid id asc), cosines
    * computed with the same sequential fold in both engines — so unlike most ANN
    * indexes this one is DuckDB-oracle-checkable bit-for-bit. Output shape of
    * [[bruteForceCosineTopK]]; recall < 1 by construction (measured in
    * SimilaritySpec against the brute anchor). */
  def ivfCosineTopK(
      embeddings: DataFrame,
      k: Int = 5,
      queryMod: Int = 25,
      centMod: Int = 50,
      nProbe: Int = 2): DataFrame = {
    DotProduct.register(embeddings.sparkSession)
    val n = graft.CacheTracker.persist(normed(embeddings)) // corpus, centroid, and query views
    val cents = n.where(pmod(col("vec_id"), lit(centMod)) === 0)
      .select(col("vec_id").as("c_id"), col("emb").as("ce"), col("nrm").as("cn"))
    // argmax centroid as a map-side-combinable `max_by` aggregate, NOT a
    // row_number window: the corpus×centroids blowup partially reduces to one
    // row per vec_id inside each scan task and never shuffles (round-2 audit —
    // the window form shuffled |corpus|·|cents| rows to sort them). The ordering
    // struct (cs, -c_id) is unique per group, so the pick is deterministic and
    // identical to the oracle's ORDER BY cs DESC, c_id ASC.
    val assigned = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("emb"), col("nrm"), col("c_id"),
        (dot(col("emb"), col("ce")) / (col("nrm") * col("cn"))).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("c_id"), col("emb"), col("nrm")),
        struct(col("cs"), (-col("c_id")).as("nc"))).as("m"))
      .select(col("vec_id"), col("m.emb").as("emb"), col("m.nrm").as("nrm"),
        col("m.c_id").as("c_id"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cs").desc, col("c_id").asc)
    val probed = n.where(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"),
        (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cs"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("q_id"), col("qe"), col("qn"), col("c_id"))
    topK(probed.join(assigned, "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("qe"), col("emb"), col("qn"), col("nrm")).as("score")), k)
  }

  /** Approximate cosine top-k via hyperplane buckets. Same output shape as
    * [[bruteForceCosineTopK]]; recall < 1 by construction. */
  def lshCosineTopK(
      embeddings: DataFrame,
      dim: Int,
      k: Int = 5,
      queryMod: Int = 25,
      planes: Int = 8): DataFrame = {
    DotProduct.register(embeddings.sparkSession)
    HyperplaneBands.register(embeddings.sparkSession)
    val n = normed(embeddings)
      .withColumn("bucket", bandSignatures("emb", dim, planes, 1).getItem(0))
    val q = n.select(col("vec_id").as("q_id"), col("emb").as("qe"),
        col("nrm").as("qn"), col("bucket"))
      .where(pmod(col("q_id"), lit(queryMod)) === 0)
    topK(q.join(n, Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("qe"), col("emb"), col("qn"), col("nrm")).as("score")), k)
  }
}
