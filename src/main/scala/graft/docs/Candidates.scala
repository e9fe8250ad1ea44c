package graft.docs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The candidate core of the near-duplicate family: every operator takes its
  * pairs from here and verifies them with its own exact score. Rows enter as
  * (id, …); pairs leave as (a, b, <c>_a…, <c>_b…) with a < b. [[bandJoin]] is
  * the scale path's set-partitioning join (HERO, SIGMOD 2024): banding
  * partitions the rows and only rows sharing a (band, bucket) meet, so the
  * candidate count is Σ C(bucket size, 2), not |rows|². [[allPairs]] is the
  * brute anchors' join, at oracle and test scale. Both persist their rows
  * MEMORY_AND_DISK: under memory pressure they spill, never silently recompute
  * the text or vector scan that produced them. */
private[docs] object Candidates {

  private val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** `rows` as one end of a pair: `id` as `end`, every other column c as c_`end`. */
  private def side(rows: DataFrame, end: String): DataFrame =
    rows.select(col("id").as(end) +:
      rows.columns.filter(_ != "id").map(c => col(c).as(s"${c}_$end")).toSeq: _*)

  /** Self-join of banded rows (id, band, bucket, carry…) on (band, bucket) with
    * a < b: (a, b, c_a, c_b for each carried column c). A pair sharing several
    * bands appears once per shared band; callers take `distinct` before or
    * after their verify.
    *
    * The rows are persisted and MATERIALIZED (one count) before the join is
    * built. Before that, row-local prep leaves the size estimate at the
    * scan-derived guess, which undercounts generated arrays by ~8 bytes/char,
    * and a broadcast planned on it can abort on maxResultSize at scale. After
    * it, each side is an InMemoryRelation with its computed size, so the
    * broadcast-vs-merge choice is made on truth: small caches broadcast,
    * corpus-scale caches take the sort-merge on the numeric keys. No hints. */
  def bandJoin(banded: DataFrame, carry: String*): DataFrame = {
    val rows = graft.CacheTracker.persist(banded, level) // both sides of the self-join
    rows.count()
    rows.as("x").join(rows.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a") +: col("y.id").as("b") +:
        carry.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b"))): _*)
  }

  /** Every pair of `rows` (id, payload…) with a < b: (a, payload_a…, b,
    * payload_b…). The a side is broadcast explicitly; without the hint the
    * planner falls back to a cartesian on the same pair loop. */
  def allPairs(rows: DataFrame): DataFrame = {
    val r = graft.CacheTracker.persist(rows, level)
    broadcast(side(r, "a")).join(side(r, "b"), col("a") < col("b"))
  }

  /** `rows`' payload joined to both ends of each (a, b) pair: (b, a,
    * payload_a…, payload_b…), for payloads (sets, vectors) too large to carry
    * through the band join once per band. A semi-join of the rows to the
    * pairs first was measured slower. */
  def withSides(pairs: DataFrame, rows: DataFrame): DataFrame =
    pairs.join(side(rows, "a"), "a").join(side(rows, "b"), "b")
}
