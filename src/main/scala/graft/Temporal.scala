package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temporal link-graph analytics over the day-keyed edge table
  * ([[Ingest.edgesFromEventsDaily]]): per-day subgraphs are independent by
  * construction, so these operators co-partition on the day key and distinct
  * days proceed in parallel — the 100 TB shape where the calendar day IS the
  * partition and a date predicate prunes the scan.
  * (Per-day triangle counts live in [[TriangleCount.globalPerKey]].)
  *
  * The two drift metrics share one day-over-day Jaccard ([[dayOverDay]]):
  * [[edgeDriftDaily]] compares each day's edge set with the next day's,
  * [[userActivityDrift]] each user's event-type set; each renames and orders
  * its own output columns.
  */
object Temporal {

  /** Per-day graph summary: vertex/edge counts, average degree, and density —
    * the monitoring dashboard row next to [[edgeDriftDaily]]'s similarity
    * metric. All-integer arithmetic into IEEE doubles (bit-identical across
    * engines); single-vertex days get density 0 by convention. Output
    * (day, n_vertices, n_edges, avg_degree, density).
    *
    * Scale shape: two map-side-combinable counts per day plus a day-keyed
    * join of two day-sized summaries. */
  def graphSummaryDaily(daily: DataFrame): DataFrame = {
    val verts = daily.select(col("day"), col("src").as("v"))
      .unionAll(daily.select(col("day"), col("dst").as("v")))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_vertices"))
    val edges = daily.groupBy(col("day")).agg(count(lit(1)).as("n_edges"))
    verts.join(edges, "day")
      .select(col("day"), col("n_vertices"), col("n_edges"),
        round(lit(2.0) * col("n_edges") / col("n_vertices"), 6).as("avg_degree"),
        round(when(col("n_vertices") > 1,
          lit(2.0) * col("n_edges") / (col("n_vertices") * (col("n_vertices") - 1)))
          .otherwise(lit(0.0)), 6).as("density"))
  }

  /** Per-user behavioral drift: Jaccard similarity of a user's event-type set
    * on consecutive days — the per-entity refinement of [[edgeDriftDaily]]
    * (did THIS user's behavior change overnight), i.e. [[dayOverDay]] with
    * group = user and item = event type. One row per (user, day pair active
    * on both days). Output (day, next_day, user_id, common, n_types,
    * next_n_types, jaccard).
    *
    * Scale shape: distinct (user, day, type) is one map-side-combinable pass;
    * the intersection is an equi-join co-partitioned on (user, day+1, type);
    * the stitch joins two (user, day)-sized summaries. */
  def userActivityDrift(events: DataFrame): DataFrame = {
    // persisted (round-7): the type sets feed three plan branches (sizes +
    // both intersection sides) — unpersisted, exchange reuse dedupes the
    // distinct's shuffle but its post-shuffle dedup aggregate still re-ran
    // per branch
    val types = graft.CacheTracker.persist(events
      .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
      .distinct())
    dayOverDay(types, Seq("user_id"), Seq("event_type"))
      .select(col("day"), col("next_day"), col("user_id"), col("common"),
        col("n").as("n_types"), col("next_n").as("next_n_types"), col("jaccard"))
  }

  /** Day-over-day top-k rank movers: join a per-day score table (day, v, pr)
    * with itself shifted one day, rank the gainers per day pair by
    * (delta desc, v asc). The "who surged overnight" feed composing
    * [[PageRank.fixedIterationsKeyed]]. Output (day, next_day, v, pr,
    * pr_next, delta, rnk).
    *
    * Scale shape: one equi-join co-partitioned on (day+1, v), then a window
    * over the joined day-pair rows (vertex-sized per day, not edge-sized). */
  def moversDaily(ranks: DataFrame, k: Int = 3): DataFrame = {
    val r = graft.CacheTracker.persist(ranks)
    // self-join: renamed columns on the shifted side keep the resolution
    // unambiguous (Spark's self-join analyzer rejects df-reference equality here)
    val nxt = r.select(col("day").as("next_day"), col("v").as("v2"), col("pr").as("pr_next"))
    val j = r
      .join(nxt, date_add(col("day"), 1) === col("next_day") && col("v") === col("v2"))
      .select(col("day"), col("next_day"), col("v"), col("pr"), col("pr_next"),
        (round(col("pr_next") - col("pr"), 6) + lit(0.0)).as("delta"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("delta").desc, col("v").asc)
    j.withColumn("rnk", row_number().over(w).cast("long")).where(col("rnk") <= k)
  }

  /** Day-over-day structural drift: Jaccard similarity of consecutive days'
    * edge sets — |E_d ∩ E_{d+1}| / |E_d ∪ E_{d+1}|. The monitoring metric for
    * "did the interaction graph change shape overnight" (deploy regressions,
    * seasonality, incident detection). One row per consecutive-day pair that
    * both exist. Output (day, next_day, edges, next_edges, common, jaccard)
    * with jaccard rounded to 6 — all-integer arithmetic into one IEEE double
    * division, bit-identical across engines: [[dayOverDay]] with no group and
    * the edge as the item.
    *
    * Scale shape: the intersection is an equi-join on
    * (date_add(day,1), src, dst) — shuffle co-partitioned on the full key, no
    * cross-day fan-out; the per-day sizes are one map-side-combinable count;
    * the final stitch joins two day-sized summary tables (broadcast-small). */
  def edgeDriftDaily(daily: DataFrame): DataFrame =
    dayOverDay(daily, Nil, Seq("src", "dst"))
      .select(col("day"), col("next_day"), col("n").as("edges"), col("next_n").as("next_edges"),
        col("common"), col("jaccard"))

  /** Day-over-day Jaccard of item sets: `sets` holds distinct (group…, day,
    * item…) rows; for each group present on both day d and d + 1 the output
    * is (group…, day, next_day, n, next_n, common, jaccard) — the two set
    * sizes, the size of their intersection and |∩| / |∪| rounded to 6 (all
    * integer arithmetic into one IEEE double division, bit-identical across
    * engines). The per-(group, day) sizes are read twice (both sides of the
    * day-pair join), so they are persisted. */
  private def dayOverDay(sets: DataFrame, group: Seq[String], items: Seq[String]): DataFrame = {
    val keys = group :+ "day"
    // the d + 1 side: group/item columns take a "_next" suffix, day → next_day
    def next(df: DataFrame, cols: Seq[String], extra: Column*) =
      df.select(cols.map(c => col(c).as(c + "_next")) ++ (col("day").as("next_day") +: extra): _*)
    def onNextDay(cols: Seq[String]) =
      (cols.map(c => col(c) === col(c + "_next")) :+ (date_add(col("day"), 1) === col("next_day")))
        .reduce(_ && _)
    val sizes = graft.CacheTracker.persist(
      sets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")))
    val common = sets
      .join(next(sets, group ++ items), onNextDay(group ++ items))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("common"))
    val c = coalesce(col("common"), lit(0L))
    sizes
      .join(next(sizes, group, col("n").as("next_n")), onNextDay(group))
      .join(common, keys, "left")
      .select(group.map(col) ++ Seq(col("day"), col("next_day"), col("n"), col("next_n"),
        c.as("common"), round(c / (col("n") + col("next_n") - c), 6).as("jaccard")): _*)
  }
}
