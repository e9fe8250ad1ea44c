package graft

import org.apache.spark.sql.functions._

/** Diagnostic main (test scope, not shipped): band-bucket histogram and
  * candidate cardinality of a near-duplicate banding on a docs parquet — run
  * when a banding configuration behaves unexpectedly at scale, to see whether
  * the cost is bucket skew (a few megabuckets, e.g. non-uniform simhash bits
  * on an id-like corpus) or sheer candidate volume. The rows come from the
  * families' own banding functions, so the histogram is of exactly the buckets
  * the band join sees.
  *
  * Usage: `graft.ProbeBuckets <docs.parquet> minhash [k=5]` (64 perms, 16 bands)
  * or `graft.ProbeBuckets <docs.parquet> simhash [maxHamming=3]`. */
object ProbeBuckets {
  def main(args: Array[String]): Unit = {
    val (path, family, param) = (args(0), args(1), args.lift(2).map(_.toInt))
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(path)
    val banded = family match {
      case "minhash" => graft.docs.Dedup.minhashBands(
        graft.docs.Dedup.shingleSets(docs, param.getOrElse(5)), perms = 64, bands = 16)
      case "simhash" => graft.docs.Dedup.simhashBands(docs, param.getOrElse(3))
    }
    val buckets = banded.groupBy("band", "bucket").count().persist()
    val stats = buckets.agg(
      count(lit(1)).as("n_buckets"),
      max(col("count")).as("max_bucket"),
      sum(col("count") * (col("count") - 1) / 2).as("candidate_rows")).first()
    println(s"$family n_buckets=${stats.get(0)} max_bucket=${stats.get(1)} " +
      s"candidate_rows_pre_distinct=${stats.get(2)}")
    buckets.orderBy(col("count").desc).limit(20).collect()
      .foreach(r => println(s"  band=${r.get(0)} bucket=${r.get(1)} size=${r.get(2)}"))
    spark.stop()
  }
}
