package graft

/** Plan-hygiene audit: prints the formatted physical plan of each headline query so
  * shuffle counts, pushed filters, pruned schemas, and codegen spans can be reviewed
  * (and regressions spotted by diffing the output across changes).
  *
  * Note: the near-duplicate pair queries built on the band join
  * (`graft.docs.Candidates.bandJoin`) are EAGER at DataFrame-construction time —
  * the core persists and materializes the banded rows (one count) so Catalyst
  * plans the candidate join from computed InMemoryRelation stats. Those are
  * `minhash_lsh_pairs`, `simhash_neardup_pairs`, `embed_neardup_pairs_lsh`
  * and their cluster users `dedup_cluster_canonical_lsh` and
  * `embed_cluster_canonical`. Auditing them therefore runs the hash /
  * signature / banding pipeline before printing, and leaves the tracked
  * persists in memory until the harness releases them. Accepted: the audit
  * prints exactly the plan the bench executes, which is the contract here.
  *
  * Usage: `graft.PlanAudit [sfDir] [query ...]` — defaults to the Bench headline set.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n===================== $name =====================")
        try {
          val df = fn(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"(failed to plan: $e)") }
      }
    }
    spark.stop()
  }
}
