package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge-table derivation — the engine's source layer.
  *
  * The reference's only source is a headerless binary edge file
  * (`/root/reference/nvtc/TrCountingGraph.cpp:48-53`). Our engine derives edges from
  * relational tables instead (BASELINE.json input_hint):
  *
  *  - [[edgesFromTranscripts]]: the production path — participant co-occurrence
  *    within a conversation over the transcripts table
  *    (conv_id, turn_idx, role, text, tool, ts).
  *  - [[edgesFromEvents]]: the oracle path over the driver's deterministic `events`
  *    parquet — temporal co-occurrence (consecutive actors within an event_type
  *    stream), exactly expressible in ANSI SQL for the DuckDB oracle.
  *
  * Both produce the canonical undirected simple-edge schema (src: long, dst: long,
  * src < dst) via [[GraphCore.clean]]. Every events edge table — plain,
  * weighted ([[weightedEdgesFromEvents]]), per-day ([[edgesFromEventsDaily]])
  * and bucketed ([[edgesFromEventsScalable]]) — comes from one lag
  * derivation ([[lagPairs]]) that takes the window's key columns.
  */
object Ingest {

  /** Read one of the driver's parquet tables under `sfDir`. Filters and column
    * pruning push down to the parquet scan. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Format seam for the transcripts source (SURVEY.md §7.3): a catalog table name
    * (`catalog.db.transcripts` — the Iceberg deployment path; no Iceberg jar ships
    * in this sandbox) or a parquet path/glob. Schema is identical either way; every
    * downstream operator is source-agnostic. */
  def transcripts(spark: SparkSession, ref: String): DataFrame =
    if (ref.contains("/") || ref.endsWith(".parquet")) spark.read.parquet(ref)
    else spark.read.table(ref)

  /** Canonical edges from the `events` table: within each `event_type` stream ordered
    * by (ts, event_id), each event links its user to the previous event's user
    * ([[lagPairs]]), then [[GraphCore.clean]]. Deterministic, sparse (≤ one raw
    * pair per event), and 1:1 expressible in DuckDB SQL — see [[OracleSql.edgesCte]]. */
  def edgesFromEvents(spark: SparkSession, sfDir: String): DataFrame =
    GraphCore.clean(lagPairs(table(spark, sfDir, "events")))

  /** The events co-occurrence derivation behind every events edge table: within
    * each (event_type, keys…) window ordered by (ts, event_id), each event's
    * user paired with the previous event's user — (keys…, src, dst), dst null
    * on a window's first event. The keys are columns of `events`: none for the
    * one-graph edges, the day for [[edgesFromEventsDaily]], the time bucket for
    * [[edgesFromEventsScalable]]'s within-bucket pairs. */
  private def lagPairs(events: DataFrame, keys: String*): DataFrame = {
    val kc = keys.map(col)
    val w = Window.partitionBy(col("event_type") +: kc: _*).orderBy(col("ts"), col("event_id"))
    events
      .select(kc ++ Seq(col("event_type"), col("ts"), col("event_id"), col("user_id")): _*)
      .withColumn("prev", lag(col("user_id"), 1).over(w))
      .select(kc :+ col("user_id").as("src") :+ col("prev").as("dst"): _*)
  }

  /** Per-conversation summary over the transcripts shape (input_hint schema):
    * turn count, distinct roles/tools, wall-clock span, text volume — the
    * profiling query a transcript corpus gets before any graph derivation.
    * One map-side-combinable aggregation; `countDistinct` skips null tools.
    * Output (conv_id, n_turns, n_roles, n_tools, span_s, n_chars). */
  def conversationStats(transcripts: DataFrame): DataFrame =
    transcripts.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      countDistinct(col("role")).as("n_roles"),
      countDistinct(col("tool")).as("n_tools"),
      (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("span_s"),
      sum(length(col("text"))).as("n_chars"))

  /** Per-day twin of [[edgesFromEvents]]: the lag co-occurrence runs inside
    * each (event_type, day) — streams reset at day boundaries, giving one
    * independent edge set per calendar day, (day, src, dst), deduplicated over
    * all three columns. The temporal-analytics input: per-day subgraphs never
    * interact, so every downstream kernel keyed on `day` is embarrassingly
    * parallel across days and a date predicate prunes the scan — at
    * 10^12-turn scale the day IS the partition. */
  def edgesFromEventsDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events").withColumn("day", col("ts").cast("date"))
    GraphCore.canonicalPairs(lagPairs(events, "day"), "day").distinct()
  }

  /** Weighted twin of [[edgesFromEvents]]: the same temporal co-occurrence
    * derivation, keeping the pair multiplicity as the edge weight instead of
    * deduplicating — (src, dst, w) via [[GraphCore.cleanWeighted]]. Repeated
    * co-occurrence is signal (how often two participants follow each other),
    * and the weighted kernels ([[PageRank.weightedFixedIterations]]) consume
    * it directly. */
  def weightedEdgesFromEvents(spark: SparkSession, sfDir: String): DataFrame =
    GraphCore.cleanWeighted(lagPairs(table(spark, sfDir, "events")))

  /** Two-level (bucketed) twin of [[edgesFromEvents]] — the scale path for the
    * temporal co-occurrence derivation: [[edgesFromEvents]] windows by
    * `event_type` alone, so a corpus with few types would sort entire types in
    * single tasks at 100×. Here the lag runs inside (event_type, time-bucket)
    * windows in parallel, and the one missing pair per bucket border (last
    * event of the previous present bucket → first event of the next) is
    * recovered from a per-(type, bucket) summary — ONE row per bucket, stitched
    * with a per-type window over bucket order, the same two-level pattern as
    * [[sessionizeScalable]] / [[GraphCore.csrBlocks]]. Output identical to
    * [[edgesFromEvents]] (same oracle; differential test in IngestSpec). */
  def edgesFromEventsScalable(
      spark: SparkSession,
      sfDir: String,
      bucketSeconds: Long = 86400L): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val bucketUs = bucketSeconds * 1000000L
    val events = table(spark, sfDir, "events")
      .select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("bkt", floor(col("us") / bucketUs))
    val within = lagPairs(events, "bkt").select(col("src"), col("dst"))
    // per-(type, bucket) first/last user — one row per present bucket, via
    // map-side-combinable min_by/max_by on the (ts, event_id) order key (no
    // extra window sorts over the full event table; the unique key makes the
    // pick deterministic)
    val summary = events
      .groupBy(col("event_type"), col("bkt"))
      .agg(
        min_by(col("user_id"), struct(col("ts"), col("event_id"))).as("first_user"),
        max_by(col("user_id"), struct(col("ts"), col("event_id"))).as("last_user"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
    val boundary = summary
      .withColumn("prev_last", lag(col("last_user"), 1).over(byType))
      .where(col("prev_last").isNotNull)
      .select(col("first_user").as("src"), col("prev_last").as("dst"))
    GraphCore.clean(within.unionAll(boundary))
  }

  /** Canonical participant co-occurrence edges from a transcripts table.
    *
    * Participants of a conversation = its distinct `role` values ∪ its distinct
    * non-null `tool` values, each hashed to a stable Long id with `xxhash64`
    * (sparse ids; the reference's dense int32 space is not assumed — SURVEY.md §1.5).
    * An edge joins every pair of participants that co-occur in the same `conv_id`.
    *
    * Scale shape: `conv_id → collect_set(participant)` is one map-side-combined
    * shuffle keyed by conversation; the pair explosion is quadratic only in the
    * participant count *per conversation* (small by construction — roles + tools of
    * one conversation), never in global cardinality. At 10^12 turns this is one scan
    * + one shuffle of |convs| rows.
    */
  def edgesFromTranscripts(
      transcripts: DataFrame,
      pid: org.apache.spark.sql.Column => org.apache.spark.sql.Column = participantId): DataFrame = {
    val raw = transcripts
      .select(col("conv_id"), col("role").as("p"))
      .unionAll(
        transcripts.where(col("tool").isNotNull)
          .select(col("conv_id"), col("tool").as("p")))
      .select(col("conv_id"), pid(col("p")).as("pid"))
    // salted two-phase collect_set: a hot conversation (millions of turns) would
    // otherwise push every row through the single reducer owning its conv_id —
    // identical output to groupBy(conv_id).agg(sort_array(collect_set(pid)))
    val participants = Salting.saltedCollectSetSorted(raw, "conv_id", "pid", "ps")
    // All ordered pairs (i < j) from each conversation's sorted participant array.
    participants
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x as src, y as dst))))"
      )).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** Gap-based sessionization of the events stream — the classic
    * conversation/user-activity operator: within each user's (ts, event_id)-ordered
    * events, a new session starts when the gap to the previous event exceeds
    * `gapSeconds`. Output (event_id, user_id, session_idx) with session_idx
    * counting from 1 per user. Gaps compare in exact integer MICROseconds
    * (`unix_micros`), so the DuckDB twin ([[OracleSql.sessionize]], `epoch_us`) is
    * bit-identical.
    *
    * Scale note: windows partition by user — a pathological single user with
    * billions of events would make one giant sorted partition; the production
    * mitigation is the same two-level stitch as any per-key scan (bucket by
    * (user, coarse time), sessionize within buckets, merge boundary sessions). */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts").cast("timestamp")) - col("prev_us") > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .select(col("event_id"), col("user_id"),
        sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).as("session_idx"))
  }

  /** Two-level (bucketed) gap sessionization — the scale path beside
    * [[sessionize]]'s per-user window, now code instead of prose: a single
    * pathological user with billions of events no longer funnels through one
    * sorted task.
    *
    *  1. events bucket by coarse time (`bucketSeconds`); the gap rule runs
    *     inside each (user, bucket) window in parallel — no task ever sorts
    *     more than one user-bucket;
    *  2. a per-(user, bucket) summary (first/last timestamp, local session
    *     count — ONE row per user-bucket, tiny at any scale) is stitched with
    *     a per-user window over bucket order: bucket b's first local session
    *     merges into the previous bucket's last session iff the boundary gap
    *     is within `gapSeconds`;
    *  3. the broadcastable stitch table joins back to re-base local indices.
    *
    * Same two-level-scan family as [[GraphCore.csrBlocks]]. Output and
    * semantics IDENTICAL to [[sessionize]] (same oracle; differential test in
    * IngestSpec): boundary events of adjacent present buckets are exactly the
    * consecutive event pairs the single window would compare. */
  def sessionizeScalable(
      events: DataFrame,
      gapSeconds: Long,
      bucketSeconds: Long = 86400L): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val gapUs = gapSeconds * 1000000L
    val bucketUs = bucketSeconds * 1000000L
    val e = events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("bkt", floor(col("us") / bucketUs))
    val byUserBkt = Window.partitionBy(col("user_id"), col("bkt"))
      .orderBy(col("us"), col("event_id"))
    val local = e
      .withColumn("prev_us", lag(col("us"), 1).over(byUserBkt))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("loc", sum(col("new_sess"))
        .over(byUserBkt.rowsBetween(Window.unboundedPreceding, 0)))
      .transform(CacheTracker.persist) // read twice: summary + final re-base join
    val summary = local.groupBy("user_id", "bkt").agg(
      min(col("us")).as("first_us"),
      max(col("us")).as("last_us"),
      max(col("loc")).as("n_loc"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("bkt"))
    val stitched = summary
      .withColumn("prev_last", lag(col("last_us"), 1).over(byUser))
      .withColumn("merged",
        when(col("prev_last").isNotNull && col("first_us") - col("prev_last") <= gapUs, 1L)
          .otherwise(0L))
      .withColumn("base",
        coalesce(sum(col("n_loc") - col("merged"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("user_id"), col("bkt"), col("merged"), col("base"))
    local.join(stitched, Seq("user_id", "bkt"))
      .select(col("event_id"), col("user_id"),
        // merged first local session continues the previous bucket's LAST
        // session (global index = base); otherwise local index re-bases on top
        (col("base") + col("loc") - col("merged")).as("session_idx"))
  }

  /** Stable participant id used by [[edgesFromTranscripts]], exposed so tests and
    * downstream lookups can reverse the mapping via a dimension table. */
  def participantId(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(name)

  /** DuckDB-reproducible participant id (polynomial rolling hash mod 1e9+7, the
    * [[graft.docs.TextOps.fingerprint]] hash): weaker avalanche than the 64-bit
    * default but lets the whole transcripts→edges derivation be oracle-checked.
    * Collision odds for a participant universe of size n are ≈ n²/2e9 — negligible
    * for role+tool universes; keep [[participantId]] for production-scale ids. */
  def participantIdPortable(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // compiled graft_rolling_hash kernel (was an interpreted per-char HOF fold);
    // a Column=>Column helper has no DataFrame to register on, so register on
    // the active session (idempotent; GraftExtensions installs it at build time
    // on deployed sessions)
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.expr.RollingHash.register)
    call_function(graft.expr.RollingHash.name, name)
  }

  /** The reference's own input format: a headerless binary file of little-endian
    * uint32 pairs, edge count = file_size/8 with a trailing partial record silently
    * dropped (TrCountingGraph.cpp:48-53 — documented reference semantics, asserted
    * by our malformed-input test). Accepts a glob or directory so a set of shards
    * scans in parallel. Output: raw (src, dst) pairs — feed through
    * [[GraphCore.clean]].
    *
    * Range-split reader: fixed 8-byte records make split alignment trivial, so the
    * driver only LISTS files (metadata) and plans `[start, end)` record ranges of
    * `splitBytes` each; every task positional-reads its own range in bounded 4 MiB
    * chunks (the Spark analog of the reference's BUFFERSIZE-strided `loadbatch_R4`,
    * TrCountingGraph.cpp:328-363). A single 32-43 GB kron shard — the reference's
    * published workload class — becomes hundreds of parallel tasks instead of one
    * whole-file row with a 2 GiB array cap (round 1's reader). */
  def edgesFromBinary(spark: SparkSession, path: String, splitBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    require(splitBytes >= 8, "splitBytes must cover at least one record")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(hp)).getOrElse(Array.empty)
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath) else Array(st))
      .filterNot(_.isDirectory)
      // skip markers/hidden files (the _SUCCESS our own sink writes): their
      // bytes are not edge records and must not enter the size/8 count
      .filterNot { st =>
        val n = st.getPath.getName
        // ".attempt-" belt-and-braces beyond the hidden prefix (round-5 advice):
        // a zombie attempt file must never enter the size/8 edge count even if
        // some external tool copied it to a visible name
        n.startsWith("_") || n.startsWith(".") || n.contains(".attempt-")
      }
    val recsPerSplit = math.max(splitBytes / 8, 1L)
    val splits = files.toSeq.flatMap { st =>
      val m = st.getLen / 8 // trailing partial record dropped, per reference semantics
      (0L until m by recsPerSplit).map(r0 =>
        (st.getPath.toString, r0, math.min(r0 + recsPerSplit, m)))
    }
    // Ship the DRIVER's Hadoop configuration to the read tasks (round-2 advice):
    // a task-side `new Configuration()` would drop every programmatic /
    // spark.hadoop.* setting — object-store credentials, endpoints, fs tuning —
    // and only work where classpath defaults suffice.
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val parallelism = math.max(math.min(splits.size, spark.sparkContext.defaultParallelism), 1)
    splits.toDF("path", "rec0", "rec1")
      .repartition(parallelism)
      .as[(String, Long, Long)]
      .mapPartitions { parts =>
        parts.flatMap { case (p, r0, r1) =>
          new Iterator[Edge] {
            private val chunkRecs = (4L << 20) / 8 // 4 MiB chunks: constant task memory
            private val fp = new org.apache.hadoop.fs.Path(p)
            private val in = fp.getFileSystem(confBc.value.value).open(fp)
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
            private var nextRec = r0
            private var buf: java.nio.ByteBuffer = _
            private var bufLeft = 0L
            override def hasNext: Boolean = bufLeft > 0 || nextRec < r1
            override def next(): Edge = {
              if (bufLeft == 0) {
                val n = math.min(chunkRecs, r1 - nextRec)
                val bytes = new Array[Byte]((n * 8).toInt)
                in.seek(nextRec * 8)
                in.readFully(bytes)
                buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
                bufLeft = n
                nextRec += n
              }
              bufLeft -= 1
              Edge(buf.getInt() & 0xFFFFFFFFL, buf.getInt() & 0xFFFFFFFFL)
            }
          }
        }
      }
      .toDF()
  }

  /** Sink twin of [[edgesFromBinary]]: write an edge table back out in the
    * reference's on-disk format — headerless little-endian uint32 pairs
    * (graph_generator.py:8-16 packing). One `part-NNNNN.bin` shard per
    * partition (the reader's file_size/8 semantics sum across shards, so a
    * directory of shards IS a valid graph); ids outside uint32 fail fast
    * per record. Round-trips bit-exactly (BinaryIngestSpec) and feeds the
    * reference's own CPU binary in `scripts/ref_differential.sh`-style
    * workflows. Distributed: each task streams its partition through an 8 MiB
    * buffered HDFS writer — no driver-side collect, no per-task memory
    * proportional to data.
    *
    * Commit protocol (round-4 advice: the delete-then-write form could destroy
    * the previous output on a mid-job failure, and the reference reader's
    * size/8 semantics would silently accept a partial directory as a valid
    * truncated graph):
    *  1. tasks write into a hidden staging dir beside the target, each attempt
    *     to its OWN hidden `.part-NNNNN.bin.attempt-K` file, renamed to the
    *     final part name on task success (rename is the atomic primitive; a
    *     losing speculative/retried attempt finds the name taken — identical
    *     bytes, deterministic partition — and discards its own file; the
    *     hidden attempt name means even a zombie attempt finishing after the
    *     job-commit sweep leaves a file the reader's filter skips);
    *  2. only after the job succeeds: `_SUCCESS` marker, then delete the old
    *     target and rename staging → target.
    * A failure at ANY earlier point leaves the previous output untouched and
    * at worst an orphaned `._staging-*` dir (hidden names are invisible to
    * [[edgesFromBinary]], which also skips `_SUCCESS` in the record count).
    * The only non-atomic window is delete-target→rename-staging, which leaves
    * NO target — a loud missing-directory error, never a silent truncation. */
  def writeBinary(edges: DataFrame, path: String): Unit = {
    val spark = edges.sparkSession
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      dir.getParent, s"._staging-${dir.getName}-${java.util.UUID.randomUUID()}")
    fs.mkdirs(staging)
    val stagingStr = staging.toString
    try {
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.nonEmpty) {
            val tc = org.apache.spark.TaskContext.get()
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val attempt = Option(tc).map(_.attemptNumber()).getOrElse(0)
            val taskFs = new org.apache.hadoop.fs.Path(stagingStr)
              .getFileSystem(confBc.value.value)
            writeTaskFile(taskFs, stagingStr, pid, attempt, rows)
          }
          ()
        }
      commitStaging(fs, staging, dir)
    } finally {
      // failure on any path above: the staging dir (not the previous output)
      // is what gets discarded
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** One task attempt of the binary sink: stream `rows` into this attempt's OWN
    * hidden file, then atomically rename it to the final part name (task
    * commit). `commitRename = false` is the failure-injection hook — it models
    * a task that died AFTER writing its bytes but BEFORE its rename (the
    * orphan [[commitStaging]]'s sweep must remove). Attempt files carry a
    * HIDDEN name (round-5 advice): a zombie/speculative attempt finishing
    * between the job-commit sweep and the staging→target rename leaves a file
    * [[edgesFromBinary]]'s filter already skips, instead of stray bytes in the
    * size/8 count. */
  private[graft] def writeTaskFile(
      taskFs: org.apache.hadoop.fs.FileSystem,
      stagingStr: String,
      pid: Int,
      attempt: Int,
      rows: Iterator[org.apache.spark.sql.Row],
      commitRename: Boolean = true): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      f"$stagingStr/.part-$pid%05d.bin.attempt-$attempt")
    val fin = new org.apache.hadoop.fs.Path(f"$stagingStr/part-$pid%05d.bin")
    val out = new java.io.BufferedOutputStream(taskFs.create(tmp, true), 8 << 20)
    try {
      val rec = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      rows.foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        require(u >= 0L && u <= 0xFFFFFFFFL && v >= 0L && v <= 0xFFFFFFFFL,
          s"edge ($u,$v) outside the reference's uint32 id domain")
        rec.clear()
        rec.putInt((u & 0xFFFFFFFFL).toInt).putInt((v & 0xFFFFFFFFL).toInt)
        out.write(rec.array())
      }
    } finally out.close()
    if (commitRename) {
      // task commit: atomic rename to the final part name; if another attempt
      // of this partition already committed, keep its (byte-identical) file
      // and drop ours
      if (!taskFs.rename(tmp, fin)) {
        if (!taskFs.exists(fin))
          throw new java.io.IOException(s"commit rename failed for $fin")
        taskFs.delete(tmp, false)
      }
    }
  }

  /** Job commit of the binary sink: sweep orphaned attempt files (a task that
    * died AFTER writing but BEFORE its rename leaves one; its successful retry
    * committed the real part — the orphan must not reach the target's size/8
    * sum), write the `_SUCCESS` marker, then swap staging → target. The only
    * non-atomic window is delete-target→rename-staging, which leaves NO target
    * — a loud missing-directory error, never a silent truncation. */
  private[graft] def commitStaging(
      fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      dir: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(staging).foreach { st =>
      if (st.getPath.getName.contains(".attempt-")) fs.delete(st.getPath, false)
    }
    // marker next (staging is complete), then swap directories
    fs.create(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"), true).close()
    // overwrite semantics: a previous run with MORE partitions would
    // otherwise leave stale part files behind — and the reader's size/8 sum
    // would silently count them as extra edges
    fs.delete(dir, true)
    if (!fs.rename(staging, dir))
      throw new java.io.IOException(s"final rename $staging -> $dir failed")
  }
}
