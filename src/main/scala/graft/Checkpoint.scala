package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable per-iteration checkpointing with per-partition lineage + metrics, making
  * every iterative kernel (PageRank / CC / LPA) resumable mid-run (north_rule).
  *
  * The reference has no notion of resumability (single-shot batch,
  * `/root/reference/nvtc/main.cpp:25-148`); this is our addition per BASELINE.json.
  *
  * Layout under `dir`:
  *   - `iter_<N>/` — parquet snapshot of the iteration state
  *   - `manifest_<N>.json` — written AFTER the snapshot, atomically (tmp + move):
  *     iteration number, snapshot path, total rows, per-partition row counts
  *     (the lineage: which writing partition contributed what), and free-form
  *     metrics (e.g. PageRank's max delta; a non-finite value is written as
  *     `null`). A manifest's existence certifies the snapshot
  *     is complete — resume reads the highest manifest and ignores any torn
  *     `iter_*` directory without one.
  */
object Checkpoint {

  private val manifestRe: Regex = """manifest_(\d+)\.json""".r
  private val partFileRe: Regex = """part-(\d+)-.*\.parquet""".r

  /** Snapshot `state` as iteration `iter` and certify it with a manifest. One
    * Spark job: the parquet write. The per-partition row counts come from the
    * written files' parquet footers, read on the driver — `part-<pid>-…` is
    * the file the writing task `pid` produced. */
  def save(state: DataFrame, dir: String, iter: Int,
           metrics: Map[String, Double] = Map.empty): Unit = {
    val snap = s"$dir/iter_$iter"
    state.write.mode("overwrite").parquet(snap)
    val conf = state.sparkSession.sessionState.newHadoopConf()
    val snapPath = new HPath(snap)
    val counts = snapPath.getFileSystem(conf).listStatus(snapPath).toSeq.map(_.getPath)
      .flatMap { file =>
        file.getName match {
          case partFileRe(pid) =>
            val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
            try Some(pid.toInt -> reader.getRecordCount) finally reader.close()
          case _ => None
        }
      }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
    val parts = counts.map { case (pid, rows) => s"""{"pid":$pid,"rows":$rows}""" }
    val m = metrics.map { case (k, v) => s"${jsonString(k)}:${jsonNumber(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"iter":$iter,"path":${jsonString(snap)},"rows":${counts.map(_._2).sum},"partitions":[${parts.mkString(",")}],"metrics":$m,"complete":true}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(s"$dir/.manifest_$iter.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(s"$dir/manifest_$iter.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** `s` as a JSON string literal. */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `v` as a JSON number; JSON has no NaN or infinity, so those are `null`. */
  private[graft] def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** The save rule every iterative kernel shares: with a `dir`, snapshot
    * iteration `iter` every `every` iterations and on the iteration that ends
    * the run (`last`), whatever ended it — so a run's final state is always
    * certified, converged or not. */
  private[graft] def saveIfDue(dir: Option[String], every: Int, iter: Int, last: Boolean)(
      state: DataFrame, metrics: Map[String, Double] = Map.empty): Unit =
    dir.foreach { d => if ((iter + 1) % every == 0 || last) save(state, d, iter, metrics) }

  /** Highest certified iteration under `dir`, if any. */
  def latestIter(dir: String): Option[Int] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) None
    else {
      val iters = Files.list(p).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case manifestRe(n) => n.toInt }
        .toSeq
      if (iters.isEmpty) None else Some(iters.max)
    }
  }

  /** Load the snapshot certified for iteration `iter`. */
  def load(spark: SparkSession, dir: String, iter: Int): DataFrame =
    spark.read.parquet(s"$dir/iter_$iter")

  /** Resume point: (iteration, state) of the latest certified snapshot. */
  def resume(spark: SparkSession, dir: String): Option[(Int, DataFrame)] =
    latestIter(dir).map(i => (i, load(spark, dir, i)))

  private[graft] def deleteRecursively(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
