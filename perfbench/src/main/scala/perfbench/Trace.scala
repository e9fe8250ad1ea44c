package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one layer, summed over the tasks of its jobs. */
final class LayerCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskMaxMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def metrics: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble,
    "task_s" -> taskMs / 1e3,
    "task_max_s" -> taskMaxMs / 1e3,
    "shuffle_mb" -> shuffleBytes / 1048576.0,
    "spill_mb" -> spillBytes / 1048576.0,
    "gc_s" -> gcMs / 1e3)
}

/** Attributes jobs, tasks, shuffle, spill and GC time to the layer named by the
  * [[Layer.Key]] local property that [[Pass.op]] sets around each layer call.
  * Broadcast and subquery jobs started on Spark's own threads carry the
  * property too, since SQL executions capture the caller's local properties.
  * Jobs without the property (checks, clean-up) are ignored. */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val byLayer = new ConcurrentHashMap[String, LayerCounters]()

  private def counters(layer: String): LayerCounters =
    byLayer.computeIfAbsent(layer, _ => new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Layer.Key))).foreach { layer =>
      counters(layer).synchronized(counters(layer).jobs += 1)
      e.stageInfos.foreach(s => stageLayer.put(s.stageId, layer))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (layer != null && m != null) {
      val c = counters(layer)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.taskMaxMs = math.max(c.taskMaxMs, e.taskInfo.duration)
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot: Map[String, LayerCounters] = byLayer.asScala.toMap
}

object Layer {
  val Key = "perfbench.layer"

  /** Layers timed from outside, in the order their metrics are reported. */
  val all: Seq[String] = Seq("ingest", "graphcore", "tri.global", "tri.per_vertex",
    "pagerank", "components", "lpa", "dedup", "sink")

  /** Counts of work done, reported next to the layer timings. */
  val counts: Seq[String] = Seq("ingest.edges", "graphcore.max_out_deg",
    "pagerank.iters", "dedup.pairs", "checkpoint.mb", "sink.mb")
}

/** Spans of one pass: layer name, start and end in ms since the run began. */
final case class Span(layer: String, pass: Int, startMs: Double, endMs: Double)

object Trace {
  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def json(spans: Seq[Span], passes: Seq[(Int, Boolean, Map[String, Double])],
           listener: Seq[(Int, Map[String, LayerCounters])]): String = {
    val sb = new mutable.StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s =>
      f"""{"layer":"${s.layer}","pass":${s.pass},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      .mkString(",")
    sb ++= "],\"passes\":["
    sb ++= passes.map { case (i, traced, m) =>
      s"""{"pass":$i,"traced":$traced,"metrics":${Json.obj(m)}}""" }.mkString(",")
    sb ++= "],\"listener\":["
    sb ++= listener.map { case (i, byLayer) =>
      val layers = byLayer.toSeq.sortBy(_._1).map { case (l, c) => s""""$l":${Json.obj(c.metrics)}""" }
      s"""{"pass":$i,"layers":{${layers.mkString(",")}}}""" }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
