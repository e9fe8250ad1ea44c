package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in fresh SparkSessions, one after another: warm-up in
  * the first, then one timed pass in each of the others until `seconds` of
  * timed passes are done. Writes the result (and, when tracing, the spans and
  * listener counters) as JSON files.
  *
  * Usage: Main --workload W --input DIR --scratch DIR --seconds S --trace 0|1
  *             --cpus N --out FILE [--trace-out FILE]
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(cpus: Int, scratch: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()

  /** Peak resident set of this process, in MB (VmHWM). */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!JFiles.exists(status)) return Double.NaN
    new String(JFiles.readAllBytes(status), StandardCharsets.UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val scratch = opt("scratch")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val runStartNs = System.nanoTime()

    val w = Workload(workloadName, opt("input"))
    var setupS = Double.NaN
    val sessionStarts = mutable.ArrayBuffer[Double]()
    val timed = mutable.ArrayBuffer[(Pass, Boolean)]()
    val listenerByPass = mutable.ArrayBuffer[(Int, Map[String, LayerCounters])]()
    val allPasses = mutable.ArrayBuffer[Pass]()
    def newPass(spark: SparkSession): Pass = {
      val p = new Pass(allPasses.size, spark, runStartNs)
      allPasses += p
      p
    }
    def runPass(spark: SparkSession, listener: Option[LayerListener]): Pass = {
      val p = newPass(spark)
      listener.foreach(spark.sparkContext.addSparkListener)
      try w.pass(p, spark, scratch) catch { case _: OpFailed => () }
      listener.foreach { l =>
        Trace.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        listenerByPass += ((p.index, l.snapshot))
      }
      Pass.release(spark)
      System.gc()
      p
    }

    // The first session runs the discarded warm-up pass, then the fixture
    // passes; set-up is JVM start to the end of the warm-up pass, checks
    // excluded. Every later session runs exactly one pass, timed, so all timed
    // passes pay the same first-pass-in-a-session costs. Sessions are added
    // until `seconds` of timed passes are done: at least three, so the median
    // drops one slow pass; four when tracing, half of them traced.
    // A pass that fails early adds little time: stop adding sessions after
    // twelve timed passes or two minutes, whatever the timed total.
    def enough = timed.size >= (if (traced) 4 else 3) && timed.map(_._1.seconds).sum >= seconds ||
      timed.size >= 12 || System.currentTimeMillis() - jvmStartMs > 120000
    while (sessionStarts.isEmpty || !enough) {
      val t0 = if (sessionStarts.isEmpty) jvmStartMs else System.currentTimeMillis()
      val spark = session(cpus, scratch)
      val ready = System.currentTimeMillis()
      // when tracing, alternate untraced and traced passes so the difference
      // between them is the tracing overhead
      val tracedPass = sessionStarts.nonEmpty && traced && timed.size % 2 == 1
      val first = runPass(spark, if (tracedPass) Some(new LayerListener) else None)
      if (sessionStarts.isEmpty) {
        setupS = (ready - t0) / 1e3 + first.seconds
        w.fixturePasses(spark, () => newPass(spark))
        Pass.release(spark)
      } else timed += ((first, tracedPass))
      sessionStarts += (ready - t0) / 1e3
      spark.stop()
    }

    val ok = (ps: Seq[Pass]) => ps.filter(_.succeeded == w.ops)
    val untracedOk = ok(timed.filterNot(_._2).map(_._1).toSeq)
    val tracedOk = ok(timed.filter(_._2).map(_._1).toSeq)
    val passS = median(untracedOk.map(_.seconds))
    val attempted = allPasses.size * w.ops
    val failed = allPasses.map(p => w.ops - p.succeeded).sum
    val errors = allPasses.flatMap(_.errors)
    // an operation that returned wrong output makes the run incorrect; one
    // that threw is counted in `failed` only
    val wrong = errors.exists(e => !e.contains(": threw "))

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("pass_s") = (passS, "s")
    metrics("pass_cpu_s") = (median(untracedOk.map(_.cpuSeconds)), "s")
    metrics("rows_per_s") = (w.rows / passS, "1/s")
    metrics("setup_s") = (setupS, "s")
    metrics("peak_rss_mb") = (peakRssMb(), "MB")
    if (traced) {
      val tracedIdx = tracedOk.map(_.index).toSet
      for (layer <- Layer.all) {
        metrics(s"$layer.s") = (median(tracedOk.map(_.layerSeconds.getOrElse(layer, 0.0))), "s")
        val per = listenerByPass.filter(x => tracedIdx(x._1)).map(_._2.get(layer).map(_.metrics).getOrElse(Map.empty))
        for (k <- new LayerCounters().metrics.keys.toSeq.sorted) {
          val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
          metrics(s"$layer.$k") = (median(per.map(_.getOrElse(k, 0.0)).toSeq), unit)
        }
      }
      for (c <- Layer.counts) {
        val unit = if (c.endsWith(".mb")) "MB" else "count"
        metrics(c) = (median(tracedOk.map(_.counts.getOrElse(c, 0.0))), unit)
      }
      metrics("trace.overhead_s") = (median(tracedOk.map(_.seconds)) - passS, "s")
      opt.get("trace-out").foreach { f =>
        val spans = allPasses.flatMap(_.spans).toSeq
        val passes = allPasses.map(p => (p.index, tracedIdx(p.index),
          p.layerSeconds.toMap.map { case (k, v) => s"$k.s" -> v } ++ p.counts.toMap)).toSeq
        JFiles.write(Paths.get(f), Trace.json(spans, passes, listenerByPass.toSeq).getBytes(StandardCharsets.UTF_8))
      }
    }

    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    val result =
      s"""{"correct":${!wrong && untracedOk.nonEmpty},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":$metricJson,""" +
        s""""session_s":[${sessionStarts.map(Json.num).mkString(",")}],""" +
        s""""jvm_s":${Json.num((System.currentTimeMillis() - jvmStartMs) / 1e3)},""" +
        s""""pass_s":[${timed.map(x => Json.num(x._1.seconds)).mkString(",")}],""" +
        s""""pass_cpu_s":[${timed.map(x => Json.num(x._1.cpuSeconds)).mkString(",")}],""" +
        s""""traced":[${timed.map(_._2).mkString(",")}],""" +
        s""""errors":[${errors.map(Json.str).mkString(",")}]}"""
    JFiles.write(Paths.get(opt("out")), result.getBytes(StandardCharsets.UTF_8))
  }
}
