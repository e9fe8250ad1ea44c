package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Thrown by [[Pass.op]] to end a pass at its first failed operation. */
final class OpFailed(msg: String) extends RuntimeException(msg)

/** One pass of a workload: a fixed sequence of layer calls ("operations").
  *
  * [[op]] times the call from outside, with the layer named in a Spark local
  * property so the [[LayerListener]] can attribute its jobs. The output check
  * runs after the clock stops. A call that throws or fails its check counts
  * as failed and adds no time; every later operation of the pass counts as
  * failed too, so each pass attempts the same number of operations. */
final class Pass(val index: Int, spark: SparkSession, runStartNs: Long) {
  val layerSeconds = mutable.LinkedHashMap[String, Double]()
  /** CPU seconds of the process, all threads but the JIT compiler's (GC
    * included), during each layer call. */
  val layerCpu = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  var succeeded = 0

  def seconds: Double = layerSeconds.values.sum
  def cpuSeconds: Double = layerCpu.values.sum

  def op[T](layer: String)(body: => T)(check: T => Seq[String]): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Layer.Key, layer)
    val c0 = Pass.processCpuNs()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val c1 = Pass.processCpuNs()
    sc.setLocalProperty(Layer.Key, null)
    val errs = out match {
      case Left(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    if (errs.nonEmpty) {
      errors ++= errs.take(5).map(e => s"pass $index, $layer: $e")
      throw new OpFailed(s"$layer failed")
    }
    layerSeconds(layer) = layerSeconds.getOrElse(layer, 0.0) + (t1 - t0) / 1e9
    layerCpu(layer) = layerCpu.getOrElse(layer, 0.0) + (c1 - c0) / 1e9
    spans += Span(layer, index, (t0 - runStartNs) / 1e6, (t1 - runStartNs) / 1e6)
    succeeded += 1
    out.toOption.get
  }
}

object Pass {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time less the CPU time of HotSpot's compiler threads (named
    * "C1 CompilerThreadN" / "C2 CompilerThreadN", cut to 15 characters in
    * /proc): compiling code that earlier passes ran is set-up, not the work
    * of a warm pass. Compiler threads must outlive the pass for the
    * difference to hold, so the runner JVM is started with
    * -XX:-UseDynamicNumberOfCompilerThreads. Without /proc the whole process
    * CPU time is reported. */
  def processCpuNs(): Long = os.getProcessCpuTime - compilerCpuNs()

  private val tasks = new java.io.File("/proc/self/task")
  private val nsPerTick = 1e9 / 100 // USER_HZ; 100 on Linux

  private def compilerCpuNs(): Long = {
    var ticks = 0L
    for (t <- Option(tasks.listFiles()).getOrElse(Array.empty[java.io.File])) {
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          // fields after the ")" that closes the name start at field 3 (state);
          // utime and stime are fields 14 and 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          ticks += f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => () } // a thread that just ended
    }
    (ticks * nsPerTick).toLong
  }

  /** A layer's output, persisted and counted at its boundary. */
  def keep(df: DataFrame): Kept = {
    val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
    Kept(kept, kept.count())
  }

  /** Drop everything a pass cached, so the next pass starts from the stored
    * input: tracked engine intermediates, Dataset caches and the RDDs left by
    * lazy local checkpoints. */
  def release(spark: SparkSession): Unit = {
    graft.CacheTracker.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)
}
