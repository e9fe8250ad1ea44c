package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, for specs that pin how many jobs an
  * engine call takes. The block's jobs are told apart by a local property set
  * around it; Spark SQL hands local properties on to the jobs it starts on its
  * own threads (broadcasts, shuffle stages), so those are counted too. */
object JobCounter {
  private val Key = "graft.test.jobTag"

  /** Run `body` on the shared test session; return its value and the number
    * of Spark jobs it started. */
  def apply[T](body: => T): (T, Int) = {
    val sc = TestSpark.spark.sparkContext
    val tag = UUID.randomUUID().toString
    val fence = s"$tag/fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      val out = body
      // a listener sees events in the order they were posted, so once the
      // fence job's start arrives, every job the body started has been counted
      sc.setLocalProperty(Key, fence)
      sc.parallelize(Seq(1), 1).count()
      require(fenced.await(60, TimeUnit.SECONDS), "the listener bus did not deliver the fence job")
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
