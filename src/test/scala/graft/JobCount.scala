package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** A block's result and the number of Spark jobs it launched: those
  * started from the calling thread, or from threads it starts (they
  * inherit its Spark local properties, which carry the block's label).
  * Exact and repeatable, unlike wall time. */
object JobCount {
  private val LabelKey = "graft.test.jobCount"

  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val label = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(LabelKey) == label)
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(LabelKey, label)
    val result = try body
    finally {
      sc.setLocalProperty(LabelKey, null)
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (result, jobs.get)
  }
}
