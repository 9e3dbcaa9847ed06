package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs are matched by a local
  * property set on the calling thread, which Spark carries into the
  * threads a query spawns (broadcasts, adaptive stages), so jobs of other
  * threads sharing the session are not counted.
  */
object JobCount {
  private val Key = "graft.jobcount.tag"

  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          started.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val result = body
      ListenerBusDrain.drain(sc)
      (result, started.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
