package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed op: wall seconds, the digest of its result in the result log
  * (checked outside the JVM), or the error it raised.
  */
final case class OpRec(name: String, window: String, pass: Int, seconds: Double,
                       result: String, error: String, storageBytes: Long)

/** Closed-loop load: one client thread runs the ops of a pass back to
  * back. Passes repeat until the window's seconds are used; every pass does
  * the same fixed work, so a faster program finishes more passes, never a
  * different kind of pass.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer, results: ResultLog) {
  val ops = ArrayBuffer[OpRec]()
  /** (window, wall seconds, process CPU seconds, ops) of every timed pass. */
  val passes = ArrayBuffer[(String, Double, Double, Int)]()
  private var window = "warmup"
  private var pass = 0

  /** Times `body`, which returns the op's collected result; the result is
    * logged after the clock stops, so checking costs the program nothing.
    */
  def op(name: String)(body: => (StructType, Array[Row])): Unit = {
    val t0 = System.nanoTime()
    var res: (StructType, Array[Row]) = null
    var err: String = null
    try res = tracer.op(s"$name#$window$pass", name)(body)
    catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}".take(300) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (window != "warmup") {
      val digest = if (res == null) null else results.record(res._1, res._2)
      ops += OpRec(name, window, pass, secs, digest, err,
        if (tracer.on) Harness.storageBytes(spark) else 0L)
    }
  }

  /** Build, plan (traced only) and collect one query, in three spans. */
  def query(name: String, layer: String)(build: => DataFrame): Unit = op(name) {
    val df = tracer.span(layer, "build")(build)
    if (tracer.on) tracer.span("plans", "plan")(df.queryExecution.executedPlan)
    (df.schema, tracer.span("execute", "exec")(df.collect()))
  }

  def warmup(n: Int)(body: => Unit): Unit = {
    window = "warmup"
    (0 until n).foreach(_ => body)
  }

  /** Runs whole passes until `seconds` have elapsed and at least
    * `minPasses` passes are done.
    */
  def run(name: String, seconds: Double, minPasses: Int)(body: => Unit): Unit = {
    window = name
    val t0 = System.nanoTime()
    pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (p0, c0, n0) = (System.nanoTime(), Harness.processCpuSeconds, ops.size)
      body
      passes += ((name, (System.nanoTime() - p0) / 1e9, Harness.processCpuSeconds - c0, ops.size - n0))
      pass += 1
    }
  }
}

object Harness {
  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Bytes the block manager holds for cached or checkpointed data. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
