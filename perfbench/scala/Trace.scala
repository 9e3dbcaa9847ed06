package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for an op's root span; every span of
  * one op carries that op's id in `op`.
  */
final case class Span(id: Long, parent: Long, op: String, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0
}

/** Spans recorded around the benchmark's calls into each layer. While `on`,
  * each span sets the Spark job group to its id, and the listeners below
  * charge jobs, stages, tasks, shuffle and spill bytes to that span. The
  * query-execution listener charges each executed plan's exchanges to the
  * op that ran it; events are drained at the end of every op, and ops run
  * one at a time, so that attribution is exact.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  val work = mutable.Map[Long, Work]()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var currentOp = ""

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobEvents = new ConcurrentLinkedQueue[(Long, Int)]()        // (span, stages)
  private val stageEvents = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  private val planEvents = new ConcurrentLinkedQueue[Int]()               // exchanges per action

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.flatMap(_.toLongOption).foreach { span =>
        e.stageIds.foreach(s => stageSpan.put(s, span))
        jobEvents.add((span, e.stageIds.size))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span = stageSpan.get(e.stageInfo.stageId)
      if (span != null) {
        val m = e.stageInfo.taskMetrics
        val (sw, spill) =
          if (m == null) (0L, 0L)
          else (m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
        stageEvents.add((span.longValue, e.stageInfo.numTasks.toLong, sw, spill))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) planEvents.add(Tracer.exchanges(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def setGroup(): Unit = stack.headOption match {
    case Some(id) => sc.setJobGroup(id.toString, s"$currentOp", interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Run `body` as a child span of the current one (or as a no-op wrapper
    * while tracing is off).
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      setGroup()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        setGroup()
        spans += Span(id, parent, currentOp, layer, name, t0, t1)
      }
    }

  /** Root span of one op; drains the listener bus afterwards so every job
    * the op caused is charged before the next op starts.
    */
  def op[T](opId: String, name: String)(body: => T): T =
    if (!on) body
    else {
      currentOp = opId
      val rootId = nextId
      try span("harness", name)(body)
      finally {
        drain()
        planEvents.asScala.foreach(ex => work.getOrElseUpdate(rootId, new Work).exchanges += ex)
        planEvents.clear()
      }
    }

  def drain(): Unit = {
    ListenerBusShim.drain(sc)
    jobEvents.asScala.foreach { case (span, _) =>
      work.getOrElseUpdate(span, new Work).jobs += 1
    }
    jobEvents.clear()
    stageEvents.asScala.foreach { case (span, tasks, sw, spill) =>
      val w = work.getOrElseUpdate(span, new Work)
      w.stages += 1
      w.tasks += tasks
      w.shuffleWriteBytes += sw
      w.spillBytes += spill
    }
    stageEvents.clear()
  }

  /** Self time of every span: its duration minus its children's. Children
    * of one span never overlap (ops are single-threaded), so the covered
    * part is the sum of their durations.
    */
  def selfSeconds: Map[Long, Double] = {
    val childSum = mutable.Map[Long, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childSum(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childSum(s.id)) / 1e9).toMap
  }

  /** Work of a span and all its descendants. */
  def subtreeWork(root: Long): Work = {
    val children = spans.groupBy(_.parent)
    val acc = new Work
    def go(id: Long): Unit = {
      work.get(id).foreach { w =>
        acc.jobs += w.jobs; acc.stages += w.stages; acc.tasks += w.tasks
        acc.shuffleWriteBytes += w.shuffleWriteBytes; acc.spillBytes += w.spillBytes
        acc.exchanges += w.exchanges
      }
      children.getOrElse(id, Nil).foreach(c => go(c.id))
    }
    go(root)
    acc
  }

  def spanRecords: Seq[Map[String, Any]] = {
    val self = selfSeconds
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.sortBy(_.startNs).map { s =>
      val w = work.getOrElse(s.id, new Work)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> self(s.id), "jobs" -> w.jobs, "stages" -> w.stages,
        "tasks" -> w.tasks, "shuffle_write_bytes" -> w.shuffleWriteBytes,
        "spill_bytes" -> w.spillBytes, "exchanges" -> w.exchanges)
    }.toSeq
  }
}

object Tracer {
  /** Exchange nodes in an executed plan, looking through adaptive query
    * stages and subqueries. Reused exchanges are not counted again.
    */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case p => p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}
