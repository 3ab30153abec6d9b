package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `parent` is -1 for a top-level call. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    cycle: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's layers. Disabled,
  * `apply` runs the body and records nothing. Enabled, each span also tags
  * the Spark jobs it starts (a thread-local job property), so the listener
  * can attribute task metrics to the span that caused them. Spans stay in
  * memory until the run ends. */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  var cycle = -1
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = SparkSession.active.sparkContext
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, layer, parent, cycle, t0, t1)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Self time of every span: its duration minus the union of its
    * children's intervals. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
      s.id -> math.max(0.0, s.seconds - covered / 1e9)
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Task and job counts per span, from Spark's listener bus. Registered only
  * by the traced run. */
final class SpanListener extends SparkListener {

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  val bySpan = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Executor run time of every task, per (span, stage). */
  val taskTimes = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanProperty))).map(_.toInt)

  private def acc(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      val a = acc(s)
      a.synchronized(a.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val a = acc(s)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      val times = taskTimes.computeIfAbsent((s, e.stageId), _ => new ArrayBuffer[Long])
      times.synchronized(times += m.executorRunTime)
    }
  }

  def spanTaskTimes(span: Int): Seq[Seq[Long]] =
    taskTimes.asScala.collect { case ((s, _), ts) if s == span => ts.synchronized(ts.toSeq) }.toSeq
}

object SparkState {
  /** Cached RDD storage (memory plus disk) left in the session, in MB. */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Blocks until the listener bus has delivered every queued event. */
  def drainListeners(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchAccess.waitForListeners(sc)
}
