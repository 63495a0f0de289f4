package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Minimal JSON writer for the run record (no library on the classpath
  * is needed for output this simple). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

/** Process-level clocks read around every operation, traced or not, and
  * the live heap sampled when a measured phase ends. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum

  /** Heap in use once collections free nothing more: what the engine
    * retains. Forces full collections, so never called while timing. */
  def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.Bus.quiesce(sc)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** In-memory spans: name, start, end, parent and the request/query id.
  * Written once, when the run ends. */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, op: String,
                        startNs: Long, var endNs: Long)
  private val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  val origin: Long = System.nanoTime()

  def apply[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.getOrElse(-1), name, op, System.nanoTime(), 0L)
      all += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Milliseconds of every span with this name within the given
    * operations, in start order. */
  def durationsMs(name: String, ops: Set[String]): Seq[Double] =
    all.filter(s => s.name == name && ops(s.op)).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Total milliseconds of spans with this name, per operation. */
  def totalMsByOp(name: String, ops: Set[String]): Map[String, Double] =
    all.filter(s => s.name == name && ops(s.op)).groupBy(_.op)
      .map { case (op, ss) => op -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum }.toMap

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

final case class Snap(jobs: Long, tasks: Long, gcMs: Long, shuffleWrite: Long,
                      spill: Long, inputRows: Long, stages: Long, executions: Set[Long])

/** Spark-side counters from listener events: jobs, tasks, executor GC,
  * shuffle, spill, input rows, per-stage task times and the final
  * (post-AQE) plan of every SQL execution, read from the same events
  * `graft.PlanProbe` uses. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val inputRows = new AtomicLong
  private val stageTimes = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()
  private val stageSeq = new ConcurrentHashMap[Int, Long]()
  private val stageCounter = new AtomicLong
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val tm = e.taskMetrics
    if (tm != null) {
      gcMs.addAndGet(tm.jvmGCTime)
      shuffleWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
      inputRows.addAndGet(tm.inputMetrics.recordsRead)
      stageSeq.putIfAbsent(e.stageId, stageCounter.incrementAndGet())
      stageTimes.computeIfAbsent(e.stageId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Long]()))
        .add(tm.executorRunTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.putIfAbsent(s.executionId, s.sparkPlanInfo); ()
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo); ()
    case _ =>
  }

  def snap(): Snap = Snap(jobs.get, tasks.get, gcMs.get, shuffleWrite.get, spill.get,
    inputRows.get, stageCounter.get, plans.keySet.asScala.toSet)

  /** Largest max/median executor run time over the stages that started
    * after `from`, among stages whose slowest task ran at least 50 ms. */
  def taskSkew(from: Snap): Double = {
    val ratios = stageSeq.asScala.collect { case (stage, seq) if seq > from.stages =>
      val ts = stageTimes.get(stage).asScala.map(_.longValue).sorted
      val med = ts(ts.size / 2).max(1L)
      if (ts.size >= 2 && ts.last >= 50) ts.last.toDouble / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Final plans of the SQL executions that started after `from`. */
  def plansSince(from: Snap): Seq[SparkPlanInfo] =
    plans.asScala.toSeq.filter { case (id, _) => !from.executions(id) }.sortBy(_._1).map(_._2)
}

/** Operator census over final plans. */
object Census {
  private def nodes(p: SparkPlanInfo): Iterator[SparkPlanInfo] =
    Iterator(p) ++ p.children.iterator.flatMap(nodes)

  /** A Window whose input reaches a single-partition exchange through a
    * chain of single-child operators (Sort, AQE reads, query stages). */
  private def singlePartitionWindow(w: SparkPlanInfo): Boolean = {
    var cur = w.children
    var found = false
    while (!found && cur.size == 1) {
      val c = cur.head
      if (c.nodeName == "Exchange") { found = c.simpleString.contains("SinglePartition"); cur = Nil }
      else if (c.nodeName == "Window") cur = Nil
      else cur = c.children
    }
    found
  }

  def apply(plans: Seq[SparkPlanInfo]): Map[String, Long] = {
    val all = plans.flatMap(nodes)
    Map(
      "single_partition_windows" -> all.count(n => n.nodeName == "Window" && singlePartitionWindow(n)).toLong,
      "sort_merge_joins" -> all.count(_.nodeName == "SortMergeJoin").toLong,
      "broadcast_joins" -> all.count(n =>
        n.nodeName == "BroadcastHashJoin" || n.nodeName == "BroadcastNestedLoopJoin").toLong,
      "window_group_limits" -> all.count(_.nodeName == "WindowGroupLimit").toLong)
  }
}
