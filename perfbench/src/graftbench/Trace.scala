package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, as the benchmark's listener saw it. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWriteB: Long,
                         shuffleReadB: Long, spillB: Long, inputB: Long,
                         failed: Boolean) {
  def durMs: Long = finishMs - launchMs
}

/** Records every finished task; spans read back index ranges of it. */
final class TaskListener extends SparkListener {
  private val buf = ArrayBuffer.empty[TaskRec]
  def size: Int = synchronized(buf.size)
  def slice(from: Int, to: Int): IndexedSeq[TaskRec] =
    synchronized(buf.slice(from, to).toIndexedSeq)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val failed = e.reason != org.apache.spark.Success
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, failed)
    synchronized(buf += rec)
  }
}

/** Task totals over a set of tasks. `busyS` is the length of the union of
  * task intervals: the time at least one task was running.
  */
final case class Agg(tasks: Int, runS: Double, cpuS: Double, overheadS: Double,
                     shuffleWriteMb: Double, spillMb: Double, inputMb: Double,
                     failed: Int, busyS: Double)

object Agg {
  private val Mb = 1024.0 * 1024.0

  def of(ts: Seq[TaskRec]): Agg = {
    var busyMs = 0L
    var endMs = Long.MinValue
    ts.sortBy(_.launchMs).foreach { t =>
      if (t.finishMs > endMs) {
        busyMs += t.finishMs - math.max(t.launchMs, endMs)
        endMs = t.finishMs
      }
    }
    Agg(ts.size, ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(t => t.durMs - t.runMs).sum / 1e3,
      ts.map(_.shuffleWriteB).sum / Mb, ts.map(_.spillB).sum / Mb, ts.map(_.inputB).sum / Mb,
      ts.count(_.failed), busyMs / 1e3)
  }

  /** max/median task duration of the shuffle-reading stage with the most
    * task time: the stage a skewed key lands on. 1 when there is none.
    */
  def skew(ts: Seq[TaskRec]): Double = {
    val reduce = ts.filter(_.shuffleReadB > 0).groupBy(_.stage)
    if (reduce.isEmpty) 1.0
    else {
      val durs = reduce.values.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble).sorted
      durs.last / math.max(1.0, Stats.median(durs))
    }
  }
}

/** A closed span: `<module>.<function>`, its parent (-1 at the root), the
  * run it belongs to, wall interval, the listener's task index range, and
  * the process CPU and JVM GC time spent inside it. Root spans also carry
  * the heap's peak.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startNs: Long, endNs: Long, taskFrom: Int, taskTo: Int,
                      cpuNs: Long, gcMs: Long, heapPeakMb: Double) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder around the benchmark's own calls into graft. */
final class Tracer(spark: SparkSession) {
  val listener = new TaskListener
  private val sc = spark.sparkContext
  sc.addSparkListener(listener)
  private var attached = true
  private val closed = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var run = 0

  def span[T](name: String)(body: => T): T = {
    BusShim.drain(sc)
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val root = open.isEmpty
    if (root) Jvm.resetHeapPeak()
    open = id :: open
    val (from, cpu0, gc0, t0) = (listener.size, Jvm.cpuNs(), Jvm.gcMs(), System.nanoTime())
    try body
    finally {
      BusShim.drain(sc)
      val t1 = System.nanoTime()
      open = open.tail
      closed += Span(id, name, parent, run, t0, t1, from, listener.size,
        Jvm.cpuNs() - cpu0, Jvm.gcMs() - gc0, if (root) Jvm.heapPeakMb() else 0.0)
    }
  }

  def spans: Seq[Span] = closed.toSeq
  def named(name: String): Seq[Span] = closed.filter(_.name == name).toSeq
  def tasks(s: Span): IndexedSeq[TaskRec] = listener.slice(s.taskFrom, s.taskTo)
  def agg(s: Span): Agg = Agg.of(tasks(s))

  /** Duration minus the part of it that the span's children cover. */
  def selfS(s: Span): Double = {
    val kids = closed.filter(_.parent == s.id).sortBy(_.startNs)
    var covered = 0L
    var end = s.startNs
    kids.foreach { k =>
      if (k.endNs > end) { covered += k.endNs - math.max(k.startNs, end); end = k.endNs }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Attach or detach the listener (untraced ops run without it). */
  def listening(on: Boolean): Unit = if (on != attached) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  def close(): Unit = listening(false)

  def toJson: String = closed.sortBy(_.id).map { s =>
    val a = agg(s)
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "dur_s" -> s.durS, "self_s" -> selfS(s),
      "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3, "tasks" -> a.tasks,
      "task_run_s" -> a.runS, "task_cpu_s" -> a.cpuS))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** The span of median duration. */
  def median(ss: Seq[Span]): Span = ss.sortBy(_.durS).apply(ss.size / 2)
}

/** Process-wide JVM counters: CPU of every thread except the JIT
  * compiler's (tasks, driver, GC, Spark's own threads), total GC time, and
  * the heap's peak since the last reset.
  */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val proc = Paths.get("/proc/self")
  private val nsPerTick = 1e9 / 100 // USER_HZ

  /** utime + stime, in clock ticks, of a /proc stat file. */
  private def ticks(stat: Path): Long = {
    val st = new String(Files.readAllBytes(stat), StandardCharsets.US_ASCII)
    val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }

  /** CPU of the JIT's threads: the C1/C2 compiler threads (which the JVM
    * keeps alive, see run.py) and the code-cache sweeper. Their work
    * depends on when the JIT gets to a method, not on the operation.
    */
  private def jitTicks(): Long = {
    val ts = Files.list(proc.resolve("task"))
    try ts.iterator.asScala.map { d =>
      try {
        val comm = new String(Files.readAllBytes(d.resolve("comm")), StandardCharsets.US_ASCII)
        if (comm.contains("CompilerThre") || comm.startsWith("Sweeper")) ticks(d.resolve("stat"))
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread has just ended
    }.sum
    finally ts.close()
  }

  /** Process CPU outside the JIT, in ns (10 ms resolution). */
  def cpuNs(): Long = ((ticks(proc.resolve("stat")) - jitTicks()) * nsPerTick).toLong
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer: numbers, strings, booleans, nested objects. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite metric")
      d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
