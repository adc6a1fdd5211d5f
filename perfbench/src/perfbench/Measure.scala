package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON rendering: the benchmark prints one object and writes raw
  * files, so a dependency-free writer is enough. Numbers keep all their
  * digits; non-finite values become null. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Process-level meters read from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  // the heap pools that hold data a collection kept: old generation and
  // survivor space (eden holds only what was allocated since the last one)
  private val kept = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))

  def cpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(g => math.max(0L, g.getCollectionTime)).sum
  def threadAllocBytes: Long = threads.getCurrentThreadAllocatedBytes

  /** Heap data kept by collections, in MB; after a full collection, the
    * live heap. */
  def keptMb: Double = kept.map(_.getUsage.getUsed).sum / 1048576.0
  /** Starts new pool peaks at the current occupancy. */
  def resetKeptPeak(): Unit = kept.foreach(_.resetPeakUsage())
  /** Old-generation plus survivor-space peaks since the last reset: the
    * most data any collection in between kept. */
  def keptPeakMb: Double = kept.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0,1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** In-memory span recorder, written out when the run ends. Off, it only
  * runs the body, so untraced regions pay nothing for it. */
final class Tracer(workload: String) {
  var on = false
  final case class Span(iter: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                        counters: Map[String, Double])
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, mutable.Map[String, Double])]
  private var nextId = 0

  def span[A](iter: Int, name: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.map(_._1).getOrElse(0)
      val counters = mutable.LinkedHashMap.empty[String, Double]
      open.push(id -> counters)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        done += Span(iter, id, parent, name, t0, t1, counters.toMap)
      }
    }

  /** Adds a counter to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on) open.headOption.foreach { case (_, c) => c(key) = c.getOrElse(key, 0.0) + v }

  def write(path: java.nio.file.Path): Unit = if (done.nonEmpty) {
    val lines = done.sortBy(_.startNs).map { s =>
      Json.obj(Seq("workload" -> Json.str(workload), "iter" -> s.iter.toString, "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "counters" -> Json.obj(s.counters.map { case (k, v) => k -> Json.num(v) })))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-layer counters from a listener the traced run registers. Events
  * arrive on the listener bus; call `drain` before reading. */
final class SparkStats extends SparkListener {
  final case class StageDone(stageId: Int, persisted: Boolean, taskRunMs: Seq[Long])
  private val stageDone = new ConcurrentLinkedQueue[StageDone]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def add(k: String, v: Long): Unit = { c.merge(k, v, (a, b) => a + b); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val info = e.stageInfo
    val q = Option(taskMs.remove(info.stageId)).map(_.asScala.map(_.longValue).toSeq).getOrElse(Nil)
    stageDone.add(StageDone(info.stageId, info.rddInfos.exists(_.storageLevel.useDisk), q))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ns", m.executorCpuTime)
      add("jvm_gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(m.executorRunTime)
    }
  }

  def get(k: String): Long = Option(c.get(k)).map(_.longValue).getOrElse(0L)
  /** Stages completed so far, in completion order. */
  def stages: Seq[StageDone] = stageDone.asScala.toSeq
}
