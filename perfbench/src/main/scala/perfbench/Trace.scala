package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Process-level readings and small statistics. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this process so far, all threads (driver and
    * executors share the JVM in local mode).
    */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Host-wide CPU jiffies (all, steal) from /proc/stat: time the
    * hypervisor ran something else while these vCPUs had work.
    */
  def cpuJiffies: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1)
      .map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  def stealFrac(from: (Long, Long), to: (Long, Long)): Double =
    if (to._1 == from._1) 0.0 else (to._2 - from._2).toDouble / (to._1 - from._1)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally st.close()
    }

  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try {
        val b = Vector.newBuilder[Path]
        st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
          .forEach(f => b += f)
        b.result().sortBy(_.toString)
      } finally st.close()
    }
}

/** One timed call into a layer. Spans of one sweep or pass share a
  * trace id; `parent` is the span that caused this one (0 = root).
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, counts: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; the spans are written out once, as one
  * JSON-lines file, when the run ends.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()

  def newTrace(): Long = ids.incrementAndGet()

  /** Times `f` as span `name` and records the counts it returns. */
  def span[T](trace: Long, parent: Long, name: String)(f: => (T, Map[String, Double])): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val (out, counts) = f
    record(Span(trace, id, parent, name, t0, System.nanoTime(), counts))
    out
  }

  def record(s: Span): Unit = synchronized { spans += s }

  def nextId(): Long = ids.incrementAndGet()

  def all: Seq[Span] = synchronized { spans.toList }

  /** Median duration of the spans called `name`, in ms; 0 when none. */
  def medianMs(name: String): Double = {
    val s = all.filter(_.name == name).map(_.ms)
    if (s.isEmpty) 0.0 else Proc.median(s)
  }

  def write(file: Path): Unit = {
    val sb = new StringBuilder
    for (s <- all) {
      sb.append(s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"dur_ms":${Json.num(s.ms)}""")
      for ((k, v) <- s.counts.toSeq.sortBy(_._1)) sb.append(s",${Json.str(k)}:${Json.num(v)}")
      sb.append("}\n")
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}

/** Spark task metrics summed over everything that ran while it was
  * registered: the exec / scan / exchange layers.
  */
final class ExecListener extends SparkListener {
  private val stageTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Double]]()
  var cpuNs, gcMs, tasks, inputBytes, shuffleWrite, shuffleRead, spill = 0L
  var peakExecMem = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
    stageTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer[Double]()) +=
      (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
  }

  /** Median over stages with at least two tasks of max ÷ median task
    * time; 1.0 when no stage qualifies.
    */
  def taskSkew: Double = synchronized {
    val per = stageTimes.values.filter(_.size >= 2).map { ts =>
      val med = math.max(Proc.median(ts.toSeq), 1.0)
      ts.max / med
    }.toSeq
    if (per.isEmpty) 1.0 else Proc.median(per)
  }

  def metrics: Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    Seq(
      "exec.cpu_s" -> cpuNs / 1e9,
      "exec.gc_ms" -> gcMs.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.task_skew" -> taskSkew,
      "exec.peak_exec_mem_mb" -> peakExecMem / mb,
      "scan.input_mb" -> inputBytes / mb,
      "exchange.shuffle_write_mb" -> shuffleWrite / mb,
      "exchange.shuffle_read_mb" -> shuffleRead / mb,
      "exchange.spill_mb" -> spill / mb)
  }
}

/** Minimal JSON rendering (dot decimals whatever the JVM locale). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
