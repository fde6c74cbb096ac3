package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
                      tiny: Boolean, inject: String, cores: Int, pins: Path,
                      pinSeeds: Option[(Long, Long)])

final case class Metric(name: String, value: Double, unit: String, samples: Int = 1)

/** What a workload run reports: attempts (batches or passes), failures
  * with their reasons, the metrics, and notes for the summary.
  */
final case class Outcome(attempted: Long, failures: Seq[String], metrics: Seq[Metric],
                         notes: Seq[(String, String)] = Nil)

/** Harness entry point: one workload, one seed, one mode. Writes the
  * result JSON to `<work>/result.json`; `perfbench/run.py` builds this
  * program, launches it and prints that result as its last line.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val tracer = new Tracer
    val t0 = System.nanoTime()
    var spark = GraftSession.local(a.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val session = () => spark
    val restart = (threads: Int) => { spark.stop(); spark = GraftSession.local(threads); spark }
    if (a.pinSeeds.isDefined) {
      try DedupWorkload.pin(spark, a) finally spark.stop()
      return
    }
    val out = try a.workload match {
      case "scrape_fanout" => StreamWorkload.run(session, restart, a, rate = false, sessionS, tracer)
      case "series_rate" => StreamWorkload.run(session, restart, a, rate = true, sessionS, tracer)
      case "dedup_blocking" => DedupWorkload.run(session, restart, a, sessionS, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    if (a.trace) tracer.write(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))

    val failed = out.failures.size.toLong
    for ((k, v) <- out.notes) println(s"perfbench note $k: $v")
    for (f <- out.failures.take(20)) println(s"perfbench FAILED: $f")
    for (m <- out.metrics)
      println(f"perfbench metric ${m.name}%-34s ${Json.num(m.value)}%16s ${m.unit}%-8s (n=${m.samples})")
    val json = Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> out.attempted.toString,
      "failed" -> failed.toString,
      "env" -> Json.obj(Seq("jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(org.apache.spark.SPARK_VERSION))),
      "metrics" -> Json.obj(out.metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    Files.write(a.work.resolve("result.json"), (json + "\n").getBytes(UTF_8))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m.get("size").contains("tiny"),
      m.getOrElse("inject", "none"), m("cores").toInt, Paths.get(m("pins")),
      m.get("pin-seeds").map { r => val Array(lo, hi) = r.split("-"); (lo.toLong, hi.toLong) })
  }

  /** The end-to-end metrics every workload reports with tracing off. */
  def endToEnd(recordsPerS: Double, batchMs: Seq[Double], cpuPerMrec: Double, peakRssMb: Double,
               setupS: Double, failedFrac: Double): Seq[Metric] = Seq(
    Metric("records_per_s", recordsPerS, "1/s", batchMs.size),
    Metric("batch_p50_ms", Proc.median(batchMs), "ms", batchMs.size),
    Metric("batch_p90_ms", Proc.percentile(batchMs, 0.9), "ms", batchMs.size),
    Metric("cpu_s_per_mrec", cpuPerMrec, "s/Mrec", batchMs.size),
    Metric("peak_rss_mb", peakRssMb, "MB"),
    Metric("setup_s", setupS, "s"),
    Metric("failed_frac", failedFrac, "ratio"))

  /** Per-layer metrics: names and units. A layer a workload never calls
    * reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "jolokia.normalize_ms" -> "ms", "jolokia.normalize_rows" -> "count",
    "jolokia.non200_dropped" -> "count", "jolokia.flatten_ms" -> "ms",
    "jolokia.flatten_rows" -> "count", "jolokia.flatten_expand_ratio" -> "ratio",
    "sinks.es_bulk_ms" -> "ms", "sinks.es_bulk_mb" -> "MB", "sinks.kafka_jsonl_ms" -> "ms",
    "sinks.kafka_jsonl_mb" -> "MB", "sinks.files_written" -> "count",
    "streaming.source_scan_ratio" -> "ratio", "streaming.latest_offset_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_update_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.rate_ms" -> "ms",
    "dedup.shingle_ms" -> "ms", "dedup.shingle_rows" -> "count",
    "dedup.d_containment_ms" -> "ms", "dedup.d_containment_rows" -> "count",
    "dedup.d_minhash_lsh_ms" -> "ms", "dedup.d_minhash_lsh_rows" -> "count",
    "dedup.d_simhash_ms" -> "ms", "dedup.d_simhash_rows" -> "count",
    "dedup.d_prefix_containment_ms" -> "ms", "dedup.d_prefix_containment_rows" -> "count",
    "text.t_domain_rank_ms" -> "ms", "text.t_domain_rank_rows" -> "count",
    "exec.cpu_s" -> "s", "exec.gc_ms" -> "ms", "exec.tasks" -> "count", "exec.task_skew" -> "ratio",
    "exec.peak_exec_mem_mb" -> "MB", "scan.input_mb" -> "MB", "exchange.shuffle_write_mb" -> "MB",
    "exchange.shuffle_read_mb" -> "MB", "exchange.spill_mb" -> "MB",
    "baseline.records_per_s_1thread" -> "1/s", "trace.overhead_frac" -> "ratio")

  def perLayer(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayer.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` with `l` registered as a Spark listener. */
  def listening[T](spark: SparkSession, l: ExecListener)(f: => T): T = {
    spark.sparkContext.addSparkListener(l)
    try f
    finally {
      // task-end events are delivered asynchronously
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
