package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jolokia.Jolokia
import graft.sinks.Sinks
import graft.streaming.Streaming

/** `scrape_fanout` and `series_rate`: set-up, the measured window, the
  * output checks and the traced run.
  */
object StreamWorkload {

  /** Sweep traffic per workload. `scrape_fanout` is one cluster poll of
    * 20 servers × ~180 mbeans (10 read envelopes of 20 mbeans each, a
    * tenth of them single-mbean reads), ~14k flattened records per
    * sweep: a third of the mbeans carry a nested attribute object and 5%
    * of the envelopes are errors. `series_rate` polls counters only from
    * 40 servers × ~250 mbeans × 5 attributes (~50k live series), with
    * shuffled host order and 1% repeated timestamps.
    */
  def knobs(rate: Boolean, tiny: Boolean): SweepKnobs =
    if (!rate) SweepKnobs(servers = if (tiny) 4 else 20, envelopesPerServer = 10,
      beansPerEnvelope = if (tiny) 8 else 20, attrsPerBean = 3, nestedShare = 1.0 / 3,
      nestedKeys = 3, non200Share = 0.05, singleShare = 0.10, dupTsShare = 0.0,
      shuffleHosts = false, numericOnly = false)
    else SweepKnobs(servers = if (tiny) 4 else 40, envelopesPerServer = if (tiny) 5 else 10,
      beansPerEnvelope = if (tiny) 10 else 28, attrsPerBean = 5, nestedShare = 0.0,
      nestedKeys = 0, non200Share = 0.05, singleShare = 0.10, dupTsShare = 0.01,
      shuffleHosts = true, numericOnly = true)

  private val WarmSweeps = 1
  private val WarmRounds = 2
  /** Data batches left out at the start of the measured query: after the
    * warm-up rounds the JIT still settles for a few batches; later
    * queries in the same JVM need fewer.
    */
  private val WarmIn = 3
  private val WarmInWarmJvm = 2
  /** Sweeps landed for the measured window: enough for batches as
    * short as 300 ms.
    */
  private def sweepsFor(seconds: Double): Int = math.ceil(seconds / 0.3).toInt + WarmIn

  def run(session: () => SparkSession, restart: Int => SparkSession, a: Args, rate: Boolean,
          sessionS: Double, tracer: Tracer): Outcome = {
    val k = knobs(rate, a.tiny)
    val sweeps = sweepsFor(a.seconds)
    val b = new StreamBench(session, a, rate, k)
    val warmDir = a.work.resolve("warm-in")
    val runDir = a.work.resolve("run-in")
    val failures = Vector.newBuilder[String]
    var attempted = 0L

    /** Counts the run's batches and failures; returns the ids of the
      * batches that failed their output check.
      */
    def checked(name: String, r: StreamRun): Set[Long] = {
      attempted += r.all.size + r.thrown
      for (_ <- 0 until r.thrown) failures += s"$name: a batch threw"
      val bad = b.check(name, r)
      for ((id, why) <- bad) failures += s"$name batch $id: $why"
      b.cleanup(name)
      bad.map(_._1).toSet
    }

    // set-up: generate every input, then warm the JVM with short fresh
    // queries; set-up time is the session start, the generation and the
    // median warm-up round
    val (_, genS) = Main.timed {
      b.land(warmDir, WarmSweeps)
      b.land(runDir, sweeps)
    }
    val warmS = (1 to WarmRounds).map { i =>
      Main.timed(checked(s"warm$i", b.drive(s"warm$i", warmDir, 0, WarmSweeps, WarmSweeps + 1, 0)))._2
    }
    val setupS = sessionS + genS + Proc.median(warmS)
    val poison = if (a.inject == "throw_batch") Some(WarmSweeps + WarmIn + 1) else None

    def window(name: String, seconds: Double, warmIn: Int, p: Option[Int] = None): StreamRun =
      b.drive(name, runDir, WarmSweeps, sweeps, warmIn, seconds, p)

    def recordsPerS(r: StreamRun): Double = b.recordsIn(r, r.window) / r.seconds

    if (!a.trace) {
      val j0 = Proc.cpuJiffies
      val r = window("run", a.seconds, WarmIn, poison)
      val steal = Proc.stealFrac(j0, Proc.cpuJiffies)
      val rss = Proc.peakRssMb
      if (a.inject == "drop_sink_line") {
        require(!rate, "drop_sink_line applies to the sink workload")
        b.dropSinkLine("run", r.window.head.id)
      }
      // a batch that failed its check yields no timing and no records
      val (bad, checkS) = Main.timed(checked("run", r))
      val ok = r.window.filterNot(x => bad.contains(x.id))
      val records = b.recordsIn(r, ok)
      val f = failures.result()
      def phases = ok.flatMap(_.durations.keys).distinct.sorted
        .map(p => s"$p=${Proc.median(ok.map(_.durations.getOrElse(p, 0L).toDouble))}")
      return Outcome(attempted, f,
        Main.endToEnd(records / r.seconds, ok.map(_.triggerMs), r.cpuSeconds / records * 1e6, rss,
          setupS, f.size.toDouble / attempted),
        Seq("session_s" -> f"$sessionS%.3f", "gen_s" -> f"$genS%.3f", "check_s" -> f"$checkS%.3f",
          "window_s" -> f"${r.seconds}%.3f", "window_batches" -> r.window.size.toString,
          "host_steal_frac" -> f"$steal%.3f", "phase_ms_p50" -> phases.mkString(","),
          "batch_ms" -> ok.map(_.triggerMs.toLong).mkString(","),
          "records_per_sweep_p50" -> Proc.median(ok.map(x => b.recordsIn(r, Seq(x)).toDouble)).toString,
          "p90_has_10_beyond" -> (ok.size >= 100).toString, "warm_rounds_s" -> warmS.mkString(",")))
    }

    // traced run: (A) an untraced window split around (B) the same
    // window with the listeners on, so JIT warm-up drift does not read as
    // tracing overhead; (C) a replay of sweeps as materialized calls;
    // (D) a one-thread baseline. Only per-layer numbers come out of it.
    val part = a.seconds / 4
    def checkedWindow(name: String, seconds: Double, warmIn: Int): StreamRun = {
      val r = window(name, seconds, warmIn)
      checked(name, r)
      r
    }
    val untraced1 = checkedWindow("a1", part / 2, WarmIn)
    val exec = new ExecListener
    val progressSpans = new ProgressSpans(tracer)
    session().streams.addListener(progressSpans)
    val traced = try Main.listening(session(), exec)(checkedWindow("b", part, WarmInWarmJvm))
    finally session().streams.removeListener(progressSpans)
    val untraced2 = checkedWindow("a2", part / 2, WarmInWarmJvm)
    def secondsPerRecord(rs: StreamRun*) =
      rs.map(_.seconds).sum / rs.map(r => b.recordsIn(r, r.window)).sum
    val overhead = secondsPerRecord(traced) / secondsPerRecord(untraced1, untraced2) - 1

    val replayEnd = System.nanoTime() + (part * 1e9).toLong
    var sweep = WarmSweeps
    val rows = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    while (sweep == WarmSweeps || (System.nanoTime() < replayEnd && sweep < WarmSweeps + 50)) {
      val counts = replay(session(), b, runDir, sweep, rate, a, tracer).toMap
      for ((n, v) <- counts) rows(n) = rows(n) :+ v
      val t = b.truth(sweep)
      attempted += 1
      if (counts("normalize_rows") != t.normalizedRows || counts("flatten_rows") != t.records)
        failures += s"replay sweep $sweep: ${counts("normalize_rows")} normalized and " +
          s"${counts("flatten_rows")} flattened rows, generated ${t.normalizedRows} and ${t.records}"
      sweep += 1
    }

    restart(1)
    val baseline = checkedWindow("base", part, WarmInWarmJvm)

    val tb = traced.window
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Proc.median(xs)
    def phase(p: String) = med(tb.map(_.durations.getOrElse(p, 0L).toDouble))
    val envelopes = tb.map(x => b.truth(WarmSweeps + traced.all.indexWhere(_.id == x.id)).envelopes).sum
    val v = Map(
      "jolokia.normalize_ms" -> tracer.medianMs("jolokia.normalize"),
      "jolokia.normalize_rows" -> med(rows("normalize_rows")),
      "jolokia.non200_dropped" -> med(rows("non200")),
      "jolokia.flatten_ms" -> tracer.medianMs("jolokia.flatten"),
      "jolokia.flatten_rows" -> med(rows("flatten_rows")),
      "jolokia.flatten_expand_ratio" -> rows("flatten_rows").sum / rows("normalize_rows").sum,
      "sinks.es_bulk_ms" -> tracer.medianMs("sinks.es_bulk"),
      "sinks.es_bulk_mb" -> med(rows("es_mb")),
      "sinks.kafka_jsonl_ms" -> tracer.medianMs("sinks.kafka_jsonl"),
      "sinks.kafka_jsonl_mb" -> med(rows("kafka_mb")),
      "sinks.files_written" -> med(rows("files")),
      "streaming.source_scan_ratio" -> tb.map(_.inputRows).sum.toDouble / envelopes,
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.state_rows" -> tb.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> tb.lastOption.map(_.stateBytes / 1048576.0).getOrElse(0.0),
      "streaming.state_update_ms" -> med(tb.map(_.stateUpdateMs.toDouble)),
      "streaming.state_commit_ms" -> med(tb.map(_.stateCommitMs.toDouble)),
      "streaming.rate_ms" -> tracer.medianMs("streaming.rate"),
      "baseline.records_per_s_1thread" -> recordsPerS(baseline),
      "trace.overhead_frac" -> overhead,
    ) ++ exec.metrics
    val n = tb.size
    val f = failures.result()
    Outcome(attempted, f, Main.perLayer(v),
      Seq("replayed_sweeps" -> (sweep - WarmSweeps).toString, "traced_batches" -> n.toString))
  }

  /** One sweep replayed as a chain of materialized public calls, each
    * a span under the sweep's root span. Returns the counts per sweep.
    */
  private def replay(spark: SparkSession, b: StreamBench, dir: java.nio.file.Path, sweep: Int,
                     rate: Boolean, a: Args, tracer: Tracer): Seq[(String, Double)] = {
    val trace = tracer.newTrace()
    val root = tracer.nextId()
    val t0 = System.nanoTime()
    def keep(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      (p, p.count())
    }
    val file = dir.resolve(f"sweep-$sweep%06d.json").toString
    val (env, nEnv) = tracer.span(trace, root, "scan.read") {
      val r = keep(spark.read.schema(StreamBench.LandingSchema).json(file))
      (r, Map("rows" -> r._2.toDouble))
    }
    val non200 = env.filter(get_json_object(col("payload"), "$.status") =!= "200").count()
    val (norm, nNorm) = tracer.span(trace, root, "jolokia.normalize") {
      val w = Jolokia.normalize(env.filter(col("kind") === "w"), "payload", "host", "server_type")
      val s = Jolokia.normalizeSingle(env.filter(col("kind") === "s"), "payload", "host", "server_type")
      val r = keep(w.unionByName(s))
      (r, Map("rows_in" -> nEnv.toDouble, "rows" -> r._2.toDouble, "non200_dropped" -> non200.toDouble))
    }
    val (flat, nFlat) = tracer.span(trace, root, "jolokia.flatten") {
      val r = keep(Jolokia.flattenNestedAttrs(norm))
      (r, Map("rows_in" -> nNorm.toDouble, "rows" -> r._2.toDouble))
    }
    val out = Vector.newBuilder[(String, Double)]
    out ++= Seq("normalize_rows" -> nNorm.toDouble, "non200" -> non200.toDouble,
      "flatten_rows" -> nFlat.toDouble)
    if (!rate) {
      val es = a.work.resolve("replay-es"); val kafka = a.work.resolve("replay-kafka")
      val withTs = flat.withColumn("ts", timestamp_seconds(col("created_date_time")))
      tracer.span(trace, root, "sinks.es_bulk") {
        val docs = withTs.withColumn("doc", to_json(struct(withTs.columns.toIndexedSeq.map(col): _*)))
        Sinks.writeEsBulk(docs, "ts", "doc", "kafka-jmx-logs", es.toString, mode = "overwrite")
        ((), Map("rows" -> nFlat.toDouble))
      }
      tracer.span(trace, root, "sinks.kafka_jsonl") {
        Sinks.writeKafkaJsonl(withTs, "mbean_name", kafka.toString, StreamBench.KafkaPartitions,
          mode = "overwrite")
        ((), Map("rows" -> nFlat.toDouble))
      }
      val mb = 1048576.0
      out ++= Seq("es_mb" -> Proc.dirBytes(es) / mb, "kafka_mb" -> Proc.dirBytes(kafka) / mb,
        "files" -> (Proc.dataFiles(es).size + Proc.dataFiles(kafka).size).toDouble)
    } else {
      tracer.span(trace, root, "streaming.rate") {
        val d = StreamBench.digest(Streaming.rateStream(spark, b.events(flat)), StreamBench.RateCols)
        ((), Map("rows_in" -> nFlat.toDouble, "rows" -> d._1.toDouble))
      }
    }
    Seq(env, norm, flat).foreach(_.unpersist())
    tracer.record(Span(trace, root, 0, "sweep", t0, System.nanoTime(), Map("sweep" -> sweep.toDouble)))
    out.result()
  }
}
