package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.jolokia.Jolokia
import graft.streaming.{Pipeline, Streaming}

/** One committed data batch of a stream, as its progress reported it. */
final case class Batch(id: Long, triggerMs: Double, durations: Map[String, Long], inputRows: Long,
                       stateRows: Long, stateBytes: Long, stateUpdateMs: Long, stateCommitMs: Long)

/** A measured stream run: every committed data batch in commit order
  * (batch k read sweep `firstSweep + k`), the ones inside the measured
  * window, the window's wall and CPU seconds, and the batches that threw.
  */
final case class StreamRun(dir: Path, all: Seq[Batch], window: Seq[Batch], seconds: Double,
                           cpuSeconds: Double, thrown: Int, firstSweep: Int)

/** The two stream workloads. Both are closed loops: the file source
  * takes one landed sweep per trigger (`maxFilesPerTrigger=1`) and the
  * next trigger starts when the previous one has committed, like the
  * reference's scrape → ship → poll-again loop.
  */
final class StreamBench(session: () => SparkSession, a: Args, rate: Boolean, k: SweepKnobs) {
  import StreamBench._

  val gen = new SweepGen(a.seed, k)
  private val truths = mutable.ArrayBuffer[SweepTruth]()
  private val work = a.work

  def truth(sweep: Int): SweepTruth = truths(sweep)

  /** Lands the next `n` sweeps into `dir`; returns their first index. */
  def land(dir: Path, n: Int): Int = {
    val from = truths.size
    truths ++= gen.land(dir, from, from + n)
    from
  }

  /** Jolokia envelopes → normalized (wildcard and single-mbean reads) →
    * nested attributes flattened: one row per metric record.
    */
  def records(env: DataFrame): DataFrame = {
    val w = Jolokia.normalize(env.filter(col("kind") === "w"), "payload", "host", "server_type")
    val s = Jolokia.normalizeSingle(env.filter(col("kind") === "s"), "payload", "host", "server_type")
    Jolokia.flattenNestedAttrs(w.unionByName(s))
  }

  /** The events shape `Streaming.rateStream` takes. The series key is
    * host + mbean + attribute; counters are integers that grow every
    * sweep, so the value doubles as the per-series event order.
    */
  def events(flat: DataFrame): DataFrame = flat.select(
    xxhash64(col("injected_host_name"), col("mbean_name")).as("user_id"),
    col("attribute").as("event_type"),
    col("value").cast("double").cast("long").as("event_id"),
    timestamp_seconds(col("created_date_time")).as("ts"),
    col("value").cast("double").as("value"))

  /** Per-batch row count and order-independent hash of the rate output. */
  val rateDigests = new ConcurrentHashMap[Long, (Long, Long, Long)]()

  def esDir(run: String): Path = work.resolve(s"$run-es")
  def kafkaDir(run: String): Path = work.resolve(s"$run-kafka")

  /** Starts the workload's query over `dir`. `poison`, when set, names a
    * sweep whose first read throws (the failure-accounting test).
    */
  def start(run: String, dir: Path, poison: Option[Int]): StreamingQuery = {
    var src = session().readStream.schema(LandingSchema).option("maxFilesPerTrigger", 1).json(dir.toString)
    poison.foreach { sweep =>
      val marker = work.resolve(s"$run-poisoned").toString
      val name = f"sweep-$sweep%06d.json"
      val trip = udf { (file: String) =>
        if (file.endsWith(name) && new java.io.File(marker).createNewFile())
          throw new IllegalStateException(s"injected failure reading $name")
        true
      }
      src = src.filter(trip(input_file_name()))
    }
    val ckpt = work.resolve(s"$run-ckpt").toString
    val flat = records(src)
    if (rate) {
      val digests = rateDigests
      Streaming.rateStream(session(), events(flat)).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          digests.put(id, digest(b, RateCols))
          ()
        }
        .start()
    } else {
      Pipeline.start(flat.withColumn("ts", timestamp_seconds(col("created_date_time"))), "ts",
        Pipeline.Config(esDir = Some(esDir(run).toString), kafkaDir = Some(kafkaDir(run).toString),
          kafkaKeyCol = "mbean_name", kafkaPartitions = KafkaPartitions),
        ckpt)
    }
  }

  /** Runs one query over `dir` (holding `sweeps` landed sweeps from
    * `firstSweep`). The first `warmIn` data batches are excluded; the
    * window then runs for `seconds`, or until the sweeps run out. A
    * query that throws is counted and restarted from its checkpoint;
    * the failed trigger never yields a batch timing.
    */
  def drive(run: String, dir: Path, firstSweep: Int, sweeps: Int, warmIn: Int, seconds: Double,
            poison: Option[Int] = None): StreamRun = {
    val progress = mutable.Map[Long, StreamingQueryProgress]()
    def harvest(q: StreamingQuery): Unit = q.recentProgress.foreach(p => progress(p.batchId) = p)
    val dataIds = mutable.Set[Long]()
    var thrown = 0
    var q = start(run, dir, poison)
    var t0 = -1L; var cpu0 = 0.0; var id0 = -1L
    var tLast = -1L; var cpuLast = 0.0; var idLast = -1L
    val hardStop = System.nanoTime() + ((seconds + 150) * 1e9).toLong
    var done = false
    try {
      while (!done) {
        if (!q.isActive) {
          harvest(q)
          val err = q.exception.getOrElse(
            throw new IllegalStateException(s"$run: query stopped without an error"))
          thrown += 1
          System.err.println(s"perfbench: $run batch threw (${err.getMessage.take(200)}); restarting")
          if (thrown > 3) throw err
          q = start(run, dir, poison)
        }
        val p = q.lastProgress
        if (p != null && p.numInputRows > 0 && !dataIds.contains(p.batchId)) {
          dataIds += p.batchId
          val now = System.nanoTime(); val cpu = Proc.cpuSeconds
          if (t0 < 0 && dataIds.size >= warmIn) { t0 = now; cpu0 = cpu; id0 = p.batchId }
          else if (t0 >= 0) { tLast = now; cpuLast = cpu; idLast = p.batchId }
        }
        val now = System.nanoTime()
        done = dataIds.size >= sweeps ||
          (t0 >= 0 && idLast >= 0 && now - t0 >= (seconds * 1e9).toLong)
        if (!done) {
          if (now > hardStop) throw new IllegalStateException(s"$run: no progress within the time limit")
          Thread.sleep(2)
        }
      }
    } finally {
      q.stop()
      harvest(q)
    }
    val all = progress.values.filter(_.numInputRows > 0).toSeq.sortBy(_.batchId).map(toBatch)
    val window = all.filter(b => b.id > id0 && b.id <= idLast)
    StreamRun(dir, all, window, (tLast - t0) / 1e9, cpuLast - cpu0, thrown, firstSweep)
  }

  def recordsIn(r: StreamRun, bs: Seq[Batch]): Long = {
    val ord = r.all.map(_.id).zipWithIndex.toMap
    bs.map(b => truth(r.firstSweep + ord(b.id)).records).sum
  }

  /** Output checks for every committed data batch; returns the ids of
    * the batches that failed, with the reason.
    */
  def check(run: String, r: StreamRun): Seq[(Long, String)] =
    if (rate) checkRates(r) else r.all.zipWithIndex.flatMap { case (b, i) =>
      checkFanout(run, b.id, truth(r.firstSweep + i)).map(b.id -> _)
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** ES: two lines per record, each action naming the UTC-dated index of
    * its envelope. Kafka: one JSON line per record, partitions in range.
    */
  def checkFanout(run: String, id: Long, t: SweepTruth): Option[String] = {
    var esLines = 0L
    for (f <- Proc.dataFiles(esDir(run).resolve(s"batch=$id"))) {
      val idx = f.getParent.getFileName.toString.stripPrefix("es_index=")
      val action = s"""{"index":{"_index":"$idx","_type":"doc"}}"""
      val lines = Files.readAllLines(f, UTF_8)
      esLines += lines.size
      if (lines.size % 2 != 0) return Some(s"ES file $f has an odd line count")
      var j = 0
      while (j < lines.size) {
        if (lines.get(j) != action) return Some(s"ES action line does not name $idx: ${lines.get(j)}")
        val doc = lines.get(j + 1)
        val at = doc.indexOf("\"created_date_time\":")
        if (at < 0) return Some("ES doc line has no created_date_time")
        val digits = doc.substring(at + 20).takeWhile(c => c.isDigit || c == '-')
        val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(digits.toLong, 86400L)).toString
        if (idx != s"kafka-jmx-logs-$day") return Some(s"ES index $idx for an envelope of $day")
        j += 2
      }
    }
    if (esLines != 2 * t.records) return Some(s"ES has $esLines lines for ${t.records} records")
    var kLines = 0L
    for (f <- Proc.dataFiles(kafkaDir(run).resolve(s"batch=$id"))) {
      val part = f.getParent.getFileName.toString.stripPrefix("_kpart=").toInt
      if (part < 0 || part >= KafkaPartitions) return Some(s"Kafka partition $part out of range")
      for (line <- Files.readAllLines(f, UTF_8).asScala) {
        kLines += 1
        try mapper.readTree(line)
        catch { case e: Exception => return Some(s"Kafka line is not JSON: ${e.getMessage.take(80)}") }
      }
    }
    if (kLines != t.records) return Some(s"Kafka has $kLines lines for ${t.records} records")
    None
  }

  /** The stream's per-batch rate digests must equal a batch `lag()`
    * twin over the same sweeps, grouped by the sweep each rated sample
    * came from.
    */
  def checkRates(r: StreamRun): Seq[(Long, String)] = {
    if (r.all.isEmpty) return Nil
    val files = r.all.indices.map(i => r.dir.resolve(f"sweep-${r.firstSweep + i}%06d.json").toString)
    val ev = events(records(session().read.schema(LandingSchema).json(files: _*)))
      .withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val twin = ev
      .withColumn("pv", lag("value", 1).over(w)).withColumn("pt", lag("ts_us", 1).over(w))
      .filter(col("pt").isNotNull && col("ts_us") =!= col("pt"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        ((col("value") - col("pv")) / ((col("ts_us") - col("pt")) / 1e6)).as("rate"),
        ((unix_seconds(col("ts")) - lit(gen.t0)) / lit(gen.pollIntervalS)).cast("int").as("sweep"))
      .groupBy("sweep")
      .agg(digestCols(RateCols).head, digestCols(RateCols).tail: _*)
      .collect()
      .map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2), row.getLong(3))).toMap
    r.all.zipWithIndex.flatMap { case (b, i) =>
      val want = twin.getOrElse(r.firstSweep + i, (0L, 0L, 0L))
      val got = Option(rateDigests.get(b.id)).getOrElse((-1L, 0L, 0L))
      if (got == want) None
      else Some(b.id -> s"rate digest $got, batch lag() twin $want")
    }
  }

  def cleanup(run: String): Unit =
    Seq("es", "kafka", "ckpt").foreach(s => Proc.deleteTree(work.resolve(s"$run-$s")))

  /** Truncates one ES file of batch `id` by a line: the corrupted-output
    * test. The check must then fail that batch.
    */
  def dropSinkLine(run: String, id: Long): Unit = {
    val f = Proc.dataFiles(esDir(run).resolve(s"batch=$id")).head
    val lines = Files.readAllLines(f, UTF_8)
    Files.write(f, lines.subList(0, lines.size - 1), UTF_8)
  }
}

object StreamBench {
  val LandingSchema: StructType =
    StructType.fromDDL("host STRING, server_type STRING, kind STRING, payload STRING")
  val KafkaPartitions = 8

  /** Row count plus two 32-bit halves of a summed xxhash64: equal for
    * equal multisets of rows whatever their order.
    */
  def digestCols(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(cols.map(col): _*)
    Seq(count(lit(1)).as("n"), coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  /** (rows, hash) of a whole frame: one action that computes every column. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val cs = digestCols(cols)
    val r = df.agg(cs.head, cs.tail: _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val RateCols: Seq[String] = Seq("user_id", "event_type", "event_id", "rate")

  def toBatch(p: StreamingQueryProgress): Batch = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    Batch(p.batchId, d.getOrElse("triggerExecution", 0L).toDouble, d, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.allUpdatesTimeMs).sum, ops.map(_.commitTimeMs).sum)
  }
}

/** Turns the streaming progress of a traced run into spans: one root
  * span per trigger, with one child per phase in `durationMs`.
  */
final class ProgressSpans(tracer: Tracer) extends StreamingQueryListener {
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    val start = System.nanoTime() - d.get("triggerExecution").map(_.longValue * 1000000L).getOrElse(0L)
    val trace = tracer.newTrace()
    val root = tracer.nextId()
    tracer.record(Span(trace, root, 0, "streaming.trigger", start,
      start + d.get("triggerExecution").map(_.longValue * 1000000L).getOrElse(0L),
      Map("batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble)))
    var at = start
    for (ph <- phases; ms <- d.get(ph)) {
      val end = at + ms.longValue * 1000000L
      tracer.record(Span(trace, tracer.nextId(), root, s"streaming.$ph", at, end, Map.empty))
      at = end
    }
  }
}
