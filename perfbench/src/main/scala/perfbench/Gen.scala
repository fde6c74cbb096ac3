package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Everything here runs in set-up, before any
  * timing starts; the program under test only ever sees the files these
  * write. The same seed always yields byte-identical files.
  */
object Gen {

  /** splitmix64 finalizer: derives independent, reproducible streams
    * from (seed, coordinates) without sharing one sequential RNG.
    */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(xs: Long*): SplittableRandom = new SplittableRandom(mix(xs: _*))
}

/** Traffic dimensions of one Jolokia poll sweep (one poll of the whole
  * cluster). A sweep has `servers × envelopesPerServer` read envelopes;
  * a wildcard envelope carries `beansPerEnvelope` mbeans, a single-mbean
  * envelope one.
  */
final case class SweepKnobs(
    servers: Int,
    envelopesPerServer: Int,
    beansPerEnvelope: Int,
    attrsPerBean: Int,
    nestedShare: Double, // share of mbeans carrying one nested attribute object
    nestedKeys: Int,
    non200Share: Double, // share of envelopes answered with an error status
    singleShare: Double, // share of envelopes that are single-mbean reads
    dupTsShare: Double, // share of envelopes repeating their previous timestamp
    shuffleHosts: Boolean, // host order within a sweep varies per sweep
    numericOnly: Boolean, // every attribute is an integer counter
)

/** What the generator knows about one sweep. The program never sees it;
  * the output checks compare against it.
  */
final case class SweepTruth(envelopes: Int, non200: Int, normalizedRows: Long, records: Long)

/** Jolokia envelope sweeps, landed as one JSON-lines file per sweep:
  * `{"host":…,"server_type":…,"kind":"w"|"s","payload":{<envelope>}}`.
  * The envelope is the raw Jolokia read response; the reader takes it
  * as a JSON string column, which is what `Jolokia.normalize` consumes.
  */
final class SweepGen(seed: Long, k: SweepKnobs) {
  private val serverTypes = Array("KafkaBroker", "ZooKeeper", "KafkaConnect", "KSQL")
  private val domains = Array("kafka.server", "org.apache.ZooKeeperService", "kafka.connect",
    "io.confluent.ksql")
  private val scalarNames = Array("Count", "MeanRate", "OneMinuteRate", "FiveMinuteRate",
    "FifteenMinuteRate", "Value", "Max", "Min", "Mean", "StdDev")
  private val nestedNames = Array("p50", "p75", "p95", "p98", "p99", "p999", "max", "min")
  require(k.attrsPerBean <= scalarNames.length && k.nestedKeys <= nestedNames.length)

  /** First poll: a seeded minute in the last half hour before a UTC
    * midnight, so a long run's envelopes land in two daily ES indices.
    */
  val t0: Long = {
    val day = 19723L + Math.floorMod(Gen.mix(seed, 1), 365L) // 2024-01-01 + n days
    day * 86400L + 86400L - 1800L + Math.floorMod(Gen.mix(seed, 2), 1500L)
  }
  val pollIntervalS = 60L

  private val nEnv = k.servers * k.envelopesPerServer
  private val isSingle = Array.tabulate(nEnv)(e => Gen.rng(seed, 3, e).nextDouble() < k.singleShare)
  private val isNested = Array.tabulate(nEnv, k.beansPerEnvelope)((e, b) =>
    Gen.rng(seed, 4, e, b).nextDouble() < k.nestedShare)
  private val lastTs = new Array[Long](nEnv)

  private def host(s: Int) = f"srv-$s%03d"
  private def stype(s: Int) = serverTypes(s % serverTypes.length)
  private def bean(s: Int, e: Int, b: Int) =
    s"${domains(s % domains.length)}:type=Group$e,name=Metric$b,instance=${host(s)}"

  /** Integer counter for one series: strictly increasing across sweeps
    * (step ≥ 10, jitter < step / 2), so a series' value orders its samples.
    */
  private def counter(sweep: Int, s: Int, e: Int, b: Int, a: Int, r: SplittableRandom): Long = {
    val h = Gen.mix(seed, 5, s, e, b, a)
    val step = 10L + Math.floorMod(h, 90L)
    Math.floorMod(h >>> 8, 1000000L) + sweep * step + r.nextLong(step / 2)
  }

  private def appendAttrs(sb: java.lang.StringBuilder, sweep: Int, s: Int, e: Int, b: Int,
                          r: SplittableRandom): Unit = {
    sb.append('{')
    var a = 0
    while (a < k.attrsPerBean) {
      if (a > 0) sb.append(',')
      sb.append('"').append(scalarNames(a)).append("\":")
      if (k.numericOnly || a % 3 == 0) sb.append(counter(sweep, s, e, b, a, r))
      else if (a % 3 == 1) sb.append(r.nextInt(100000)).append('.').append(r.nextInt(100))
      else sb.append('"').append(if (r.nextInt(50) == 0) "DEGRADED" else "UP").append('"')
      a += 1
    }
    if (!k.numericOnly && isNested(e)(b)) {
      sb.append(",\"Percentiles\":{")
      var n = 0
      while (n < k.nestedKeys) {
        if (n > 0) sb.append(',')
        sb.append('"').append(nestedNames(n)).append("\":").append(r.nextInt(10000))
        n += 1
      }
      sb.append('}')
    }
    sb.append('}')
  }

  /** Renders sweep `i` and returns it with its truth. Sweeps must be
    * rendered in order: a duplicate timestamp repeats an earlier sweep's.
    */
  def render(i: Int): (String, SweepTruth) = {
    val order = (0 until k.servers).toArray
    if (k.shuffleHosts) {
      val r = Gen.rng(seed, 6, i)
      for (j <- order.length - 1 to 1 by -1) {
        val x = r.nextInt(j + 1); val t = order(j); order(j) = order(x); order(x) = t
      }
    }
    val sb = new java.lang.StringBuilder(1 << 20)
    var non200 = 0
    var normalized = 0L
    var records = 0L
    for (s <- order; le <- 0 until k.envelopesPerServer) {
      val e = s * k.envelopesPerServer + le
      val r = Gen.rng(seed, 7, i, e)
      val ok = r.nextDouble() >= k.non200Share
      // a repeated timestamp repeats the last one this envelope delivered
      val ts =
        if (r.nextDouble() < k.dupTsShare && lastTs(e) > 0) lastTs(e)
        else t0 + i * pollIntervalS + r.nextInt(3)
      if (ok) lastTs(e) = ts
      val nBeans = if (isSingle(e)) 1 else k.beansPerEnvelope
      val mbean =
        if (isSingle(e)) bean(s, le, 0)
        else s"${domains(s % domains.length)}:type=Group$le,*"
      sb.append("{\"host\":\"").append(host(s)).append("\",\"server_type\":\"").append(stype(s))
        .append("\",\"kind\":\"").append(if (isSingle(e)) "s" else "w").append("\",\"payload\":")
      sb.append("{\"request\":{\"mbean\":\"").append(mbean).append("\",\"type\":\"read\"},")
      if (!ok) {
        non200 += 1
        sb.append("\"error_type\":\"javax.management.InstanceNotFoundException\",")
          .append("\"error\":\"javax.management.InstanceNotFoundException : ").append(mbean)
          .append("\",\"status\":404}}\n")
      } else {
        sb.append("\"value\":")
        if (isSingle(e)) appendAttrs(sb, i, s, e, 0, r)
        else {
          sb.append('{')
          for (b <- 0 until nBeans) {
            if (b > 0) sb.append(',')
            sb.append('"').append(bean(s, le, b)).append("\":")
            appendAttrs(sb, i, s, e, b, r)
          }
          sb.append('}')
        }
        sb.append(",\"timestamp\":").append(ts).append(",\"status\":200}}\n")
        for (b <- 0 until nBeans) {
          val nested = !k.numericOnly && isNested(e)(b)
          normalized += k.attrsPerBean + (if (nested) 1 else 0)
          records += k.attrsPerBean + (if (nested) k.nestedKeys else 0)
        }
      }
    }
    (sb.toString, SweepTruth(nEnv, non200, normalized, records))
  }

  /** Writes sweeps `[from, until)` into `dir` as `sweep-NNNNNN.json`.
    * Modification times increase with the sweep number, so a file
    * stream source takes them in poll order.
    */
  def land(dir: Path, from: Int, until: Int): IndexedSeq[SweepTruth] = {
    Files.createDirectories(dir)
    val base = System.currentTimeMillis() - 3600L * 1000L
    (from until until).map { i =>
      val (text, truth) = render(i)
      val f = dir.resolve(f"sweep-$i%06d.json")
      Files.write(f, text.getBytes(UTF_8))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      truth
    }
  }
}

/** Traffic dimensions of the dedup corpus. */
final case class DocKnobs(
    baseDocs: Int,
    replication: Double, // mean near-duplicate replicas per base document
    hotShare: Double, // share of documents ending in one shared boilerplate block
    sources: Int,
)

/** Seeded document corpus (`doc_id, text, lang, source, n_chars`, the
  * schema of the `documents` table `SparkEntry.queries` reads): base documents plus
  * near-duplicate replicas of four kinds (exact, edited, truncated
  * prefix, embedded in a longer text), with a hot boilerplate tail that
  * makes a few shingle buckets far larger than the rest.
  */
object DocGen {
  private val syl = Array("ka", "lo", "mi", "su", "te", "ra", "no", "vi", "de", "po", "gu", "ze",
    "fa", "bi", "ho", "ju", "we", "xi", "ce", "ty")
  private val vocab: Array[String] =
    (for (a <- syl; b <- syl) yield a + b).toArray ++ (for (a <- syl.take(10); b <- syl) yield a + b + "n")

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n) { val u = r.nextDouble(); vocab((u * u * vocab.length).toInt) }

  def docs(seed: Long, k: DocKnobs): IndexedSeq[(Long, String, String, String, Long)] = {
    val boiler = words(Gen.rng(seed, 20), 14)
    val out = Vector.newBuilder[(String, Int)]
    for (d <- 0 until k.baseDocs) {
      val r = Gen.rng(seed, 21, d)
      val base = words(r, 15 + r.nextInt(106))
      out += base.mkString(" ") -> r.nextInt(k.sources)
      // geometric replica count with mean `replication`
      val p = 1.0 / (1.0 + k.replication)
      var n = 0
      while (r.nextDouble() > p) n += 1
      for (_ <- 0 until n) {
        val variant = r.nextInt(4) match {
          case 0 => base.mkString(if (r.nextBoolean()) " " else "  ")
          case 1 =>
            val w = base.clone()
            for (_ <- 0 to r.nextInt(2)) w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
            w.mkString(" ")
          case 2 => base.take(math.max(3, (base.length * (0.7 + 0.25 * r.nextDouble())).toInt)).mkString(" ")
          case _ => (words(r, 5 + r.nextInt(20)) ++ base ++ words(r, r.nextInt(10))).mkString(" ")
        }
        out += variant -> r.nextInt(k.sources)
      }
    }
    val texts = out.result()
    val perm = texts.indices.toArray
    val r = Gen.rng(seed, 22)
    for (j <- perm.length - 1 to 1 by -1) {
      val x = r.nextInt(j + 1); val t = perm(j); perm(j) = perm(x); perm(x) = t
    }
    val langs = Array("en", "de", "fr", "zh")
    perm.indices.map { id =>
      val (t0, src) = texts(perm(id))
      val hr = Gen.rng(seed, 23, id)
      val t = if (hr.nextDouble() < k.hotShare) t0 + " " + boiler.mkString(" ") else t0
      (id.toLong, t, langs(hr.nextInt(langs.length)), s"src$src", t.length.toLong)
    }
  }

  /** Writes the corpus as `dir/documents.parquet`, the table layout
    * `SparkEntry.queries` reads.
    */
  def land(spark: SparkSession, dir: Path, seed: Long, k: DocKnobs): Long = {
    import spark.implicits._
    val rows = docs(seed, k)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    rows.size.toLong
  }
}
