package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.dedup.Dedup
import graft.sources.Tables

/** `dedup_blocking`: the blocking builds of the near-duplicate family
  * and the domain rank, run as passes over one seeded corpus.
  */
object DedupWorkload {

  /** The timed pass: the four blocking builds of the near-duplicate family. */
  val Blocking: Seq[String] = Seq("d_containment", "d_minhash_lsh", "d_simhash", "d_prefix_containment")

  /** The traced pass adds the domain rank, whose shingle buckets are the
    * fifth blocking build. It stays out of the timed pass: its ten rank
    * iterations cost as much as the four blocking queries together, and
    * a run that times it does not fit the benchmark's run budget.
    */
  val Queries: Seq[String] = Blocking :+ "t_domain_rank"

  /** Corpus traffic: replicas per base document and the share of
    * documents ending in the hot boilerplate block. At normal size the
    * boilerplate is in ~3000 of ~10000 documents, well above the blocking
    * builds' fixed df cap of 1000, so its shingle buckets always take the
    * capped path (collected up to the cap, then dropped) and never count
    * against the adaptive pair budget; the capped aggregates run on every
    * seed in the same regime.
    */
  def knobs(tiny: Boolean): DocKnobs =
    if (tiny) DocKnobs(baseDocs = 300, replication = 1.0, hotShare = 0.2, sources = 20)
    else DocKnobs(baseDocs = 4000, replication = 1.5, hotShare = 0.3, sources = 20)

  /** The warm-up corpus: the same traffic at a twelfth of the size, so
    * the warm-up passes compile the same plans without costing full passes.
    */
  def warmKnobs(tiny: Boolean): DocKnobs = {
    val k = knobs(tiny)
    k.copy(baseDocs = k.baseDocs / 12)
  }

  /** The corpus is generated from `seed mod Variants`; every variant's
    * digests are pinned, so every seed is checked against pinned values.
    */
  val Variants = 32

  def variant(seed: Long): Long = Math.floorMod(seed, Variants.toLong)

  type Digest = (Long, Long, Long)

  /** Span and metric name of a query: its layer, then its name. */
  private def spanName(q: String): String = (if (q.startsWith("t_")) "text." else "dedup.") + q

  private val WarmPasses = 2
  private val MinPasses = 2

  /** Pinned (rows, hash) per query for corpus variant `v`, from the
    * benchmark's pin file.
    */
  def pins(file: Path, v: Long): Map[String, Digest] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, UTF_8).asScala.iterator.map(_.split("\t"))
      .collect { case Array(s, q, n, lo, hi) if s == v.toString => q -> (n.toLong, lo.toLong, hi.toLong) }
      .toMap

  /** One pass: every query through `SparkEntry.queries`, each fully
    * materialized by its digest; returns (query, seconds, digest).
    * Transient blocks are released after each query, outside its time.
    */
  def pass(spark: SparkSession, dir: String, queries: Seq[String], throwAt: Option[String] = None,
           each: (String, () => Digest) => Digest = (_, f) => f()): Seq[(String, Double, Digest)] =
    queries.map { q =>
      var seconds = 0.0
      val d = try each(q, () => {
        if (throwAt.contains(q)) throw new IllegalStateException(s"injected failure in $q")
        val (r, s) = Main.timed({
          val df = SparkEntry.queries(q)(spark, dir)
          StreamBench.digest(df, df.columns.toIndexedSeq)
        })
        seconds = s
        r
      }) finally graft.Caching.releaseTransient()
      (q, seconds, d)
    }

  /** Writes `<work>/pins.tsv`: one pass's digests for every corpus
    * variant in the range, the reference the pin file holds.
    */
  def pin(spark: SparkSession, a: Args): Unit = {
    val (lo, hi) = a.pinSeeds.get
    val lines = (lo to hi).flatMap { v =>
      System.err.println(s"perfbench: pinning variant $v")
      val dir = a.work.resolve(s"corpus-$v")
      DocGen.land(spark, dir, v, knobs(tiny = false))
      val res = pass(spark, dir.toString, Queries)
      Proc.deleteTree(dir)
      res.map { case (q, _, (n, l, h)) => s"$v\t$q\t$n\t$l\t$h" }
    }
    Files.write(a.work.resolve("pins.tsv"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def run(session: () => SparkSession, restart: Int => SparkSession, a: Args, sessionS: Double,
          tracer: Tracer): Outcome = {
    val dir = a.work.resolve("corpus")
    val warmDir = a.work.resolve("warm-corpus")
    val corpusVariant = variant(a.seed)
    val (docs, genS) = Main.timed {
      DocGen.land(session(), warmDir, -1 - corpusVariant, warmKnobs(a.tiny))
      DocGen.land(session(), dir, corpusVariant, knobs(a.tiny))
    }
    // tiny corpora (the harness's own tests) are checked against their
    // first pass; normal ones only against the pins
    val reference = scala.collection.mutable.Map[String, Digest]()
    if (!a.tiny) {
      reference ++= pins(a.pins, corpusVariant)
      require(Queries.forall(reference.contains),
        s"no pinned digests for corpus variant $corpusVariant in ${a.pins}")
    }
    val warmReference = scala.collection.mutable.Map[String, Digest]()
    val failures = Vector.newBuilder[String]
    var attempted = 0L

    /** Runs one pass and checks it; returns its seconds, or None when it
      * threw or failed its check (and so yields no timing).
      */
    val querySeconds = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    def checkedPass(name: String, queries: Seq[String] = Blocking, throwAt: Option[String] = None,
                    each: (String, () => Digest) => Digest = (_, f) => f(), corpus: Path = dir,
                    ref: scala.collection.mutable.Map[String, Digest] = reference): Option[Double] = {
      attempted += 1
      val res = try pass(session(), corpus.toString, queries, throwAt, each) catch {
        case e: Exception =>
          failures += s"$name threw: ${e.getMessage.take(200)}"
          return None
      }
      if (corpus == dir) for ((q, s, _) <- res) querySeconds(q) :+= s
      for ((q, _, d) <- res if !ref.contains(q)) ref(q) = d
      val bad = res.filter(r => !ref.get(r._1).contains(r._3))
      for ((q, _, d) <- bad) failures += s"$name $q digest $d, expected ${ref.get(q)}"
      if (bad.nonEmpty) None else Some(res.map(_._2).sum)
    }

    val warm = (1 to WarmPasses).map(i => checkedPass(s"warm$i", corpus = warmDir, ref = warmReference))
    val setupS = sessionS + genS + Proc.median(warm.map(_.getOrElse(Double.NaN)))
    val notes = Seq("docs" -> docs.toString, "corpus_variant" -> corpusVariant.toString)

    if (!a.trace) {
      val times = Vector.newBuilder[Double]
      val end = System.nanoTime() + (a.seconds * 1e9).toLong
      val cpu0 = Proc.cpuSeconds
      val j0 = Proc.cpuJiffies
      var n = 0
      while (n < MinPasses || System.nanoTime() < end) {
        n += 1
        val throwAt = if (a.inject == "throw_batch" && n == 2) Some(Blocking.head) else None
        checkedPass(s"pass$n", throwAt = throwAt).foreach(times += _)
      }
      val cpu = Proc.cpuSeconds - cpu0
      val steal = Proc.stealFrac(j0, Proc.cpuJiffies)
      val t = times.result()
      val f = failures.result()
      val m = Main.endToEnd(docs / Proc.median(t), t.map(_ * 1000), cpu / (docs.toDouble * t.size) * 1e6,
        Proc.peakRssMb, setupS, f.size.toDouble / attempted)
      return Outcome(attempted, f, m, notes ++ Seq("passes" -> n.toString,
        "pass_s" -> t.map(x => f"$x%.3f").mkString(","), "host_steal_frac" -> f"$steal%.3f",
        "query_s_p50" -> Blocking.map(q => f"$q=${Proc.median(querySeconds(q))}%.3f").mkString(","),
        "warm_passes_s" -> warm.map(_.getOrElse(Double.NaN)).mkString(",")))
    }

    // traced run: an untraced pass, a traced pass (every query and the
    // shingle table as spans, listeners on), a second untraced pass, then
    // one pass at one thread. The untraced passes bracket the traced one
    // so JIT warm-up drift does not read as tracing overhead.
    val untraced1 = checkedPass("untraced1")
    val exec = new ExecListener
    val rows = scala.collection.mutable.Map[String, Long]()
    val traced = Main.listening(session(), exec) {
      val res = checkedPass("traced", Queries, each = (q, f) => {
        tracer.span(tracer.newTrace(), 0, spanName(q)) {
          val d = f()
          rows(q) = d._1
          (d, Map("rows" -> d._1.toDouble))
        }
      })
      for (_ <- 1 to 2) tracer.span(tracer.newTrace(), 0, "dedup.shingle") {
        val n = Dedup.shingleTable(Tables.documents(session(), dir.toString)).count()
        rows("shingle") = n
        ((), Map("rows" -> n.toDouble))
      }
      res
    }
    val untraced2 = checkedPass("untraced2")
    val tracedBlocking = Blocking.map(q => tracer.medianMs(spanName(q)) / 1000).sum
    restart(1)
    val base = checkedPass("base")
    val v = Map(
      "dedup.shingle_ms" -> tracer.medianMs("dedup.shingle"),
      "dedup.shingle_rows" -> rows.getOrElse("shingle", 0L).toDouble,
      "baseline.records_per_s_1thread" -> base.map(docs / _).getOrElse(0.0),
      "trace.overhead_frac" -> {
        val u = Seq(untraced1, untraced2).flatten
        if (traced.isEmpty || u.isEmpty) 0.0 else tracedBlocking / Proc.median(u) - 1
      },
    ) ++ Queries.flatMap { q =>
      Seq(s"${spanName(q)}_ms" -> tracer.medianMs(spanName(q)),
        s"${spanName(q)}_rows" -> rows.getOrElse(q, 0L).toDouble)
    } ++ exec.metrics
    Outcome(attempted, failures.result(), Main.perLayer(v), notes)
  }
}
