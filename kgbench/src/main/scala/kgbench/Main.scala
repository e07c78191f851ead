package kgbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Metrics
import graft.model.{SameAsEdge, Spec}
import graft.operators.{Canonicalizer, GazetteerMatcher, Linker, SpanOps}
import graft.Pipeline
import graft.sources.TripleSink

/** One run of the KG-construction benchmark in a single JVM at local[4]:
  * generate the workload's input from the seed, warm up, run closed-loop
  * operations for `--seconds`, check every
  * measured output against [[Reference]], and print the result as the
  * last line of stdout. With `--trace 1` the operations are traced and the
  * per-layer metrics are printed instead of the end-to-end ones.
  *
  * Usage: `kgbench.Main --workload kg_batch|kg_resolve|kg_stream --seed N
  * --seconds S --trace 0|1 --work DIR [--size tiny] [--corrupt 1]` */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, corrupt: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("size", "full") == "tiny",
      m.getOrElse("corrupt", "0") == "1", m("work"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val rounds = new RoundCounter(System.err)
    System.setErr(new java.io.PrintStream(rounds, true, "UTF-8"))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"kgbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // scan splits small enough to keep a small corpus 4 tasks wide
      .config("spark.sql.files.maxPartitionBytes", 8L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 512L * 1024)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val sizes = Inputs.sizes(o.workload, o.tiny)
    val w: Workload = o.workload match {
      case "kg_batch" => new BuildWorkload(spark, sizes, o.seed, o.work, atScale = false)
      case "kg_resolve" => new BuildWorkload(spark, sizes, o.seed, o.work, atScale = true)
      case "kg_stream" => new StreamWorkload(spark, sizes, o.seed, o.work)
    }
    // set-up is repeated and its median taken; the JVM and session start
    // once per run
    val genS = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); w.generate(); (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(genS)

    var opIndex = 0
    def nextOut(): String = { opIndex += 1; s"${o.work}/out/op$opIndex" }
    w.warmUp(nextOut())

    // flush what set-up and warm-up wrote, so that the kernel's delayed
    // writeback (30 s by default) does not land in the measured window
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    val host0 = Host.sample()
    val done = mutable.ArrayBuffer.empty[Done]
    var attempted = 0
    var failed = 0
    def measured(run: String => Done): Option[Done] = {
      attempted += w.opsPerRun
      val d = Check.attempt("operation")(run(nextOut()))
      d match { case Some(x) => done += x; case None => failed += w.opsPerRun }
      d
    }
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val t0 = System.nanoTime()
        while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds)
          measured(w.run)
        val ok = done.toSeq
        val docs = sizes.docs.toDouble
        Seq(
          ("setup_s", setupS, "s"),
          ("build_s", median(ok.map(_.wall)), "s"),
          ("triples_per_s", median(ok.map(d => d.triples / d.wall)), "1/s"),
          ("batch_p50_s", median(ok.flatMap(_.batches)), "s"),
          ("ingest_docs_per_s", median(ok.map(d => docs / d.wall)), "1/s"))
      } else {
        val tracer = new Tracer(spark, w, rounds, o.work)
        val t0 = System.nanoTime()
        val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
        while (reps.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds)
          reps += tracer.rep(measured)
        tracer.counts() ++ Tracer.layerMetrics.map(k =>
          (k, median(reps.flatMap(_.get(k)).toSeq), Tracer.unit(k))) :+
          (("peak_rss_mb", Host.peakRssMb(), "MB"))
      }
    val host1 = Host.sample()

    // checks run outside the measured window
    if (o.corrupt && done.nonEmpty)
      Check.dropOneTriple(spark, w.corruptTarget(done.head), s"${o.work}/corrupt-tmp")
    done.foreach { d =>
      val ok = Check.attempt("check")(w.check(d)).getOrElse(false)
      if (!ok) {
        System.err.println(s"[kgbench] wrong output in ${d.table}")
        failed += w.opsPerRun
      }
    }
    spark.stop()

    println(Json.obj(Seq("host" -> Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "docs" -> sizes.docs.toString, "edges" -> sizes.edges.toString,
      "files" -> sizes.files.toString,
      "op_walls_s" -> done.map(_.wall).mkString("[", ",", "]"),
      "setup_gen_s" -> genS.mkString("[", ",", "]"),
      "session_s" -> sessionS.toString,
      "loadavg_start" -> host0.loadavg, "loadavg_end" -> host1.loadavg,
      "steal_pct" -> Host.stealPct(host0, host1).toString)))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}

/** Per-layer tracing: each layer's wall time is its prefix plan's time to
  * a noop sink minus the previous prefix's, cut at the engine's public
  * calls (SpanOps → GazetteerMatcher → Linker → Canonicalizer → Pipeline →
  * TripleSink). Each prefix runs under its own job group, so CPU, shuffle
  * and spill come from [[GroupListener]] by group. On kg_stream the layer
  * chain replays micro-batch 0 outside the stream, and DocStream is the
  * stream's median batch minus that replay. */
final class Tracer(spark: SparkSession, w: Workload, rounds: RoundCounter,
    work: String) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener(sc)
  sc.addSparkListener(listener)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Wall seconds, epoch-ms interval and job-group usage of `body`. */
  final case class Span(wall: Double, t0: Long, t1: Long, u: Usage) {
    def +(o: Span): Span = Span(wall + o.wall, t0, t1, u + o.u)
  }
  private var group = 0
  private def timed[T](name: String)(body: => T): (T, Span) = {
    group += 1
    val g = s"$name#$group"
    sc.setJobGroup(g, name)
    val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val v = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - n0) / 1e9
    (v, Span(wall, t0, System.currentTimeMillis(), listener.usage(g)))
  }
  private def span(name: String)(body: => Unit): Span = timed(name)(body)._2

  private def edgesDf(e: Seq[SameAsEdge]): DataFrame = {
    import spark.implicits._
    spark.createDataset(e).select(col("src_entity").as("src"), col("dst_entity").as("dst"))
  }

  /** The replayed docs and sameAs of the layer chain. */
  private val (docs, sameAs) = w match {
    case b: BuildWorkload => (() => b.docs, b.sameAs)
    case s: StreamWorkload => (() => s.fileDocs(0), s.edges(0))
  }
  private def exploded() = SpanOps.wellFormed(SpanOps.explodeSpans(docs()))
  private def cands(c: Option[Metrics.MatcherCounters] = None) =
    GazetteerMatcher.candidates(spark, SpanOps.textSpans(exploded()),
      Spec.Gazetteer, c)

  private def parquetBytes(dir: String): (Long, Long) = {
    val fs = Files.list(dir, ".parquet")
    (fs.map(_.length).sum, fs.size.toLong)
  }

  /** One traced repetition: the layer prefixes, then the workload's
    * operation traced and untraced, each through `measure` (which does the
    * failure accounting and keeps the output for the check). */
  def rep(measure: (String => Done) => Option[Done]): Map[String, Double] = {
    val p1 = span("SpanOps")(Main.noop(exploded()))
    val p2 = span("GazetteerMatcher")(Main.noop(cands().toDF()))
    val p3 = span("Linker")(Main.noop(Linker.top1(cands())))
    var comps: DataFrame = null
    var components = 0L
    var ccRounds = 0
    val m = mutable.LinkedHashMap.empty[String, Double]
    val (p4, p5): (Span, Span) = w match {
      case b: BuildWorkload if !b.atScale =>
        // the default path resolves on the driver; the literal-map remap is
        // inlined in Pipeline.triples, so it counts as Pipeline
        val (local, cc) = timed("Canonicalizer")(Canonicalizer.componentsLocal(
          sameAs.map(e => (e.src_entity, e.dst_entity))))
        components = local.values.toSet.size.toLong
        (p3 + cc, span("Pipeline")(Main.noop(b.triples())))
      case b: BuildWorkload =>
        val r0 = rounds.rounds
        val (c, cc) = timed("Canonicalizer")(Canonicalizer.connectedComponents(
          spark, edgesDf(sameAs), smallGraphThreshold = 0L))
        comps = c
        ccRounds = rounds.rounds - r0
        val remap = span("Canonicalizer.remap")(Main.noop(
          Canonicalizer.remap(Linker.top1(cands()), "entity_id", comps)))
        components = comps.select("canonical").distinct().count()
        (cc + remap, span("Pipeline")(Main.noop(b.triples())))
      case _: StreamWorkload =>
        val (c, cc) = timed("Canonicalizer")(
          Canonicalizer.connectedComponents(spark, edgesDf(sameAs)))
        comps = c
        val remap = span("Canonicalizer.remap")(Main.noop(
          Canonicalizer.remap(Linker.top1(cands()), "entity_id", comps)))
        (cc + remap, cc + span("Pipeline")(Main.noop(
          Pipeline.triplesWithComponents(spark, docs(), comps))))
    }
    m ++= Seq("SpanOps.self_s" -> p1.wall,
      "GazetteerMatcher.self_s" -> (p2.wall - p1.wall),
      "GazetteerMatcher.cpu_s" -> (p2.u.cpuNs - p1.u.cpuNs) / 1e9,
      "Linker.self_s" -> (p3.wall - p2.wall),
      "Linker.shuffle_bytes" -> (p3.u.shuffleBytes - p2.u.shuffleBytes).toDouble,
      "Canonicalizer.self_s" -> (p4.wall - p3.wall),
      "Canonicalizer.shuffle_bytes" -> (p4.u.shuffleBytes - p3.u.shuffleBytes).toDouble,
      "Pipeline.self_s" -> (p5.wall - p4.wall),
      "Pipeline.shuffle_bytes" -> (p5.u.shuffleBytes - p4.u.shuffleBytes).toDouble)

    // the sink: the build itself, or on kg_stream a replayed batch write
    listener.takeCachedPeak()
    val gc0 = gcMs
    val r0 = rounds.rounds
    var opSpan: Span = null
    val (sink, sinkDone): (Span, Option[Done]) = w match {
      case _: BuildWorkload =>
        val d = measure { out => val (d, s) = timed("op")(w.run(out)); opSpan = s; d }
        (opSpan, d)
      case _: StreamWorkload =>
        val out = s"$work/replay/$group"
        val (lineage, write) = timed("TripleSink")(TripleSink.writeTriples(spark,
          Pipeline.triplesWithComponents(spark, docs(), comps), out))
        val rows = lineage.map(_.rows).sum
        val s = p5 + write
        (s, Some(Done(out, s.wall, rows, Seq(s.wall), Nil)))
    }
    val cachedPeak = listener.takeCachedPeak()
    sinkDone.foreach { d =>
      val (bytes, files) = parquetBytes(d.table)
      val buckets = Check.manifest(d.table).values
      m ++= Seq("TripleSink.self_s" -> (sink.wall - p5.wall),
        "TripleSink.jobs" -> (sink.u.jobs - p5.u.jobs).toDouble,
        "TripleSink.cached_peak_bytes" -> cachedPeak.toDouble,
        "TripleSink.bytes_written" -> bytes.toDouble,
        "TripleSink.bytes_per_triple" -> bytes.toDouble / math.max(1L, d.triples),
        "TripleSink.files_written" -> files.toDouble,
        "TripleSink.bucket_skew" -> buckets.max.toDouble / math.max(1e-9, buckets.sum.toDouble / buckets.size),
        "TripleSink.spill_bytes" -> (sink.u.spillBytes - p5.u.spillBytes).toDouble,
        "Pipeline.rows_out" -> d.triples.toDouble)
    }

    // the operation the end-to-end metrics time, traced and untraced
    val (tracedOp, tracedWall): (Option[(Done, Span)], Double) = w match {
      case _: BuildWorkload => (sinkDone.map(d => (d, opSpan)), sink.wall)
      case _: StreamWorkload =>
        val d = measure { out => val (d, s) = timed("op")(w.run(out)); opSpan = s; d }
        (d.map(x => (x, opSpan.copy(u = listener.usage(x.jobGroup)))), opSpan.wall)
    }
    val gcS = (gcMs - gc0) / 1e3
    ccRounds = math.max(ccRounds, rounds.rounds - r0)
    org.apache.spark.kgbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    val untraced = try measure(w.run) finally sc.addSparkListener(listener)

    tracedOp.foreach { case (d, s) =>
      m ++= Seq("run.driver_gap_s" -> (s.wall - s.u.busyMs(s.t0, s.t1) / 1e3),
        "run.gc_s" -> gcS)
      w match {
        case sw: StreamWorkload =>
          val state = Check.latestState(d.table)
          val st = state.map(spark.read.parquet(_))
          components = st.map(_.select("canonical").distinct().count()).getOrElse(0L)
          m ++= Seq("DocStream.self_s" -> (Main.median(d.batches) - sink.wall),
            "DocStream.history_bytes_read" -> (s.u.bytesRead -
              Files.list(sw.docsDir, ".parquet").map(_.length).sum).toDouble,
            "DocStream.novel_ratio" -> d.triples.toDouble / math.max(1L, sw.expected._3),
            "DocStream.state_rows" -> st.map(_.count()).getOrElse(0L).toDouble,
            "DocStream.addBatch_s" -> Main.median(d.addBatch))
        case _ =>
      }
    }
    m ++= Seq("Canonicalizer.rounds" -> ccRounds.toDouble,
      "Canonicalizer.components" -> components.toDouble,
      "Canonicalizer.edges_in" -> (w match {
        case s: StreamWorkload => s.edges.map(_.size).sum
        case _ => sameAs.size
      }).toDouble)
    untraced.foreach { u =>
      val selfSum = m.collect { case (k, v) if k.endsWith(".self_s") => v }.sum
      val covered = w match {
        // kg_stream: per-batch layer time over all batches, against the stream
        case _: StreamWorkload => tracedOp.map(_._1.batches.size).getOrElse(0) * selfSum
        case _ => selfSum
      }
      m ++= Seq("run.layer_coverage" -> covered / u.wall,
        "run.trace_overhead_frac" -> (tracedWall / u.wall - 1))
    }
    m.toMap
  }

  /** Row counts of the layers, taken once outside the timed spans. */
  def counts(): Seq[(String, Double, String)] = {
    val in = SpanOps.explodeSpans(docs()).count()
    val out = exploded().count()
    val c = Metrics.matcherCounters(spark)
    val nCands = cands(Some(c)).count()
    val kept = Linker.top1(cands()).count()
    Seq(("SpanOps.rows_out", out.toDouble, "count"),
      ("SpanOps.dropped", (in - out).toDouble, "count"),
      ("GazetteerMatcher.mentions", c.mentions.value.toDouble, "count"),
      ("GazetteerMatcher.mentions_per_span",
        c.mentions.value.toDouble / math.max(1L, c.textSpans.value), "ratio"),
      ("Linker.kept_ratio", kept.toDouble / math.max(1L, nCands), "ratio"))
  }
}

object Tracer {
  /** Per-layer metrics taken per repetition (median reported); a metric a
    * workload does not exercise reads 0. */
  val layerMetrics: Seq[String] = Seq(
    "SpanOps.self_s", "GazetteerMatcher.self_s", "GazetteerMatcher.cpu_s",
    "Linker.self_s", "Linker.shuffle_bytes",
    "Canonicalizer.self_s", "Canonicalizer.rounds", "Canonicalizer.edges_in",
    "Canonicalizer.components", "Canonicalizer.shuffle_bytes",
    "Pipeline.self_s", "Pipeline.shuffle_bytes", "Pipeline.rows_out",
    "TripleSink.self_s", "TripleSink.jobs", "TripleSink.cached_peak_bytes",
    "TripleSink.bytes_written", "TripleSink.bytes_per_triple",
    "TripleSink.files_written", "TripleSink.bucket_skew", "TripleSink.spill_bytes",
    "DocStream.self_s", "DocStream.history_bytes_read", "DocStream.novel_ratio",
    "DocStream.state_rows", "DocStream.addBatch_s",
    "run.driver_gap_s", "run.gc_s", "run.layer_coverage", "run.trace_overhead_frac")

  def unit(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes") || metric.endsWith("bytes_written") ||
      metric.endsWith("_read") || metric.endsWith("bytes_per_triple")) "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_frac") ||
      metric.endsWith("_skew") || metric.endsWith("coverage") ||
      metric.endsWith("_per_span")) "ratio"
    else "count"
}
