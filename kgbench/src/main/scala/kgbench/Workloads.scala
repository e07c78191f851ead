package kgbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.{Doc, SameAsEdge, Spec}
import graft.sources.{InterleavedDocs, TripleSink}
import graft.streaming.DocStream

/** One finished operation run: a build, or a whole stream. `batches`
  * holds the micro-batch durations (a build is one batch). */
final case class Done(table: String, wall: Double, triples: Long,
    batches: Seq[Double], addBatch: Seq[Double], jobGroup: String = "")

/** A workload: its seeded input, its closed-loop operation, and the check
  * of that operation's output against [[Reference]]. */
sealed abstract class Workload(val spark: SparkSession, val sizes: Inputs.Sizes,
    val seed: Long, val work: String) {
  /** (Re)generates the input; timed as set-up. */
  def generate(): Unit
  /** Runs one operation writing under `out`. */
  def run(out: String): Done
  /** Runs operations over the same code paths, so that the measured ones
    * find the JIT and Spark's code generation warm. */
  def warmUp(out: String): Unit
  /** True when the output of `d` is exactly the expected triple set. */
  def check(d: Done): Boolean
  /** Operations one run counts as: 1 build, or one per micro-batch. */
  def opsPerRun: Int
  /** The table directory a corruption test drops a triple from. */
  def corruptTarget(d: Done): String
}

/** kg_batch and kg_resolve: docs on disk → `Pipeline.triples` →
  * `TripleSink.writeTriples`, with the fixture sameAs on the default path
  * or a generated graph on the at-scale path. */
final class BuildWorkload(spark: SparkSession, sizes: Inputs.Sizes, seed: Long,
    work: String, val atScale: Boolean)
    extends Workload(spark, sizes, seed, work) {
  val docsDir = s"$work/docs"
  var sameAs: Seq[SameAsEdge] = Spec.SameAs

  def generate(): Unit = {
    Inputs.writeDocs(spark, sizes.docs, seed, docsDir)
    if (atScale) sameAs = Inputs.sameAsGraph(seed, sizes.edges)
  }

  def docs: Dataset[Doc] = InterleavedDocs.readDocs(spark, docsDir)
  def triples(): DataFrame =
    Pipeline.triples(spark, docs, sameAs = sameAs, atScale = atScale)

  private def build(out: String, edges: Seq[SameAsEdge]): Done = {
    val t0 = System.nanoTime()
    val rows = TripleSink.writeTriples(spark,
      Pipeline.triples(spark, docs, sameAs = edges, atScale = atScale), out)
      .map(_.rows).sum
    val wall = (System.nanoTime() - t0) / 1e9
    Done(out, wall, rows, Seq(wall), Nil)
  }

  def run(out: String): Done = build(out, sameAs)
  /** Builds for at least 8 s. kg_resolve's take the fixture graph, which
    * runs the same star rounds path in fewer rounds. */
  def warmUp(out: String): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < 8) {
      i += 1
      build(s"$out/$i", if (atScale) Spec.SameAs else sameAs)
    }
  }

  lazy val expected: Reference.Summary =
    Reference.summary(Reference.triples(docs.collect(), sameAs))

  def check(d: Done): Boolean = {
    val buckets = Check.manifest(d.table)
    buckets.keySet == (0 until Spec.DefaultSubjectBuckets).toSet &&
      buckets.values.sum == expected.rows && d.triples == expected.rows &&
      Check.summary(TripleSink.readTriples(spark, d.table)) == expected
  }

  def opsPerRun: Int = 1
  def corruptTarget(d: Done): String = d.table
}

/** kg_stream: the corpus as one file per micro-batch through
  * `DocStream.run` (AvailableNow, one file per trigger), each batch
  * bringing its own sameAs edges. */
final class StreamWorkload(spark: SparkSession, sizes: Inputs.Sizes, seed: Long,
    work: String) extends Workload(spark, sizes, seed, work) {
  val docsDir = s"$work/docs"
  var edges: Vector[Vector[SameAsEdge]] = Vector.empty

  def generate(): Unit = {
    Inputs.writeDocFiles(spark, sizes.docs, seed, sizes.files, docsDir,
      s"$work/docs-tmp")
    edges = Inputs.batchEdges(seed, sizes.edges, sizes.files)
  }

  def fileDocs(k: Int): Dataset[Doc] =
    InterleavedDocs.readDocs(spark, f"$docsDir/part-$k%05d.parquet")

  def run(out: String): Done = stream(docsDir, out)

  /** A two-batch stream over copies of files 0 and 1, which runs every
    * micro-batch path, the history dedup included. */
  def warmUp(out: String): Unit = {
    val dir = s"$out/docs"
    new File(dir).mkdirs()
    (0 to 1).foreach { k =>
      val f = new File(f"$docsDir/part-$k%05d.parquet")
      val copy = new File(dir, f.getName)
      java.nio.file.Files.copy(f.toPath, copy.toPath)
      copy.setLastModified(f.lastModified())
    }
    stream(dir, out)
  }

  private def stream(in: String, out: String): Done = {
    val t0 = System.nanoTime()
    val q = DocStream.run(spark, in, s"$out/table", s"$out/checkpoint",
      maxFilesPerTrigger = Some(1),
      sameAsForBatch = b => edges.lift(b.toInt).getOrElse(Vector.empty))
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    Done(s"$out/table", wall, Check.streamRows(s"$out/table"), progress.map(_.batchDuration / 1e3),
      progress.map(p => p.durationMs.getOrDefault("addBatch", 0L) / 1e3),
      q.runId.toString)
  }

  /** (summary of the final triple set, rows each batch should write after
    * cross-batch dedup summed over batches, batch triples before dedup
    * summed over batches). Batch k is file k resolved with the edges of
    * batches 0..k; it writes what earlier batches did not. */
  lazy val expected: (Reference.Summary, Long, Long) = {
    val perFile = (0 until sizes.files).map(k => fileDocs(k).collect().toSeq)
    val prior = mutable.HashSet.empty[String]
    var written = 0L
    var before = 0L
    perFile.indices.foreach { k =>
      val batch = Reference.triples(perFile(k), edges.take(k + 1).flatten)
      before += batch.size
      written += batch.count(t => !prior.contains(t))
      prior ++= batch
    }
    (Reference.summary(Reference.triples(perFile.flatten, edges.flatten)),
      written, before)
  }

  def check(d: Done): Boolean =
    d.batches.size == sizes.files && d.triples == expected._2 &&
      Check.summary(DocStream.currentView(spark, d.table)) == expected._1

  def opsPerRun: Int = sizes.files
  def corruptTarget(d: Done): String = s"${d.table}/batch_id=0"
}

/** Output checks, computed without the engine's own readers. */
object Check {
  private val tripleHash = udf((s: String, p: String, o: String, t: String) =>
    Reference.hash(Reference.key(s, p, o, t)))

  def summary(df: DataFrame): Reference.Summary = {
    val r = df.select(tripleHash(col("subj"), col("pred"), col("obj"),
        col("obj_type")).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 24)), lit(0L)))
      .head()
    Reference.Summary(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** bucket → rows, parsed from a sink manifest's `bucket,rows,checksum`
    * lines. */
  def manifest(table: String): Map[Int, Long] = {
    val f = new File(table, "_graft_manifest.json")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val c = l.split(","); c(0).toInt -> c(1).toLong
      }.toMap
      finally src.close()
    }
  }

  /** Batch sub-tables of a stream's output, in batch order. */
  def batchDirs(table: String): Seq[File] =
    Option(new File(table).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("batch_id="))
      .sortBy(_.getName.stripPrefix("batch_id=").toLong)

  /** The newest component-map version DocStream keeps under the table. */
  def latestState(table: String): Option[String] =
    Option(new File(table, "_cc_state").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch_id="))
      .sortBy(_.getName.stripPrefix("batch_id=").toLong).lastOption.map(_.getPath)

  def streamRows(table: String): Long =
    batchDirs(table).map(d => manifest(d.getPath).values.sum).sum

  /** Drops one triple (the smallest media triple of the first bucket that
    * has one) from a written table, rewriting that bucket directory:
    * the benchmark's test of its own check. */
  def dropOneTriple(spark: SparkSession, table: String, scratch: String): Unit = {
    val buckets = Option(new File(table).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("subj_bucket="))
      .sortBy(_.getName)
    val (dir, victim) = buckets.iterator.flatMap { d =>
      spark.read.parquet(d.getPath).filter(col("pred") === Spec.PredMedia)
        .orderBy("subj", "obj").limit(1).collect().headOption.map(d -> _)
    }.next()
    spark.read.parquet(dir.getPath)
      .filter(!(col("subj") === victim.getAs[String]("subj") &&
        col("pred") === Spec.PredMedia && col("obj") === victim.getAs[String]("obj")))
      .write.mode("overwrite").parquet(scratch)
    Files.delete(dir.getPath)
    require(new File(scratch).renameTo(dir), s"cannot replace $dir")
  }

  /** Runs `body`, reporting an exception on stderr as a failed operation. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[kgbench] $what failed: $e")
        e.printStackTrace()
        None
    }
}
