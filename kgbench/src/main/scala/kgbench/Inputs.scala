package kgbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.model.{SameAsEdge, Spec}
import graft.sources.InterleavedDocs

/** Seeded input generation. Every input is a pure function of the seed
  * and the sizes: the corpus comes from [[InterleavedDocs.synthesize]]
  * (2% head-entity skew), the sameAs graphs from a seeded
  * `scala.util.Random`. */
object Inputs {

  /** Input sizes of one workload: docs in the corpus, generated sameAs
    * edges on top of the fixture, and doc files (micro-batches). */
  final case class Sizes(docs: Long, edges: Int, files: Int)

  def sizes(workload: String, tiny: Boolean): Sizes = (workload, tiny) match {
    case ("kg_batch", false) => Sizes(10000, 0, 1)
    case ("kg_batch", true) => Sizes(400, 0, 1)
    case ("kg_resolve", false) => Sizes(1000, 2000, 1)
    case ("kg_resolve", true) => Sizes(300, 400, 1)
    case ("kg_stream", false) => Sizes(1500, 1500, 3)
    case ("kg_stream", true) => Sizes(300, 200, 2)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def writeDocs(spark: SparkSession, n: Long, seed: Long, dir: String): Unit =
    InterleavedDocs.synthesize(spark, n, seed = seed, skewPct = 2)
      .write.mode("overwrite").parquet(dir)

  /** Doc id range of file `k` out of `files` (ids are `d%012d`). */
  def fileRange(n: Long, files: Int, k: Int): (String, String) =
    (f"d${n * k / files}%012d", f"d${n * (k + 1) / files}%012d")

  /** The corpus split into `files` single-file parquet parts under `dir`,
    * part k holding a contiguous id range. Modification times increase
    * with k, so a file stream reading one file per trigger processes
    * part k as micro-batch k. */
  def writeDocFiles(spark: SparkSession, n: Long, seed: Long, files: Int,
      dir: String, scratch: String): Unit = {
    Files.delete(dir); Files.delete(scratch)
    new File(dir).mkdirs()
    val docs = InterleavedDocs.synthesize(spark, n, seed = seed, skewPct = 2)
    val now = System.currentTimeMillis()
    (0 until files).foreach { k =>
      val (lo, hi) = fileRange(n, files, k)
      val tmp = s"$scratch/part$k"
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
        .write.parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(dir, f"part-$k%05d.parquet")
      require(part.renameTo(dst), s"cannot move $part to $dst")
      dst.setLastModified(now - (files - k) * 60000L)
    }
    Files.delete(scratch)
  }

  /** A sameAs graph of about `n` generated edges plus the fixture: chains
    * (the long-diameter worst case), cycles and hubs over open-world nodes.
    * Every gazetteer entity anchors one structure, and the longest chain
    * bridges two of them, so which entities merge does not depend on the
    * seed;
    * some structures hold a node that sorts before every gazetteer id,
    * which moves the canonical off the gazetteer. The edge order is
    * shuffled and each edge randomly oriented, so partition-local
    * structure is scarce. */
  def sameAsGraph(seed: Long, n: Int): Vector[SameAsEdge] = {
    val rnd = new Random(seed)
    val gaz = Spec.Gazetteer.map(_.entity_id).distinct.sorted.toVector
    var next = 0L
    def node(): String = {
      next += 1
      // an odd multiplier is a bijection on 64 bits: unique, unordered ids
      val prefix = if (rnd.nextInt(50) == 0) "D" else "W"
      f"$prefix${next * 0x9E3779B97F4A7C15L}%016x"
    }
    val edges = Vector.newBuilder[SameAsEdge]
    var count = 0
    def add(a: String, b: String): Unit = { edges += SameAsEdge(a, b); count += 1 }
    var structures = 0
    def anchor(v: String): Unit = {
      if (structures <= gaz.size) add(v, gaz(structures - 1))
      structures += 1
    }
    // the bridge is the one longest chain, so the star rounds' count (set
    // by the longest path) does not depend on the seed
    val longest = math.max(4, math.min(400, n / 40))
    while (count < n) {
      val len = if (structures == 0) longest else 2 + rnd.nextInt(longest / 2 - 1)
      val nodes = Vector.fill(len)(node())
      if (structures == 0) { // the bridge: E_batch ~ … ~ E_stream
        nodes.sliding(2).foreach(p => add(p(0), p(1)))
        add(nodes.head, "E_batch"); add(nodes.last, "E_stream")
        structures += 1
      } else rnd.nextInt(3) match {
        case 0 => // chain
          nodes.sliding(2).foreach(p => add(p(0), p(1)))
          anchor(nodes(rnd.nextInt(len)))
        case 1 => // cycle
          nodes.indices.foreach(i => add(nodes(i), nodes((i + 1) % len)))
          anchor(nodes(rnd.nextInt(len)))
        case _ => // hub
          nodes.tail.foreach(add(nodes.head, _))
          anchor(nodes(rnd.nextInt(len)))
      }
    }
    rnd.shuffle(edges.result() ++ Spec.SameAs)
      .map(e => if (rnd.nextBoolean()) e else SameAsEdge(e.dst_entity, e.src_entity))
  }

  /** Per-micro-batch sameAs edges: the graph's edges dealt at random to
    * `batches` batches, so components built in one batch are merged by
    * edges arriving in later ones. */
  def batchEdges(seed: Long, n: Int, batches: Int): Vector[Vector[SameAsEdge]] = {
    val rnd = new Random(seed ^ 0x5ca1ab1eL)
    val dealt = sameAsGraph(seed, n).groupBy(_ => rnd.nextInt(batches))
    Vector.tabulate(batches)(b => dealt.getOrElse(b, Vector.empty))
  }
}

/** Local file helpers; every path the benchmark touches is under its own
  * work directory. */
object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Regular files under `dir` whose names end in `suffix`. */
  def list(dir: String, suffix: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists()) Seq.empty
    else {
      val it = java.nio.file.Files.walk(d.toPath).iterator()
      val out = Seq.newBuilder[File]
      while (it.hasNext) {
        val f = it.next().toFile
        if (f.isFile && f.getName.endsWith(suffix)) out += f
      }
      out.result()
    }
  }
}
