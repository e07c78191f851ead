package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.Spec
import graft.sources.{InterleavedDocs, TripleSink}

/** S5/S7: bucketed partitioned write, manifest lineage, checkpoint-resume
  * (BASELINE.json:14; SURVEY.md §5.1 resume test). */
class TripleSinkSpec extends SparkTestBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft-sink").toString

  private lazy val triples = {
    val docs = InterleavedDocs.synthesize(spark, 200L, seed = 21L)
    Pipeline.triples(spark, docs).cache()
  }

  /** Per-bucket (rows, checksum) recomputed from the files on disk, with
    * the zero-row record for buckets that have no directory. */
  private def diskLineage(dir: String,
      buckets: Int): Seq[TripleSink.BucketLineage] = {
    val onDisk = TripleSink.readTriples(spark, dir).groupBy("subj_bucket")
      .agg(count(lit(1)), expr("bit_xor(xxhash64(subj, pred, obj))"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0 until buckets).map { b =>
      val (rows, sum) = onDisk.getOrElse(b, (0L, 0L))
      TripleSink.BucketLineage(b, rows, sum)
    }
  }

  test("write partitions by subj_bucket and round-trips content") {
    val dir = freshDir()
    val lineage = TripleSink.writeTriples(spark, triples, dir, buckets = 8)
    assert(lineage.map(_.bucket).sorted == (0 until 8))
    assert(lineage.map(_.rows).sum == triples.count())
    assert(TripleSink.readManifest(dir).sortBy(_.bucket) ==
      diskLineage(dir, 8), "manifest lineage must equal the files on disk")
    // physical layout: one dir per bucket
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("subj_bucket=")).sorted
    assert(dirs.length > 0 && dirs.forall(_.matches("subj_bucket=\\d+")))
    val back = TripleSink.readTriples(spark, dir)
      .select("subj", "pred", "obj", "obj_type")
    assert(back.exceptAll(triples).isEmpty &&
      triples.exceptAll(back).isEmpty)
  }

  test("resume after partial write yields byte-identical final set") {
    val full = freshDir(); val resumed = freshDir()
    TripleSink.writeTriples(spark, triples, full, buckets = 8)

    // simulate a run that died after 3 buckets
    val l1 = TripleSink.writeTriples(spark, triples, resumed, buckets = 8,
      onlyBuckets = Some(Set(0, 1, 2)))
    assert(l1.map(_.bucket).toSet == Set(0, 1, 2))
    assert(TripleSink.readManifest(resumed).map(_.bucket).toSet == Set(0, 1, 2))

    // resume: only remaining buckets are written, manifest completes
    val l2 = TripleSink.writeTriples(spark, triples, resumed, buckets = 8)
    assert(l2.map(_.bucket).toSet == (3 until 8).toSet)

    val a = TripleSink.readTriples(spark, full)
    val b = TripleSink.readTriples(spark, resumed)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // per-bucket lineage identical regardless of resume boundary
    assert(TripleSink.readManifest(full).sortBy(_.bucket) ==
      TripleSink.readManifest(resumed).sortBy(_.bucket))
    assert(TripleSink.readManifest(resumed).sortBy(_.bucket) ==
      diskLineage(resumed, 8), "manifest lineage must equal the files on disk")
  }

  private def bucketFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("subj_bucket="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))

  private def assertFilesSorted(dir: String): Unit = {
    assert(bucketFiles(dir).nonEmpty)
    for (f <- bucketFiles(dir)) {
      // one small file is one split, so collect() keeps file row order
      val rows = spark.read.parquet(f.getPath).select("subj", "pred", "obj")
      assert(rows.collect().toSeq == rows.sort("subj", "pred", "obj")
        .collect().toSeq, s"${f.getParentFile.getName}/${f.getName} " +
        "is not sorted by (subj, pred, obj)")
    }
  }

  test("every bucket file is sorted by (subj, pred, obj) in row order") {
    val dir = freshDir()
    TripleSink.writeTriples(spark, triples, dir, buckets = 8)
    assertFilesSorted(dir)
  }

  /** bucket → the write task (partition) ids of its files, parsed from
    * the `part-<partition>-…` file names. */
  private def bucketTasks(dir: String): Map[String, Seq[Int]] =
    bucketFiles(dir).groupBy(_.getParentFile.getName).map { case (b, fs) =>
      b -> fs.map(_.getName.stripPrefix("part-").takeWhile(_ != '-').toInt)
    }

  test("more shuffle partitions than buckets split each bucket's write") {
    // the suite's session runs 4 shuffle partitions
    val plain, split = freshDir()
    TripleSink.writeTriples(spark, triples, plain, buckets = 4)
    val conf = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try TripleSink.writeTriples(spark, triples, split, buckets = 4)
    finally spark.conf.set(conf, before)
    for ((dir, perBucket) <- Seq(plain -> 1, split -> 4)) {
      val tasks = bucketTasks(dir)
      assert(tasks.size == 4 && tasks.values.forall(_.size == perBucket),
        s"$perBucket file(s) per bucket: $tasks")
      val all = tasks.values.flatten.toSeq
      assert(all.distinct.size == all.size, s"a task wrote two buckets: $tasks")
    }
    assertFilesSorted(split)
    assert(TripleSink.readManifest(split).sortBy(_.bucket) ==
      TripleSink.readManifest(plain).sortBy(_.bucket))
    assert(TripleSink.readManifest(split).sortBy(_.bucket) ==
      diskLineage(split, 4), "manifest lineage must equal the files on disk")
  }

  test("a zero-row write records every target bucket as empty") {
    val dir = freshDir()
    val empty = (0 until 8).map(TripleSink.BucketLineage(_, 0L, 0L))
    assert(TripleSink.writeTriples(spark, triples.limit(0), dir,
      buckets = 8) == empty)
    assert(TripleSink.readManifest(dir).sortBy(_.bucket) == empty)
  }

  /** The executions (with their executed plans as tree strings, cached
    * relations included) of the SQL actions `body` runs. Listener calls
    * are asynchronous, so a marker query closes the window. */
  private def executions(body: => Unit): Seq[(QueryExecution, String)] = {
    val plans = new ConcurrentLinkedQueue[(QueryExecution, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe -> qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(1).as("plans_end")).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!plans.asScala.exists(_._2.contains("plans_end")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def executedPlans(body: => Unit): Seq[String] =
    executions(body).map(_._2)

  /** Plan lines of a filter on the bucket column: on the named column
    * (`subj_bucket#<id> IN (…)`), or, where the optimizer inlines the
    * column and pushes the filter below the projection that makes subj,
    * `pmod(hash(<subj expression>, 42), buckets) IN (…)`. */
  private def bucketFilters(plans: Seq[String]): Seq[String] = {
    val bucket = (s"(subj_bucket#\\d+|42\\), ${Spec.DefaultSubjectBuckets}" +
      "\\)) (IN|INSET) ").r
    plans.flatMap(_.linesIterator)
      .filter(l => l.contains("Filter") && bucket.findFirstIn(l).nonEmpty)
  }

  test("fresh write runs no bucket filter; a partial write still filters") {
    // uncached, as on the KG path, so a filter could reach the union
    val uncached = Pipeline.triples(spark,
      InterleavedDocs.synthesize(spark, 200L, seed = 21L))
    val fresh = executedPlans(
      TripleSink.writeTriples(spark, uncached, freshDir()))
    assert(fresh.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
      "the write's plan was not captured")
    assert(bucketFilters(fresh).isEmpty, "fresh write filtered on the " +
      s"bucket:\n${bucketFilters(fresh).mkString("\n")}")
    for (token <- Seq("InMemoryRelation", "rangepartitioning"))
      assert(!fresh.exists(_.contains(token)),
        s"fresh write's executed plans contain $token")
    // the resume spec above checks that the filtered partial write plus
    // its resume yields the fresh write's table
    val partial = executedPlans(TripleSink.writeTriples(spark, uncached,
      freshDir(), onlyBuckets = Some(Set(0, 1, 2))))
    assert(bucketFilters(partial).nonEmpty,
      "an onlyBuckets write must filter to its buckets")
  }

  test("the pipeline's triples reach the write through one exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docsDir = freshDir()
    InterleavedDocs.synthesize(spark, 200L, seed = 21L)
      .write.mode("overwrite").parquet(docsDir)
    val docs = InterleavedDocs.readDocs(spark, docsDir)
    val aqe = new AdaptiveSparkPlanHelper {}
    // at another bucket count the write keeps its own exchange
    for (atScale <- Seq(false, true);
         (buckets, exchanges) <- Seq(Spec.DefaultSubjectBuckets -> 1, 8 -> 2)) {
      val df = Pipeline.triples(spark, docs, atScale = atScale)
      val dir = freshDir()
      val writes = executions(TripleSink.writeTriples(spark, df, dir,
        buckets)).flatMap(e => aqe.collect(e._1.executedPlan) {
          case w: DataWritingCommandExec => w })
      assert(writes.size == 1, s"atScale=$atScale: ${writes.size} writes")
      val plan = writes.head
      val scans = aqe.collect(plan) { case f: FileSourceScanExec => f }
      val shuffles = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(scans.size == 1 && shuffles.size == exchanges,
        s"atScale=$atScale, $buckets buckets: ${scans.size} scans, " +
          s"${shuffles.size} shuffles (want $exchanges):\n$plan")
      val back = TripleSink.readTriples(spark, dir)
        .select("subj", "pred", "obj", "obj_type")
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
        s"atScale=$atScale, $buckets buckets: table differs from the triples")
      assert(TripleSink.readManifest(dir).sortBy(_.bucket) ==
        diskLineage(dir, buckets), "manifest lineage must equal the files")
      val tasks = bucketTasks(dir)
      assert(tasks.size == buckets && tasks.values.forall(_.size == 1),
        s"one file per bucket: $tasks")
    }
  }

  test("resume on a complete table is a no-op") {
    val dir = freshDir()
    TripleSink.writeTriples(spark, triples, dir, buckets = 4)
    assert(TripleSink.writeTriples(spark, triples, dir, buckets = 4).isEmpty)
  }

  test("N-Triples export is sorted and well-formed") {
    val lines = TripleSink.toNTriples(triples).collect().map(_.getString(0))
    assert(lines.toSeq == lines.toSeq.sorted)
    assert(lines.forall(l => l.startsWith("<ex:") && l.endsWith(" .")))
    assert(lines.exists(_.contains("\"")), "label literals present")
  }

  test("N-Triples round-trip: parse(export(T)) == T incl. nasty literals") {
    import spark.implicits._
    val nasty = Seq(
      ("ex:doc/1", "ex:mentions", "ex:ent/A", "iri"),
      ("ex:doc/1", "ex:label", "plain text", "literal"),
      ("ex:doc/1", "ex:label", "quote \" inside", "literal"),
      ("ex:doc/1", "ex:label", "back \\ slash", "literal"),
      ("ex:doc/1", "ex:label", "both \\\" mix \\\\ end", "literal"),
      ("ex:doc/1", "ex:label", "ends with dot .", "literal"),
      ("ex:doc/1", "ex:label", "angle > bracket", "literal"))
      .toDF("subj", "pred", "obj", "obj_type")
    for (t <- Seq(nasty, triples)) {
      val back = TripleSink.parseNTriples(TripleSink.toNTriples(t))
      assert(back.exceptAll(t).isEmpty && t.exceptAll(back).isEmpty,
        "round-trip must be the identity on the triple set")
    }
    // malformed lines are dropped, not thrown
    val junk = Seq("not a triple", "<a> <b> incomplete").toDF("line")
    assert(TripleSink.parseNTriples(junk).count() == 0)
  }
}
