package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Spec

/** S5/S7: the materialized triple table — partitioned by subject-hash
  * bucket, hash-partitioned on the subject, every file sorted by (subj,
  * pred, obj), with a JSON-lines manifest carrying per-bucket lineage (row
  * count + content checksum of the rows written) for checkpoint-resume
  * (BASELINE.json:6,14; SURVEY.md §2.1, §7 M4).
  *
  * Iceberg substitution note (SURVEY.md §0.3): no Iceberg jar ships in
  * /opt/spark/jars, so the Iceberg *layout semantics* are implemented on
  * plain parquet — hash-bucketed partition dirs + manifest as the snapshot
  * — behind this one object, so a real catalog can replace it where the
  * runtime exists.
  */
object TripleSink {

  /** One completed-bucket record in the manifest (per-partition lineage,
    * BASELINE.json:14). */
  final case class BucketLineage(bucket: Int, rows: Long, checksum: Long)

  def manifestPath(path: String): String = s"$path/_graft_manifest.json"

  /** Filesystem + path resolved through the Hadoop FS API, so the manifest
    * protocol works on any outPath scheme (HDFS/S3A/local) the cluster is
    * configured for — a java.nio implementation would silently see "no
    * manifest" on every non-local path and rewrite completed buckets
    * (advisor finding, round 3, same defect class as DocStream's state
    * listings). The conf comes from the ACTIVE session's
    * sparkContext.hadoopConfiguration (advisor finding, round 4): a bare
    * new Configuration() sees only classpath core-site.xml and ignores
    * spark.hadoop.* session settings — the standard delivery path for
    * S3A credentials/endpoints — so manifest I/O could hit a
    * differently-configured FS than the data writes. */
  private def hfs(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  def readManifest(path: String): Seq[BucketLineage] =
    readSidecar(manifestPath(path)).toSeq.flatMap { text =>
      // fixed writer format, see appendManifest. A malformed line (torn
      // write on a filesystem without atomic rename) is flagged and
      // skipped, not thrown: its bucket simply reads as incomplete and is
      // rewritten idempotently on resume — throwing here would instead
      // permanently wedge writeTriples AND every DocStream micro-batch
      // that lists prior batches (advisor finding, round 4).
      text.split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
        val cols = line.split(",")
        val parsed =
          if (cols.length == 3)
            for {
              b <- cols(0).toIntOption
              r <- cols(1).toLongOption
              c <- cols(2).toLongOption
            } yield BucketLineage(b, r, c)
          else None
        if (parsed.isEmpty)
          System.err.println(
            s"[graft] skipping malformed manifest line in $path: '$line'")
        parsed
      }
    }

  /** Append semantics implemented as read + rewrite through
    * [[writeSidecar]]'s temp file + atomic rename: the manifest is
    * bucket-count-sized, and FileSystem.append is unsupported on several
    * real filesystems (notably the checksummed local FS and object
    * stores). A crash mid-write can never destroy previously durable
    * bucket records: the old manifest stays intact until the new one is
    * fully written (advisor finding, round 4 — the previous
    * truncate-then-write could tear it). */
  private def appendManifest(path: String, rows: Seq[BucketLineage]): Unit =
    writeSidecar(manifestPath(path), (readManifest(path) ++ rows)
      .map(r => s"${r.bucket},${r.rows},${r.checksum}")
      .mkString("", "\n", "\n"))

  /** The hash bucket of a key (FIXTURES.md §5): the one definition the
    * sink writes and DocStream's bucket-pruned history read filters on.
    * It is Spark's own hash partition id of the key, `pmod(hash(key), B)`
    * (Murmur3, seed 42, as `HashPartitioning` computes it), so an
    * exchange from [[bucketPartitioned]] lands every row in a partition
    * of its own bucket. Tables written before this definition (it was
    * `pmod(xxhash64(key), B)`) hold their rows under other buckets: they
    * cannot be resumed or appended to. */
  private[graft] def bucketOf(key: Column, buckets: Int): Column =
    pmod(hash(key), lit(buckets))

  /** `df` hash-partitioned on `keyCol` into the bucketed write's
    * partition count, `buckets · ⌈max(buckets, P) / buckets⌉` with P =
    * spark.sql.shuffle.partitions. That count is a multiple of
    * `buckets`, so partition p holds rows of bucket p mod `buckets`
    * only: each bucket is written by ⌈max(buckets, P) / buckets⌉ tasks,
    * each task writes one bucket. The explicit count also keeps AQE
    * from coalescing the partitions (C6). [[graft.Pipeline]] partitions
    * its distinct this way, so the write's identical exchange is
    * dropped from the plan (`EnsureRequirements` removes a repartition
    * whose child already has its hash partitioning). */
  private[graft] def bucketPartitioned(spark: SparkSession, df: DataFrame,
      keyCol: String, buckets: Int): DataFrame = {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(buckets * ((math.max(buckets, partitions) + buckets - 1) /
      buckets), col(keyCol))
  }

  /** Write (or resume writing) the triple table.
    *
    * Resume protocol: buckets listed in the manifest are complete and are
    * skipped; remaining buckets are (re)written via dynamic partition
    * overwrite — a partially-written bucket dir from a crashed run is
    * simply overwritten, so the end state is exactly-once per bucket.
    * Returns the lineage rows written this invocation.
    *
    * `onlyBuckets` is a test hook to simulate a run that died after a
    * subset of buckets (SURVEY.md §5.1 resume test).
    */
  def writeTriples(spark: SparkSession, triples: DataFrame, path: String,
      buckets: Int = Spec.DefaultSubjectBuckets,
      onlyBuckets: Option[Set[Int]] = None): Seq[BucketLineage] =
    writeBucketed(spark, triples, path, keyCol = "subj",
      bucketCol = "subj_bucket", contentCols = Seq("subj", "pred", "obj"),
      buckets = buckets, onlyBuckets = onlyBuckets)

  /** The generic bucketed, manifest-tracked, resumable table write behind
    * [[writeTriples]] and [[graft.operators.Curation.writeCurated]]:
    * hash-bucket on `keyCol`, one exchange, every file sorted by
    * `contentCols`, dynamic partition overwrite, per-bucket (rows, bit_xor
    * checksum) lineage appended to the manifest. No cache: the input plan
    * runs once, in the write. Resume as documented on [[writeTriples]].
    *
    * The write runs the tasks of [[bucketPartitioned]]: each holds
    * exactly one bucket, or a 1/k slice of one when there are k times
    * more shuffle partitions than buckets, and writes one file. When `df`
    * is already partitioned that way (the [[graft.Pipeline]] triples at
    * the default bucket count), the write adds no exchange.
    *
    * Lineage is observed on the rows the write tasks consume (two
    * aggregates per target bucket, counted once per committed partition),
    * not read back from the files, so a lost or duplicated output file
    * shows as a manifest that disagrees with the table. */
  private[graft] def writeBucketed(spark: SparkSession, df: DataFrame,
      path: String, keyCol: String, bucketCol: String,
      contentCols: Seq[String], buckets: Int,
      onlyBuckets: Option[Set[Int]]): Seq[BucketLineage] = {
    val done = readManifest(path).map(_.bucket).toSet
    val remaining = (0 until buckets).toSet -- done
    val target = onlyBuckets.map(_.intersect(remaining)).getOrElse(remaining)
    if (target.isEmpty) return Seq.empty

    // Filter only on a resume or `onlyBuckets` run. On a fresh write the
    // filter keeps every row, yet the optimizer still pushes it through a
    // union into each branch, where it splits shared subplans (the
    // distinct the mention and label branches share) into separately
    // executed copies.
    val bucketed = df.withColumn(bucketCol, bucketOf(col(keyCol), buckets))
    val inTarget = if (target.size == buckets) bucketed
      else bucketed.filter(col(bucketCol).isin(target.toSeq: _*))

    val order = target.toSeq.sorted
    // bit_xor: order-independent content checksum that cannot overflow
    // under ANSI mode (a long sum would throw). The row hash is a column,
    // computed once per row rather than once per target bucket.
    val rowHash = "_graft_row_hash"
    val stats = order.flatMap { b =>
      val in = col(bucketCol) === b
      Seq(count_if(in).as(s"rows_$b"), coalesce(bit_xor(when(in,
        col(rowHash))), lit(0L)).as(s"checksum_$b"))
    }
    val observed = Observation()
    // Observed after the exchange, in the stage that writes. The sort
    // leads with the partition column, so it meets the writer's required
    // ordering: Spark adds no sort of its own (which would replace this
    // one) and every file is content-sorted.
    bucketPartitioned(spark, inTarget, keyCol, buckets)
      .withColumn(rowHash, xxhash64(contentCols.map(col): _*))
      .observe(observed, stats.head, stats.tail: _*).drop(rowHash)
      .sortWithinPartitions((bucketCol +: contentCols).map(col): _*)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol)
      .parquet(path)

    val stat = observed.get.view.mapValues(_.asInstanceOf[Long])
    val lineage = order.map(b =>
      BucketLineage(b, stat(s"rows_$b"), stat(s"checksum_$b")))
    appendManifest(path, lineage)
    lineage
  }

  /** Atomically (temp + rename) write a small sidecar text file next to a
    * table — the manifest and the curated sink's drop-lineage JSON. The
    * rename (FileContext with OVERWRITE) is atomic on HDFS and the local
    * FS. */
  private[graft] def writeSidecar(path: String, body: String): Unit = {
    val (f, p) = hfs(path)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(p.toUri, f.getConf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  private[graft] def readSidecar(path: String): Option[String] = {
    val (f, p) = hfs(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Read back a written triple table. */
  def readTriples(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S6: N-Triples text lines (RDF 1.1 N-Triples), globally sorted for
    * byte-stable golden diffs (SURVEY.md §5.1). */
  def toNTriples(triples: DataFrame): DataFrame =
    triples.select(
      concat(
        lit("<"), col("subj"), lit("> <"), col("pred"), lit("> "),
        when(col("obj_type") === "iri", concat(lit("<"), col("obj"), lit(">")))
          .otherwise(concat(lit("\""),
            regexp_replace(regexp_replace(col("obj"), "\\\\", "\\\\\\\\"),
              "\"", "\\\\\""), lit("\""))),
        lit(" .")).as("line"))
      .orderBy("line")

  /** The N-Triples SOURCE — exact inverse of [[toNTriples]], closing
    * the round-trip: parse(export(T)) ≡ T, spec- and oracle-asserted.
    * One anchored regex (in the Java∩RE2 subset, like the redaction
    * chain, so DuckDB's RE2 twin matches byte-for-byte) splits subject
    * / predicate / object term; the object term's leading `<` decides
    * iri vs literal, and literal unescaping inverts the export's
    * escape order (`\"`→`"` first, then `\\`→`\` — left-to-right
    * non-overlapping replace in both engines makes the two-pass
    * inverse exact because the export doubles every original
    * backslash). Non-matching lines are dropped, not thrown — a
    * malformed-line feed yields its well-formed subset, mirroring the
    * span-guard policy. Pure codegen'd expressions; at scale this is
    * a narrow map over a text scan. */
  def parseNTriples(lines: DataFrame): DataFrame = {
    val re = "^<([^>]+)> <([^>]+)> (.+) \\.$"
    lines.filter(col("line").rlike(re))
      .select(regexp_extract(col("line"), re, 1).as("subj"),
        regexp_extract(col("line"), re, 2).as("pred"),
        regexp_extract(col("line"), re, 3).as("raw"))
      .select(col("subj"), col("pred"),
        when(col("raw").startsWith("<"),
          expr("substring(raw, 2, length(raw) - 2)"))
          .otherwise(
            replace(replace(expr("substring(raw, 2, length(raw) - 2)"),
              lit("\\\""), lit("\"")), lit("\\\\"), lit("\\"))).as("obj"),
        when(col("raw").startsWith("<"), lit("iri"))
          .otherwise(lit("literal")).as("obj_type"))
  }
}
