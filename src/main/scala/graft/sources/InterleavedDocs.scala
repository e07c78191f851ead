package graft.sources

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, GazEntry, SameAsEdge, Spec}

/** Sources for the engine's primary input: the interleaved text+media
  * document table (BASELINE.json:15):
  *
  * {{{ doc_id: string, spans: array<struct<kind,text,media_ref,offset>> }}}
  *
  * Two constructions, both deterministic (no rand(), no wall-clock —
  * SURVEY.md §5/FIXTURES.md):
  *
  *  1. [[fromDocuments]] — a pure SQL-expressible function of the
  *     driver-shipped `documents` parquet; mirrored 1:1 by
  *     [[graft.model.OracleCte.spansCte]] so the DuckDB oracle can verify
  *     every pipeline stage (SURVEY.md §3.2).
  *  2. [[synthesize]] — a `spark.range`-based generator for arbitrary doc
  *     counts (bench scale), hash-derived, with a head-entity skew knob
  *     (exercises salting, BASELINE.json:6).
  */
object InterleavedDocs {

  /** The fixed explicit input schema (never inferred — SURVEY.md §1.1). */
  val docSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType, nullable = false),
        StructField("text", StringType, nullable = true),
        StructField("media_ref", StringType, nullable = true),
        StructField("offset", IntegerType, nullable = false))),
        containsNull = false), nullable = false)))
  }

  /** The 31-word vocabulary observed in the testdata documents
    * (FIXTURES.md §1); used by [[synthesize]]. */
  val Vocabulary: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private def nullStr: Column = lit(null).cast("string")

  private def spanStruct(kind: Column, text: Column, mediaRef: Column,
      offset: Column): Column =
    struct(kind.as("kind"), text.as("text"), mediaRef.as("media_ref"),
      offset.cast("int").as("offset"))

  /** Deterministic interleaved-docs table derived from the driver-shipped
    * `documents` parquet at `sfDir`. Every arithmetic step here has an
    * exact DuckDB twin in [[graft.model.OracleCte.spansCte]] — change both
    * together. Layout per doc: [text t1] [media? if doc_id%5!=0] [text t2],
    * split point k = 1 + doc_id % max(nw-1, 1). */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[Doc] = {
    import spark.implicits._
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val words = split(col("text"), " ")
    val nw = size(words)
    val k = (lit(1) + pmod(col("doc_id"), greatest(nw - 1, lit(1)).cast("bigint")))
      .cast("int")
    val t1 = array_join(slice(words, lit(1), k), " ")
    val t2 = array_join(slice(words, k + 1, nw - k), " ")
    val mref = concat(lit("m/"),
      ((col("doc_id") * lit(2654435761L)) % lit(16777213L)).cast("string"))
    val hasMedia = col("doc_id") % 5 =!= 0
    val did = format_string("d%08d", col("doc_id"))

    val s0 = spanStruct(lit("text"), t1, nullStr, lit(0))
    val sMedia = spanStruct(lit("media"), nullStr, mref, length(t1) + 1)
    val s2m = spanStruct(lit("text"), t2, nullStr, length(t1) + 2)
    val s2 = spanStruct(lit("text"), t2, nullStr, length(t1) + 1)

    d.select(
        did.as("doc_id"),
        when(hasMedia, array(s0, sMedia, s2m)).otherwise(array(s0, s2))
          .as("spans"))
      .as[Doc]
  }

  /** Seeded hash-derived generator at arbitrary scale (bench input,
    * FIXTURES.md §1 "docs-l"). `skewPct` percent of docs get a hot head
    * entity ("customer") repeated in their first span — the head-entity
    * skew the spec's salting targets (BASELINE.json:6).
    * Not oracle-checked (covered by the sequential-oracle ScalaTest
    * instead); deterministic via xxhash64, so reruns are identical. */
  def synthesize(spark: SparkSession, nDocs: Long, seed: Long = 42L,
      skewPct: Int = 2, hotRepeats: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    val vocab = array(Vocabulary.map(lit): _*)
    val id = col("id")
    def h(j: Column): Column = xxhash64(lit(seed), id, j)
    // 12..43 words in span 1, 6..21 in span 2 — all index-hash-derived
    def wordsOf(tag: Int, n: Column): Column = array_join(
      transform(sequence(lit(0), n - 1),
        j => element_at(vocab,
          (pmod(xxhash64(lit(seed), id, lit(tag), j), lit(31L)) + 1).cast("int"))),
      " ")
    val n1 = (pmod(h(lit(1L)), lit(32L)) + 12).cast("int")
    val n2 = (pmod(h(lit(2L)), lit(16L)) + 6).cast("int")
    val hot = pmod(h(lit(3L)), lit(100L)) < skewPct
    val hotSuffix = concat(lit(" "),
      array_join(transform(sequence(lit(1), lit(hotRepeats)),
        _ => lit("customer")), " "))
    val t1 = when(hot, concat(wordsOf(1, n1), hotSuffix)).otherwise(wordsOf(1, n1))
    val t2 = wordsOf(2, n2)
    val mref = concat(lit("m/"), lower(hex(pmod(h(lit(4L)), lit(4294967291L)))))
    val hasMedia = pmod(h(lit(5L)), lit(5L)) =!= 0
    val did = format_string("d%012d", id)

    val s0 = spanStruct(lit("text"), t1, nullStr, lit(0))
    val sMedia = spanStruct(lit("media"), nullStr, mref, length(t1) + 1)
    val s2m = spanStruct(lit("text"), t2, nullStr, length(t1) + 2)
    val s2 = spanStruct(lit("text"), t2, nullStr, length(t1) + 1)

    spark.range(nDocs)
      .select(did.as("doc_id"),
        when(hasMedia, array(s0, sMedia, s2m)).otherwise(array(s0, s2))
          .as("spans"))
      .as[Doc]
  }

  /** Gazetteer fixture as a Dataset (FIXTURES.md §2; small → broadcast). */
  def gazetteer(spark: SparkSession): Dataset[GazEntry] = {
    import spark.implicits._
    spark.createDataset(Spec.Gazetteer)
  }

  /** SameAs fixture as a Dataset (FIXTURES.md §3). */
  def sameAs(spark: SparkSession): Dataset[SameAsEdge] = {
    import spark.implicits._
    spark.createDataset(Spec.SameAs)
  }

  /** Read an interleaved docs table previously written as parquet, with the
    * explicit frozen schema (S1, SURVEY.md §2.1). */
  def readDocs(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.schema(docSchema).parquet(path).as[Doc]
  }
}
