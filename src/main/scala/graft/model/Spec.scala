package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Frozen spec constants (FIXTURES.md §2–§5, SURVEY.md §0.2).
  *
  * Everything here is the single source of truth for BOTH the Spark
  * implementation and the DuckDB oracle SQL (generated in [[OracleCte]]),
  * so the two can never drift (SURVEY.md §7 "hard parts").
  */
object Spec {

  /** Salt for canonical URI minting (FIXTURES.md §4). */
  val Salt = "graft-v1"

  /** Predicate map: link kind → predicate IRI (BASELINE.json:6
    * "predicate mapping"; FIXTURES.md §4). */
  val PredTextMention = "ex:mentions"
  val PredMedia = "ex:hasMedia"
  val PredLabel = "ex:label"
  val PredicateMap: Map[String, String] = Map(
    "text_mention" -> PredTextMention,
    "media" -> PredMedia,
    "label" -> PredLabel)

  /** Link-score formula (FIXTURES.md §4): prior + 0.1 * surface char length. */
  val ScorePerChar = 0.1
  val ScoreThreshold = 0.0
  def scoreOf(prior: Double, surface: String): Double =
    prior + ScorePerChar * surface.length

  /** Number of subject-hash buckets in the triple sink (SURVEY.md S5). */
  val DefaultSubjectBuckets = 16

  /** Stop-shingle pruning threshold used by the dedup query surface
    * (shingles in more docs than this are dropped before the inverted-
    * index/band joins). Frozen here because the DuckDB oracles must prune
    * identically. 20 is a no-op on sf0.01 (max df 7) and drops real
    * boilerplate shingles at sf0.1 (59 shingles with df > 20) — at corpus
    * scale this is the knob that bounds the candidate join. */
  val DedupMaxDocFreq = 20L

  // ----- Curation operating point -----------------------------------------
  // The one setting of graft.operators.Curation, read by the Spark chain
  // and interpolated into its DuckDB twin (OracleSql.curateSql).

  /** Language a kept doc must be identified as. */
  val CurateKeepLang = "en"
  /** Minimum TextAnalysis quality score of a kept doc. */
  val CurateMinQuality = 0.7
  /** Lexical near-dup edges: word n-gram shingles, MinHash signature
    * length, LSH bands (must divide the signature), and the estimated
    * Jaccard a candidate pair must reach. */
  val CurateShingleN = 3
  val CurateNumHashes = 64
  val CurateBands = 16
  val CurateMinEstJaccard = 0.5

  /** Semantic-curation near-dup cosine threshold of the verified
    * curate_docs_semantic query surface — frozen here because the DuckDB
    * oracle must rebuild the sign-LSH edge family at the identical
    * operating point (threshold AND the in-regime plane/table config
    * derived from it via Similarity.lshConfigFor). */
  val CurateSemanticMinCos = 0.4
  /** Width of the sf-dir `embeddings.embedding` vectors. */
  val CurateEmbDim = 64

  // ----- URI minting (FIXTURES.md §4) ------------------------------------
  // ex:doc/<doc_id> ; ex:ent/<hex16(sha256(salt||canonical_entity_id))> ;
  // ex:media/<media_ref>. hex16 = first 16 lowercase hex chars.

  def docUri(docId: String): String = s"ex:doc/$docId"
  def mediaUri(mediaRef: String): String = s"ex:media/$mediaRef"
  def entUri(canonicalId: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest((Salt + canonicalId).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"ex:ent/${hex.substring(0, 16)}"
  }

  /** Column versions (identical semantics; sha2 == DuckDB sha256, both
    * lowercase hex). */
  def docUriCol(docId: Column): Column = concat(lit("ex:doc/"), docId)
  def mediaUriCol(mediaRef: Column): Column = concat(lit("ex:media/"), mediaRef)
  def entUriCol(canonicalId: Column): Column =
    concat(lit("ex:ent/"), substring(sha2(concat(lit(Salt), canonicalId), 256), 1, 16))

  // ----- Gazetteer fixture (FIXTURES.md §2) -------------------------------
  // Surfaces over the 31-word testdata vocabulary; lowercase; multi-token
  // entries exercise Aho–Corasick + longest-match; alias pairs
  // (order/orders, stream/streaming would-be) are resolved by sameAs edges.
  // Bigram entries are chosen so no bigram's second word is another
  // bigram's first word (keeps overlap resolution well-defined without
  // iterative SQL in the oracle — SURVEY.md §5.1).

  val Gazetteer: Seq[GazEntry] = Seq(
    GazEntry("customer", "E_customer", 0.90),
    GazEntry("supplier", "E_supplier", 0.88),
    GazEntry("order", "E_order1", 0.80),
    GazEntry("orders", "E_order2", 0.80),
    GazEntry("part", "E_part", 0.70),
    GazEntry("spark", "E_spark", 0.95),
    GazEntry("stream", "E_stream", 0.60),
    GazEntry("batch", "E_batch", 0.60),
    GazEntry("table", "E_table", 0.50),
    GazEntry("query", "E_query", 0.55),
    GazEntry("join", "E_join", 0.40),
    GazEntry("hash", "E_hash", 0.40),
    GazEntry("sort", "E_sort", 0.40),
    GazEntry("merge", "E_merge", 0.40),
    GazEntry("scan", "E_scan", 0.45),
    GazEntry("filter", "E_filter", 0.45),
    GazEntry("window", "E_window", 0.45),
    GazEntry("column", "E_column", 0.45),
    GazEntry("vector", "E_vector", 0.45),
    GazEntry("row", "E_row", 0.30),
    // ambiguity: one surface, two candidate entities (top-1 must pick by
    // score desc then entity_id asc ⇒ E_data_a wins on the tie-break)
    GazEntry("data", "E_data_a", 0.50),
    GazEntry("data", "E_data_b", 0.50),
    // multi-token (bigram) entries — longest match beats the single tokens
    GazEntry("sort merge", "E_sortmerge", 0.85),
    GazEntry("hash join", "E_hashjoin", 0.85),
    GazEntry("big data", "E_bigdata", 0.75))

  // ----- SameAs fixture (FIXTURES.md §3) ----------------------------------
  // A chain (order1→order2), a 3-cycle, and a star — covers transitivity,
  // cycles and multi-hop for the connected-components tests.

  val SameAs: Seq[SameAsEdge] = Seq(
    SameAsEdge("E_order1", "E_order2"),
    SameAsEdge("E_sort", "E_sortmerge"),
    SameAsEdge("E_sortmerge", "E_merge"),
    SameAsEdge("E_merge", "E_sort"), // cycle closer
    SameAsEdge("E_hashjoin", "E_hash"),
    SameAsEdge("E_hashjoin", "E_join"),
    SameAsEdge("E_data_a", "E_data_b"))
}

/** DuckDB-side rendering of the frozen fixtures + the deterministic
  * interleaved-docs construction, as SQL CTE fragments. Generated from the
  * very same constants the Spark side uses, so Spark query and DuckDB
  * oracle cannot drift. The driver's DuckDB sees only the parquet tables in
  * the sf dir, so fixtures are inlined as VALUES (SURVEY.md §3.2).
  */
object OracleCte {

  /** `gazetteer(surface, entity_id, prior)` VALUES CTE body. */
  def gazetteerCte: String =
    Spec.Gazetteer
      // CAST: a bare 0.9 literal is DECIMAL in DuckDB; score arithmetic
      // must be double to match Spark bit-for-bit
      .map(g => s"('${g.surface}', '${g.entity_id}', CAST(${g.prior} AS DOUBLE))")
      .mkString(
        "gazetteer(surface, entity_id, prior) AS (SELECT * FROM (VALUES ",
        ", ",
        "))")

  /** `same_as(src_entity, dst_entity)` VALUES CTE body. */
  def sameAsCte: String =
    Spec.SameAs
      .map(e => s"('${e.src_entity}', '${e.dst_entity}')")
      .mkString(
        "same_as(src_entity, dst_entity) AS (SELECT * FROM (VALUES ",
        ", ",
        "))")

  /** Exploded interleaved spans, one row per span:
    * `spans(did, pos, kind, text, media_ref, off)`.
    * Mirrors [[graft.sources.InterleavedDocs.fromDocuments]] exactly —
    * both are pure deterministic functions of the driver-shipped
    * `documents` parquet (no rand(), no wall-clock). */
  def spansCte: String =
    """doc_parts AS (
      |  SELECT printf('d%08d', doc_id) AS did, doc_id,
      |         string_split(text, ' ') AS words,
      |         len(string_split(text, ' ')) AS nw,
      |         1 + (doc_id % greatest(len(string_split(text, ' ')) - 1, 1)) AS k
      |  FROM documents
      |), doc_texts AS (
      |  SELECT did, doc_id, nw, k,
      |         array_to_string(list_slice(words, 1, k), ' ') AS t1,
      |         array_to_string(list_slice(words, k + 1, nw), ' ') AS t2,
      |         'm/' || CAST((doc_id * 2654435761) % 16777213 AS VARCHAR) AS mref,
      |         (doc_id % 5) <> 0 AS has_media
      |  FROM doc_parts
      |), spans AS (
      |  SELECT did, CAST(0 AS BIGINT) AS pos, 'text' AS kind, t1 AS text,
      |         CAST(NULL AS VARCHAR) AS media_ref, CAST(0 AS BIGINT) AS off
      |  FROM doc_texts
      |  UNION ALL
      |  SELECT did, 1, 'media', NULL, mref, length(t1) + 1
      |  FROM doc_texts WHERE has_media
      |  UNION ALL
      |  SELECT did, CASE WHEN has_media THEN 2 ELSE 1 END, 'text', t2, NULL,
      |         length(t1) + CASE WHEN has_media THEN 2 ELSE 1 END
      |  FROM doc_texts
      |)""".stripMargin

  /** Convenience: WITH-prefix combining the given fragments. */
  def withClause(fragments: String*): String =
    fragments.mkString("WITH ", ", ", " ")
}
