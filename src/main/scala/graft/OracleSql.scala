package graft

import graft.model.{OracleCte, Spec}
import graft.operators.Redaction

/** DuckDB oracle SQL for the non-trivial pipeline stages.
  *
  * These mirror the Spark operators 1:1 over the same deterministic
  * constructions ([[graft.model.OracleCte]]); fixtures are inlined VALUES
  * generated from [[graft.model.Spec]], so spec changes can't leave the
  * oracle behind (SURVEY.md §7 "hard parts").
  *
  * Equivalence note for overlap resolution: the gazetteer is frozen such
  * that no bigram's second word is another bigram's first word, so bigram
  * matches never overlap each other; token-aligned matches only overlap
  * when they share a token, and a bigram is always strictly longer (in
  * chars) than its component tokens. The greedy longest-then-leftmost
  * resolution therefore reduces to: keep every bigram match, keep a
  * single-token match iff it is not covered by a bigram match — which is
  * what the NOT EXISTS below computes.
  */
object OracleSql {

  /** Tokens of text spans with char offsets (parallel unnest zips the token
    * list with its positions; begin = window sum of preceding token lengths
    * + separators — exact because span text joins tokens with single
    * spaces). */
  private val tokensCte: String =
    """tokens0 AS (
      |  SELECT did, pos AS span_pos,
      |         unnest(string_split(text, ' ')) AS tok,
      |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS tokpos
      |  FROM spans WHERE kind = 'text' AND text IS NOT NULL AND text <> ''
      |), toks AS (
      |  SELECT did, span_pos, tok, tokpos,
      |         CAST(coalesce(sum(length(tok) + 1) OVER (
      |           PARTITION BY did, span_pos ORDER BY tokpos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS beg
      |  FROM tokens0 WHERE tok <> ''
      |)""".stripMargin

  /** Kept candidate links after AC matching + overlap resolution:
    * kept(did, span_pos, beg, en, surface, entity_id, prior). */
  private val keptCte: String =
    """m1 AS (
      |  SELECT t.did, t.span_pos, t.beg, t.beg + length(t.tok) AS en,
      |         g.surface, g.entity_id, g.prior
      |  FROM toks t JOIN gazetteer g
      |    ON t.tok = g.surface AND g.surface NOT LIKE '% %'
      |), bigrams AS (
      |  SELECT did, span_pos, beg,
      |         tok || ' ' || lead(tok) OVER w AS s2,
      |         beg + length(tok) + 1 + length(lead(tok) OVER w) AS en
      |  FROM toks
      |  WINDOW w AS (PARTITION BY did, span_pos ORDER BY tokpos)
      |), m2 AS (
      |  SELECT b.did, b.span_pos, b.beg, b.en, g.surface, g.entity_id, g.prior
      |  FROM bigrams b JOIN gazetteer g ON b.s2 = g.surface
      |), kept AS (
      |  SELECT * FROM m2
      |  UNION ALL
      |  SELECT m1.* FROM m1 WHERE NOT EXISTS (
      |    SELECT 1 FROM m2
      |    WHERE m2.did = m1.did AND m2.span_pos = m1.span_pos
      |      AND m1.beg < m2.en AND m2.beg < m1.en)
      |)""".stripMargin

  /** Top-1 link per mention, frozen tie-break (score desc, entity_id asc). */
  private val top1Cte: String =
    """top1 AS (
      |  SELECT did, span_pos, beg, en, surface, entity_id, prior
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY did, span_pos, beg
      |          ORDER BY (prior + 0.1 * length(surface)) DESC, entity_id ASC)
      |          AS rn
      |        FROM kept)
      |  WHERE rn = 1
      |)""".stripMargin

  /** Connected components of the sameAs fixture via recursive closure +
    * min; small fixture graph, so the quadratic closure is fine for the
    * oracle (the Spark side uses large-star/small-star). */
  private val canonCte: String =
    """edges AS (
      |  SELECT src_entity AS a, dst_entity AS b FROM same_as
      |  UNION
      |  SELECT dst_entity, src_entity FROM same_as
      |), reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), canon AS (
      |  SELECT a AS entity_id, min(b) AS canonical FROM reach GROUP BY a
      |)""".stripMargin

  private def entUri(expr: String): String =
    s"'ex:ent/' || substr(sha256('graft-v1' || $expr), 1, 16)"

  val gazetteerMatch: String =
    OracleCte.withClause(OracleCte.spansCte, OracleCte.gazetteerCte,
      tokensCte, keptCte) +
      "SELECT did, surface, entity_id, count(*) AS n FROM kept " +
      "GROUP BY did, surface, entity_id"

  val top1Link: String =
    OracleCte.withClause(OracleCte.spansCte, OracleCte.gazetteerCte,
      tokensCte, keptCte, top1Cte) +
      """SELECT did, span_pos, beg AS "begin", en AS "end", surface,
        | entity_id, round(prior + 0.1 * length(surface), 6) AS score
        | FROM top1""".stripMargin.replace("\n", "")

  val canonUri: String =
    OracleCte.withClause(OracleCte.spansCte, OracleCte.gazetteerCte,
      tokensCte, keptCte) +
      s"SELECT DISTINCT entity_id, ${entUri("entity_id")} AS uri FROM kept"

  val ccComponents: String =
    "WITH RECURSIVE " + OracleCte.sameAsCte + ", " + canonCte +
      " SELECT entity_id, canonical FROM canon"

  // ----- training-data curation oracles ---------------------------------

  /** Word-n-gram shingle sets per doc (mirrors Dedup.shingles, including
    * the len(w) >= n short-doc guard), plus the stop-shingle pruning
    * mirror: `shp` keeps only shingles whose doc frequency is ≤
    * Spec.DedupMaxDocFreq, exactly like the Spark side's freq join. */
  private def prunedShinglesCtes(n: Int): Seq[String] = Seq(
    s"""sh AS (
      |  SELECT DISTINCT doc_id AS id,
      |    unnest(list_transform(range(1, len(w) - ${n - 2}),
      |      i -> array_to_string(list_slice(w, i, i + ${n - 1}), ' '))) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $n
      |)""".stripMargin,
    s"""shf AS (SELECT shingle FROM sh GROUP BY shingle
       | HAVING count(*) <= ${Spec.DedupMaxDocFreq})""".stripMargin
      .replace("\n", ""),
    "shp AS (SELECT sh.id, sh.shingle FROM sh JOIN shf USING (shingle))")

  /** Prefix-filter twin ([[graft.operators.Dedup.jaccardPrefixPairs]],
    * θ=80%): DuckDB runs the FULL inverted-index join with the same
    * integer threshold/score — an independent algorithm with NO prefix
    * filter — so the hash match proves the Spark side's prefix pruning
    * lossless. */
  val jaccardPrefix: String =
    OracleCte.withClause(prunedShinglesCtes(3) ++ Seq(
      "psz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz " +
        "FROM shp GROUP BY id)",
      "pint AS (SELECT x.id AS a, y.id AS b, CAST(count(*) AS BIGINT) " +
        "AS i FROM shp x JOIN shp y ON x.shingle = y.shingle " +
        "AND x.id < y.id GROUP BY 1, 2)"): _*) +
      "SELECT a, b, i AS inter, sa.sz + sb.sz - i AS union_sz, " +
      "(i * 1000000) // (sa.sz + sb.sz - i) AS jacc_1e6 " +
      "FROM pint JOIN psz sa ON sa.id = a JOIN psz sb ON sb.id = b " +
      "WHERE 100 * i >= 80 * (sa.sz + sb.sz - i)"

  val ngramJaccard: String =
    OracleCte.withClause(prunedShinglesCtes(3) ++ Seq(
      "sizes AS (SELECT id, count(*) AS sz FROM shp GROUP BY id)",
      """inter AS (
        |  SELECT x.id AS a, y.id AS b, count(*) AS i
        |  FROM shp x JOIN shp y ON x.shingle = y.shingle AND x.id < y.id
        |  GROUP BY 1, 2
        |)""".stripMargin): _*) +
      """SELECT a, b,
        | round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
        | FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
        | WHERE round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.8"""
        .stripMargin.replace("\n", "")

  /** MinHash + LSH banding oracle: the exact twin of
    * Dedup.minHashLshPairs at the Spec.Curate* MinHash operating point
    * (shingle n, hashes, bands, min estimated Jaccard) with
    * maxDocFreq=Spec.DedupMaxDocFreq, portable=true. Slot hash =
    * first 15 hex chars of md5("<j>:<shingle>") parsed base-16 (60 bits,
    * overflow-safe in both engines); band key = '_'-joined slot values;
    * est_jaccard = equal-slot fraction (Spark counts with the codegen'd
    * LongSlotEq; count/numHashes is exact in binary for a power-of-two
    * numHashes, so round(…,6) agrees). */
  val minHashLsh: String = {
    val numHashes = Spec.CurateNumHashes; val bands = Spec.CurateBands
    val rows = numHashes / bands
    val slots = (0 until numHashes).map(j =>
      s"min(('0x' || substr(md5('$j:' || shingle), 1, 15))::BIGINT) AS h$j")
      .mkString(", ")
    val sigList = (0 until numHashes).map(j => s"h$j").mkString("[", ", ", "]")
    OracleCte.withClause(prunedShinglesCtes(Spec.CurateShingleN) ++ Seq(
      s"""sig AS (SELECT id, $sigList AS sig FROM
         | (SELECT id, $slots FROM shp GROUP BY id))""".stripMargin
        .replace("\n", ""),
      s"""banded AS (
         |  SELECT id, b.band,
         |    array_to_string(list_slice(sig, b.band * $rows + 1,
         |      b.band * $rows + $rows), '_') AS bandkey
         |  FROM sig, (SELECT unnest(range(0, $bands)) AS band) b
         |)""".stripMargin,
      """cand AS (
        |  SELECT DISTINCT x.id AS a, y.id AS b FROM banded x JOIN banded y
        |  ON x.band = y.band AND x.bandkey = y.bandkey AND x.id < y.id
        |)""".stripMargin): _*) +
      s"""SELECT a, b, est_jaccard FROM (
         | SELECT c.a, c.b,
         |   round(CAST(len(list_filter(range(1, ${numHashes + 1}),
         |     i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes, 6)
         |     AS est_jaccard
         | FROM cand c JOIN sig sa ON sa.id = c.a JOIN sig sb ON sb.id = c.b)
         | WHERE est_jaccard >= ${Spec.CurateMinEstJaccard}""".stripMargin
        .replace("\n", "")
  }

  /** SimHash near-dup oracle: brute-force all-pairs Hamming ≤ 3 over the
    * portable md5-bit SimHash (Dedup.PortableMd5Hasher twin). Spark's
    * block-pair banding finds exactly this set (pigeonhole recall proof in
    * Dedup.simHashPairs scaladoc), so brute force over the small oracle
    * corpus is semantically identical. Bit b of a token hash = bit (b mod
    * 4) of md5 hex digit b/4; per-doc bit = sign of the ±1 sum. */
  val simHashPairs: String = {
    val maxHamming = 3
    val bitCols = (0 until 64).map { b =>
      val digit = s"(strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)"
      s"CASE WHEN sum(CASE WHEN (($digit >> ${b % 4}) & 1) = 1" +
        " THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")
    OracleCte.withClause(
      """toks AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |)""".stripMargin,
      "th AS (SELECT id, md5(tok) AS h FROM toks WHERE tok <> '')",
      s"bits AS (SELECT id, $bitCols AS bv FROM th GROUP BY id)") +
      s"""SELECT a, b, hamming FROM (
         | SELECT x.id AS a, y.id AS b,
         |   CAST(len(list_filter(range(1, 65),
         |     i -> substr(x.bv, i, 1) <> substr(y.bv, i, 1))) AS BIGINT)
         |     AS hamming
         | FROM bits x JOIN bits y ON x.id < y.id)
         | WHERE hamming <= $maxHamming""".stripMargin.replace("\n", "")
  }

  /** Stub-codec decode oracle: Multimodal.synthesizeAssets derives all
    * metadata deterministically from seed = JavaString.hashCode(media_ref)
    * & 0x7fffffff — reproduced here as the 31-fold over char codes mod
    * 2^32 (Java int wrap), low 31 bits. bytes_len = 12-byte header + 64
    * payload bytes. */
  val mediaDecode: String =
    OracleCte.withClause(OracleCte.spansCte,
      """assets AS (
        |  SELECT media_ref,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(media_ref, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 4294967296) % 2147483648 AS seed
        |  FROM (SELECT DISTINCT media_ref FROM spans WHERE kind = 'media')
        |)""".stripMargin) +
      """SELECT media_ref,
        | CASE WHEN seed % 3 = 0 THEN 'video' ELSE 'image' END AS media_type,
        | CAST(64 + seed % 960 AS BIGINT) AS width,
        | CAST(64 + (seed // 7) % 540 AS BIGINT) AS height,
        | CAST(CASE WHEN seed % 3 = 0 THEN 1 + seed % 30 ELSE 1 END AS BIGINT)
        |   AS n_frames,
        | CAST(76 AS BIGINT) AS bytes_len
        | FROM assets""".stripMargin.replace("\n", "")

  val textStats: String =
    """SELECT doc_id AS id,
      | len(string_split(text, ' ')) AS n_tokens,
      | len(list_distinct(string_split(text, ' '))) AS n_distinct,
      | length(text) AS n_chars,
      | round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |   / len(string_split(text, ' ')), 6) AS mean_tok_len
      | FROM documents""".stripMargin.replace("\n", "")

  /** quality fix-up is trunc(x*1e6)/1e6, NOT round — see the
    * TextAnalysis.qualityScore scaladoc (halfway-digit divergence). */
  val textQuality: String =
    """WITH q AS (
      |  SELECT doc_id AS id, len(string_split(text, ' ')) AS n,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('a', 'the', 'and', 'of', 'is'))) AS nstop,
      |    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS meanlen
      |  FROM documents)
      |SELECT id, n AS n_tokens,
      |  round(CAST(nstop AS DOUBLE) / n, 6) AS stopword_ratio,
      |  trunc((least(1.0, n / 50.0) * 0.4
      |    + (1.0 - CAST(nstop AS DOUBLE) / n) * 0.3
      |    + least(1.0, meanlen / 8.0) * 0.3) * 1000000.0) / 1000000.0
      |    AS quality
      |FROM q""".stripMargin.replace("\n", " ")

  /** Karp–Rabin fold; list_prepend(0) because DuckDB list_reduce seeds the
    * accumulator with the first element (Spark's aggregate takes an
    * explicit zero). BIGINT casts: DuckDB would otherwise multiply in
    * 32-bit and overflow. */
  val textFingerprint: String =
    """SELECT doc_id AS id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(text, ''),
      |       c -> CAST(ascii(c) AS BIGINT))),
      |   (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
      | FROM documents""".stripMargin.replace("\n", "")

  private val profilesCte: String =
    graft.operators.TextAnalysis.StopwordProfiles
      .map { case (l, w) => s"('$l', '$w')" }
      .mkString("profiles(lang, word) AS (SELECT * FROM (VALUES ", ", ", "))")

  val langId: String =
    OracleCte.withClause(profilesCte,
      """toks AS (
        |  SELECT doc_id AS id,
        |    unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents
        |), hits AS (
        |  SELECT id, lang, count(*) AS score FROM toks
        |  JOIN profiles ON tok = word GROUP BY id, lang
        |), best AS (
        |  SELECT id, lang, score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY id
        |      ORDER BY score DESC, lang ASC) AS rn FROM hits)
        |  WHERE rn = 1
        |)""".stripMargin) +
      """SELECT d.doc_id AS id,
        | CASE WHEN regexp_matches(d.text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |      ELSE coalesce(b.lang, 'und') END AS lang_id,
        | coalesce(b.score, 0) AS score
        | FROM documents d LEFT JOIN best b ON d.doc_id = b.id"""
        .stripMargin.replace("\n", "")

  /** Sequential-order double dot product — the exact twin of
    * Similarity.dot (zip_with + aggregate), bit-reproducible. */
  private def duckDot(x: String, y: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | list_transform(range(1, len($x) + 1),
       |   i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
       | (acc, v) -> acc + v)""".stripMargin.replace("\n", "")

  private val cosPairsCte: String =
    s"""pairs AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    ${duckDot("x.embedding", "y.embedding")} /
       |    (sqrt(${duckDot("x.embedding", "x.embedding")}) *
       |     sqrt(${duckDot("y.embedding", "y.embedding")})) AS cos
       |  FROM embeddings x, embeddings y WHERE x.vec_id <> y.vec_id
       |)""".stripMargin

  val embTopK: String =
    OracleCte.withClause(cosPairsCte) +
      """SELECT a AS vec_id, b AS neighbor_id, round(cos, 6) AS cos, rk FROM (
        | SELECT a, b, cos, row_number() OVER (PARTITION BY a
        |   ORDER BY cos DESC, b ASC) AS rk FROM pairs)
        | WHERE rk <= 5""".stripMargin.replace("\n", "")

  val embDupPairs: String =
    OracleCte.withClause(cosPairsCte) +
      """SELECT a, b, round(cos, 6) AS cos FROM pairs
        | WHERE a < b AND round(cos, 6) >= 0.4""".stripMargin.replace("\n", "")

  /** Portable sign-LSH ANN oracle: exact twin of Similarity.lshTopK(k=5,
    * dim=64, nPlanes=6, nTables=8, portable=true). The hyperplane matrix
    * is rebuilt in SQL from the same md5-60-bit derivation the Scala side
    * bakes into plan literals ((md5_60("graft-lsh:t:j:i") % 2e6)/1e6 − 1);
    * every dot product uses the same in-order list_reduce accumulation as
    * the codegen'd DoubleDot, so bucket sign bits, cosines, and ranks
    * agree bit-for-bit. */
  /** Shared CTE chain for the portable sign-LSH family: unit-prep, md5
    * hyperplane rebuild, bucket bits, co-bucketed candidate pairs
    * (`pairPred` picks <> for top-k vs < for dup pairs), cosine verify.
    * `probe1Bit` mirrors the Spark side's query-side 1-bit multi-probe: a
    * query probing its bucket plus every single-bit flip is exactly the
    * pair set with bucket Hamming distance ≤ 1 within a table, which the
    * oracle states directly as bit_count(xor(...)) <= 1. */
  private def lshCtes(nTables: Int, nPlanes: Int, dim: Int,
      pairPred: String, probe1Bit: Boolean = false,
      source: String = "embeddings"): Seq[String] = Seq(
    s"""v AS (SELECT vec_id AS id,
       | list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
       | FROM $source)""".stripMargin,
    s"n AS (SELECT id, vd, sqrt(${duckDot("vd", "vd")}) AS nrm FROM v)",
    s"""pl AS (
       |  SELECT t, j, list(v ORDER BY i) AS p FROM (
       |    SELECT t.t, j.j, i.i,
       |      (('0x' || substr(md5('graft-lsh:' || t.t || ':' || j.j ||
       |        ':' || i.i), 1, 15))::BIGINT % 2000000) / 1000000.0 - 1.0
       |        AS v
       |    FROM range(0, $nTables) t(t), range(0, $nPlanes) j(j),
       |         range(0, $dim) i(i))
       |  GROUP BY t, j)""".stripMargin,
    s"""bt AS (
       |  SELECT id, t, CAST(sum(CASE WHEN s >= 0
       |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (SELECT n.id, pl.t, pl.j, ${duckDot("n.vd", "pl.p")} AS s
       |        FROM n, pl)
       |  GROUP BY id, t)""".stripMargin,
    s"""cand AS (SELECT DISTINCT x.id AS a, y.id AS b
       | FROM bt x JOIN bt y
       |   ON x.t = y.t AND ${
            if (probe1Bit) "bit_count(xor(x.bucket, y.bucket)) <= 1"
            else "x.bucket = y.bucket"
          } AND x.id $pairPred y.id)"""
      .stripMargin,
    s"""cz AS (SELECT c.a, c.b,
       | ${duckDot("x.vd", "y.vd")} / (x.nrm * y.nrm) AS cos
       | FROM cand c JOIN n x ON x.id = c.a JOIN n y ON y.id = c.b)"""
      .stripMargin)

  val embLshTopK: String = {
    val k = 5
    OracleCte.withClause(
      lshCtes(nTables = 8, nPlanes = 6, dim = 64, pairPred = "<>",
        probe1Bit = true): _*) +
      s"""SELECT a AS vec_id, b AS neighbor_id, round(cos, 6) AS cos, rk
         | FROM (SELECT a, b, cos, row_number() OVER (PARTITION BY a
         |   ORDER BY cos DESC, b ASC) AS rk FROM cz)
         | WHERE rk <= $k""".stripMargin.replace("\n", "")
  }

  /** Portable sign-LSH near-dup oracle: twin of Similarity.lshDupPairs(
    * minCos=0.4, dim=64, nPlanes=6, nTables=8, portable=true). */
  val embLshDupPairs: String =
    OracleCte.withClause(
      lshCtes(nTables = 8, nPlanes = 6, dim = 64, pairPred = "<"): _*) +
      """SELECT a, b, round(cos, 6) AS cos FROM cz
        | WHERE round(cos, 6) >= 0.4""".stripMargin.replace("\n", "")

  /** Composite curation oracle: exact twin of Curation.curateDocs(
    * portable = true) at the operating point frozen in Spec (the
    * `Curate*` constants and DedupMaxDocFreq, interpolated below).
    * Replays the WHOLE chain in one recursive SQL: language-ID argmax,
    * quality score, exact dedup keep-min, MinHash-LSH candidate pairs
    * over the filtered survivors (shingle pruning df computed WITHIN the
    * survivor set, like the Spark side), and the near-dup connected
    * components via the same recursive-reachability pattern as the
    * cc_components oracle. */
  val curateDocs: String = curateSql(semantic = false)

  /** Semantic-dedup variant: exact twin of Curation.curateDocs(
    * portable = true, embeddings = Some(embeddings)) — the
    * lexical chain above plus sign-LSH embedding near-dup edges over the
    * SAME kept set ([[embLshDupPairs]] machinery restricted to kept ids),
    * both edge families feeding one recursive CC fixpoint. */
  val curateDocsSemantic: String = curateSql(semantic = true)

  /** Per-doc decision oracle: the same recursive chain as
    * [[curateDocsSemantic]] with a final CASE that labels every document
    * with its first failing gate (kept / drop_lang / drop_quality /
    * drop_exact / drop_lexical / drop_semantic) — the exact twin of
    * [[graft.operators.Curation.curationDecisions]] incl. the
    * lexical-before-semantic loser attribution (a loser touching any
    * MinHash edge is lexical). */
  val curateDecisions: String = curateSql(semantic = true, decisions = true)

  /** Near-dup cluster size histogram — twin of
    * [[graft.operators.Curation.dupClusterSizes]] (portable config; it
    * takes no embeddings, so semantic = false). */
  val curateClusterHist: String = curateSql(semantic = false, clusters = true)

  private def curateSql(semantic: Boolean,
      decisions: Boolean = false,
      clusters: Boolean = false): String = {
    val numHashes = Spec.CurateNumHashes; val bands = Spec.CurateBands
    val rows = numHashes / bands; val n = Spec.CurateShingleN
    val lang = Spec.CurateKeepLang; val qualityFloor = Spec.CurateMinQuality
    val slots = (0 until numHashes).map(j =>
      s"min(('0x' || substr(md5('$j:' || shingle), 1, 15))::BIGINT) AS h$j")
      .mkString(", ")
    val sigList = (0 until numHashes).map(j => s"h$j").mkString("[", ", ", "]")
    // The CTE fragments below keep their line breaks in the emitted SQL,
    // so an interpolated constant must not re-wrap a fragment's lines.
    // semantic near-dup edges: the embLshDupPairs chain (portable md5
    // hyperplanes, exact cosine verify) over embeddings of KEPT docs;
    // defined between `pr` and `edges2` so edges2 can union both families.
    // The LSH shape is the IN-REGIME config for the frozen threshold —
    // derived from the same Similarity.lshConfigFor the Spark side
    // uses, so the two can never drift (the generic 6-plane config is
    // ≈0.41 recall at 0.4)
    val semanticCtes: Seq[String] =
      if (!semantic) Seq.empty
      else {
        val minCos = Spec.CurateSemanticMinCos
        val (semPlanes, semTables) =
          graft.operators.Similarity.lshConfigFor(minCos)
        lshCtes(nTables = semTables, nPlanes = semPlanes,
          dim = Spec.CurateEmbDim,
          pairPred = "<",
          source = "(SELECT vec_id, embedding FROM embeddings " +
            "JOIN kept ON kept.id = embeddings.vec_id)") :+
          s"spr AS (SELECT a, b FROM cz WHERE round(cos, 6) >= $minCos)"
      }
    "WITH RECURSIVE " + (Seq(
      profilesCte,
      """ltoks AS (SELECT doc_id AS id,
        |  unnest(string_split(lower(text), ' ')) AS tok FROM documents)"""
        .stripMargin,
      """lhits AS (SELECT id, lang, count(*) AS score FROM ltoks
        |  JOIN profiles ON tok = word GROUP BY id, lang)""".stripMargin,
      """lbest AS (SELECT id, lang FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY score DESC, lang ASC) AS rn FROM lhits) WHERE rn = 1)"""
        .stripMargin,
      """lng AS (SELECT d.doc_id AS id,
        |  CASE WHEN regexp_matches(d.text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       ELSE coalesce(b.lang, 'und') END AS lang_id
        |  FROM documents d LEFT JOIN lbest b ON d.doc_id = b.id)"""
        .stripMargin,
      """qual AS (SELECT id, n AS n_tokens,
        |  trunc((least(1.0, n / 50.0) * 0.4
        |    + (1.0 - CAST(nstop AS DOUBLE) / n) * 0.3
        |    + least(1.0, meanlen / 8.0) * 0.3) * 1000000.0) / 1000000.0
        |    AS quality
        |  FROM (SELECT doc_id AS id, len(string_split(text, ' ')) AS n,
        |    len(list_filter(string_split(text, ' '),
        |      t -> t IN ('a', 'the', 'and', 'of', 'is'))) AS nstop,
        |    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS meanlen
        |    FROM documents))""".stripMargin,
      s"""base AS (SELECT d.doc_id AS id, d.text, l.lang_id, q.quality,
         |  q.n_tokens
         |  FROM documents d JOIN lng l ON l.id = d.doc_id
         |  JOIN qual q ON q.id = d.doc_id
         |  WHERE l.lang_id = '$lang' AND q.quality >= $qualityFloor)"""
        .stripMargin,
      "ek AS (SELECT min(id) AS id FROM base GROUP BY md5(text))",
      "kept AS (SELECT b.* FROM base b JOIN ek ON ek.id = b.id)",
      s"""sh2 AS (SELECT DISTINCT id,
        |  unnest(list_transform(range(1, len(w) - ${n - 2}),
        |    i -> array_to_string(list_slice(w, i, i + ${n - 1}), ' '))) AS shingle
        |  FROM (SELECT id, string_split(text, ' ') AS w FROM kept)
        |  WHERE len(w) >= $n)""".stripMargin,
      s"""shf2 AS (SELECT shingle FROM sh2 GROUP BY shingle
         |  HAVING count(*) <= ${Spec.DedupMaxDocFreq})""".stripMargin,
      "shp2 AS (SELECT sh2.id, sh2.shingle FROM sh2 JOIN shf2 USING (shingle))",
      s"""sig2 AS (SELECT id, $sigList AS sig FROM
         |  (SELECT id, $slots FROM shp2 GROUP BY id))""".stripMargin,
      s"""banded2 AS (SELECT id, b.band,
         |  array_to_string(list_slice(sig, b.band * $rows + 1,
         |    b.band * $rows + $rows), '_') AS bandkey
         |  FROM sig2, (SELECT unnest(range(0, $bands)) AS band) b)"""
        .stripMargin,
      """cand2 AS (SELECT DISTINCT x.id AS a, y.id AS b FROM banded2 x
        |  JOIN banded2 y ON x.band = y.band AND x.bandkey = y.bandkey
        |  AND x.id < y.id)""".stripMargin,
      s"""pr AS (SELECT a, b FROM (
         |  SELECT c.a, c.b,
         |    CAST(len(list_filter(range(1, ${numHashes + 1}),
         |      i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes AS est
         |  FROM cand2 c JOIN sig2 sa ON sa.id = c.a
         |  JOIN sig2 sb ON sb.id = c.b)
         |  WHERE round(est, 6) >= ${Spec.CurateMinEstJaccard})"""
        .stripMargin) ++
      semanticCtes ++ Seq(
      "edges2 AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr" +
        (if (semantic) " UNION SELECT a, b FROM spr UNION SELECT b, a FROM spr"
         else "") + ")",
      """reach2(a, b) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges2)
        |  UNION
        |  SELECT r.a, e.b FROM reach2 r JOIN edges2 e ON r.b = e.a)"""
        .stripMargin,
      """canon2 AS (SELECT a AS id, min(b) AS canonical FROM reach2
        |  GROUP BY a)""".stripMargin,
      "losers AS (SELECT id FROM canon2 WHERE id <> canonical)") ++
      (if (decisions)
        // explicit DISTINCT: inside a WITH RECURSIVE chain DuckDB does
        // not reliably dedup a non-recursive CTE's top-level UNION
        // (observed: duplicate ids fanning out the final LEFT JOIN)
        Seq("lexids AS (SELECT DISTINCT id FROM (SELECT a AS id FROM pr " +
          "UNION ALL SELECT b AS id FROM pr))")
      else Seq.empty)
    ).mkString("", ", ", " ") + (
      if (clusters)
        // canon2 holds every near-dup edge endpoint exactly once, so the
        // per-canonical count IS the cluster size (all ≥ 2) — the twin of
        // [[graft.operators.Curation.dupClusterSizes]]'s comps frame
        """SELECT cluster_size, count(*) AS n_clusters FROM (
          |  SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
          |  FROM canon2 GROUP BY canonical) GROUP BY cluster_size"""
          .stripMargin.replace("\n", " ")
      else if (decisions)
        s"""SELECT d.doc_id, CASE
          |  WHEN l.lang_id <> '$lang' THEN 'drop_lang'
          |  WHEN q.quality < $qualityFloor THEN 'drop_quality'
          |  WHEN k.id IS NULL THEN 'drop_exact'
          |  WHEN lo.id IS NOT NULL AND lx.id IS NOT NULL THEN 'drop_lexical'
          |  WHEN lo.id IS NOT NULL THEN 'drop_semantic'
          |  ELSE 'kept' END AS status
          | FROM documents d
          | JOIN lng l ON l.id = d.doc_id
          | JOIN qual q ON q.id = d.doc_id
          | LEFT JOIN kept k ON k.id = d.doc_id
          | LEFT JOIN losers lo ON lo.id = d.doc_id
          | LEFT JOIN lexids lx ON lx.id = d.doc_id"""
          .stripMargin.replace("\n", "")
      else
        """SELECT k.id AS doc_id, k.lang_id, k.quality, k.n_tokens
          | FROM kept k LEFT JOIN losers lo ON lo.id = k.id
          | WHERE lo.id IS NULL""".stripMargin.replace("\n", ""))
  }

  /** Portable IVF ANN oracle: exact twin of Similarity.ivfTopK(k=5,
    * nCells=16, nProbe=4, lloydRounds=2, nAssign=3, portable=true). The
    * whole construction is replayed in SQL: md5-seeded uniform sample of
    * nCells unit vectors (smallest md5_60("ivf:"||id)), two deterministic
    * Lloyd rounds (per-cell means as exact BIGINT sums of 1e6-scaled
    * truncated components, renormalized with the same in-order fold),
    * argmax assignment with ties toward the larger cell index (mirroring
    * Spark's array_max over struct(s, cell)), nAssign-way multi-assignment
    * and nProbe probing by descending (score, cell), then the cosine
    * kernel and rank window. */
  val embIvfTopK: String = {
    val nCells = 16; val nProbe = 4; val nAssign = 3
    val rounds = 2; val k = 5; val dim = 64
    def dotUC(c: String) = duckDot("u.unit", s"$c.unit")
    val base = Seq(
      """v AS (SELECT vec_id AS id,
        | list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        | FROM embeddings)""".stripMargin,
      s"""u AS (SELECT id, list_transform(vd, x -> x / nrm) AS unit FROM
         | (SELECT id, vd, sqrt(${duckDot("vd", "vd")}) AS nrm FROM v))"""
        .stripMargin,
      s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, id) AS INTEGER)
         |   - 1 AS cell, unit
         | FROM (SELECT id, unit,
         |   ('0x' || substr(md5('ivf:' || id), 1, 15))::BIGINT AS h FROM u)
         | QUALIFY row_number() OVER (ORDER BY h, id) <= $nCells)"""
        .stripMargin)
    val lloyd = (1 to rounds).flatMap { r =>
      val prev = s"c${r - 1}"
      Seq(
        s"""a$r AS (SELECT id, cell FROM (
           |  SELECT id, cell, row_number() OVER (PARTITION BY id
           |    ORDER BY s DESC, cell DESC) AS rk
           |  FROM (SELECT u.id, c.cell, ${dotUC("c")} AS s
           |        FROM u, $prev c))
           |  WHERE rk = 1)""".stripMargin,
        s"""m$r AS (SELECT cell, pos, CAST(sum(q) AS BIGINT) AS sq,
           |   count(*) AS n
           | FROM (SELECT a.cell, i.i AS pos,
           |   CAST(trunc(u.unit[i.i + 1] * 1000000.0) AS BIGINT) AS q
           |   FROM a$r a JOIN u ON u.id = a.id, range(0, $dim) i(i))
           | GROUP BY cell, pos)""".stripMargin,
        s"""c$r AS (SELECT c.cell,
           |  CASE WHEN mm.nrm IS NULL OR mm.nrm = 0 THEN c.unit
           |       ELSE list_transform(mm.m, x -> x / mm.nrm) END AS unit
           |  FROM $prev c LEFT JOIN (
           |    SELECT cell, m, sqrt(list_reduce(
           |      list_prepend(CAST(0 AS DOUBLE),
           |        list_transform(m, x -> x * x)),
           |      (acc, v) -> acc + v)) AS nrm
           |    FROM (SELECT cell, list(CAST(sq AS DOUBLE) / (n * 1000000.0)
           |            ORDER BY pos) AS m
           |          FROM m$r GROUP BY cell)) mm ON mm.cell = c.cell)"""
          .stripMargin)
    }
    val fin = Seq(
      s"""sc AS (SELECT u.id, c.cell, ${dotUC("c")} AS s
         | FROM u, c$rounds c)""".stripMargin,
      """rkd AS (SELECT id, cell, row_number() OVER (PARTITION BY id
        |  ORDER BY s DESC, cell DESC) AS rk FROM sc)""".stripMargin,
      s"""cand AS (SELECT DISTINCT p.id AS a, q.id AS b
         | FROM (SELECT id, cell FROM rkd WHERE rk <= $nProbe) p
         | JOIN (SELECT id, cell FROM rkd WHERE rk <= $nAssign) q
         |   ON p.cell = q.cell AND p.id <> q.id)""".stripMargin,
      s"""cz AS (SELECT c.a, c.b, ${duckDot("x.unit", "y.unit")} AS cos
         | FROM cand c JOIN u x ON x.id = c.a JOIN u y ON y.id = c.b)"""
        .stripMargin)
    OracleCte.withClause((base ++ lloyd ++ fin): _*) +
      s"""SELECT a AS vec_id, b AS neighbor_id, round(cos, 6) AS cos, rk
         | FROM (SELECT a, b, cos, row_number() OVER (PARTITION BY a
         |   ORDER BY cos DESC, b ASC) AS rk FROM cz)
         | WHERE rk <= $k""".stripMargin.replace("\n", "")
  }

  private val triplesWith: String =
    "WITH RECURSIVE " + Seq(OracleCte.spansCte, OracleCte.gazetteerCte,
      OracleCte.sameAsCte, tokensCte, keptCte, top1Cte, canonCte,
      """linked AS (
        |  SELECT t.did, t.surface,
        |         coalesce(c.canonical, t.entity_id) AS eid
        |  FROM top1 t LEFT JOIN canon c ON t.entity_id = c.entity_id
        |)""".stripMargin).mkString(", ") + " "

  private val triplesBody: String =
    s"""SELECT 'ex:doc/' || did AS subj, 'ex:mentions' AS pred,
       |       ${entUri("eid")} AS obj, 'iri' AS obj_type
       |FROM linked
       |UNION
       |SELECT ${entUri("eid")}, 'ex:label', surface, 'literal'
       |FROM (SELECT DISTINCT eid, surface FROM linked)
       |UNION
       |SELECT 'ex:doc/' || did, 'ex:hasMedia', 'ex:media/' || media_ref,
       |       'iri'
       |FROM spans WHERE kind = 'media'""".stripMargin.replace("\n", " ")

  val triplesFinal: String = triplesWith + triplesBody

  /** S6 N-Triples text export over the final triple set. */
  private val ntriplesBody: String =
    """SELECT '<' || subj || '> <' || pred || '> ' ||
      | CASE WHEN obj_type = 'iri' THEN '<' || obj || '>'
      |      ELSE '"' || replace(replace(obj, '\', '\\'), '"', '\"') || '"'
      | END || ' .' AS line
      | FROM (""".stripMargin.replace("\n", "") + triplesBody + ")"

  val ntriplesExport: String = triplesWith + ntriplesBody

  /** N-Triples round-trip twin ([[graft.sources.TripleSink.parseNTriples]]):
    * parse the export CTE's own lines back to (subj, pred, obj,
    * obj_type) with the same anchored RE2∩Java regex and the same
    * two-pass literal unescape (`\"`→`"` then `\\`→`\`) — the result
    * must hash-equal [[triplesFinal]], which the spec asserts as
    * parse(export(T)) ≡ T. */
  val ntriplesRoundtrip: String = {
    val pat = """'^<([^>]+)> <([^>]+)> (.+) \.$'"""
    triplesWith +
      s"""SELECT regexp_extract(line, $pat, 1) AS subj,
         | regexp_extract(line, $pat, 2) AS pred,
         | CASE WHEN raw LIKE '<%' THEN substring(raw, 2, length(raw) - 2)
         |      ELSE replace(replace(substring(raw, 2, length(raw) - 2),
         |             '\"', '"'), '\\', '\') END AS obj,
         | CASE WHEN raw LIKE '<%' THEN 'iri' ELSE 'literal' END AS obj_type
         | FROM (SELECT line, regexp_extract(line, $pat, 3) AS raw
         |       FROM ($ntriplesBody) WHERE regexp_matches(line, $pat))"""
        .stripMargin.replace("\n", "")
  }

  /** KG report twins ([[graft.operators.GraphStats]]) over the same
    * pipeline CTE chain as [[triplesFinal]]. Validated at sf0.001 against
    * the Spark triple dump: 17 distinct degrees; the top-20 boundary
    * lands mid-tie at degree 18, so the subj ASC tie-break is load-
    * bearing on both sides; predicate totals sum to |triples|. */
  val kgDegreeHist: String = triplesWith +
    "SELECT degree, count(*) AS n_subjects FROM (SELECT subj, " +
    "CAST(count(*) AS BIGINT) AS degree FROM (" + triplesBody +
    ") GROUP BY subj) GROUP BY degree"

  val kgTopHubs: String = triplesWith +
    "SELECT subj, CAST(count(*) AS BIGINT) AS degree FROM (" + triplesBody +
    ") GROUP BY subj ORDER BY degree DESC, subj ASC LIMIT 20"

  val kgPredCounts: String = triplesWith +
    "SELECT pred, CAST(count(*) AS BIGINT) AS n_triples FROM (" +
    triplesBody + ") GROUP BY pred"

  /** Fixed-point PageRank twin ([[graft.operators.GraphStats.pageRank]],
    * 3 iterations, d=0.85, 1e6 micro-units): the power iteration is
    * UNROLLED into one CTE pair per step, and every step is exact
    * BIGINT arithmetic (DuckDB `//` ≡ Spark `div` on non-negative
    * operands) so the two engines agree bit-for-bit — no float
    * summation order to diverge on. Edges are the iri-object projection
    * of the same pipeline CTE chain; dangling mass is not redistributed
    * on either side. */
  private def pagerankCtes(iters: Int, dampPct: Int, unit: Long): String = {
    val base = unit - dampPct * unit / 100
    val fixed =
      s", predges AS (SELECT subj AS src, obj AS dst FROM ($triplesBody) " +
        "WHERE obj_type = 'iri')" +
        // NOT `a UNION b` at the top level of the CTE body: under WITH
        // RECURSIVE DuckDB parses a CTE-top-level UNION as the
        // recursive-union operator and SKIPS the distinct (verified:
        // same query under plain WITH dedups, under WITH RECURSIVE it
        // does not) — spell the dedup explicitly instead
        ", prnodes AS (SELECT DISTINCT node FROM (SELECT src AS node " +
        "FROM predges UNION ALL SELECT dst AS node FROM predges))" +
        ", proutdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS d " +
        "FROM predges GROUP BY src)" +
        s", pr0 AS (SELECT node, CAST($unit AS BIGINT) AS rank_micros " +
        "FROM prnodes)"
    val steps = (1 to iters).map { i =>
      s", prc$i AS (SELECT e.dst AS node, " +
        "CAST(sum(r.rank_micros // o.d) AS BIGINT) AS s " +
        s"FROM predges e JOIN pr${i - 1} r ON e.src = r.node " +
        "JOIN proutdeg o ON e.src = o.src GROUP BY e.dst)" +
        s", pr$i AS (SELECT n.node, CAST($base + " +
        s"($dampPct * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank_micros " +
        s"FROM prnodes n LEFT JOIN prc$i c ON n.node = c.node)"
    }.mkString
    fixed + steps
  }

  val kgPagerank: String = triplesWith + pagerankCtes(3, 85, 1000000L) +
    " SELECT node, rank_micros FROM pr3"

  val kgPagerankTop: String = triplesWith + pagerankCtes(3, 85, 1000000L) +
    " SELECT node, rank_micros FROM pr3 " +
    "ORDER BY rank_micros DESC, node ASC LIMIT 20"

  /** Key-skew twin ([[graft.operators.GraphStats.keySkewReport]] on the
    * triple subject key): log₂ bucket as binary-digit count − 1
    * (`bin(c)` ≡ Spark `conv(c,10,2)` — exact, no float log). */
  val kgSkewReport: String = triplesWith +
    "SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_cnt, " +
    "count(*)::BIGINT AS n_keys, min(c) AS min_cnt, max(c) AS max_cnt, " +
    "CAST(sum(c) AS BIGINT) AS sum_cnt FROM (SELECT subj, " +
    "CAST(count(*) AS BIGINT) AS c FROM (" + triplesBody +
    ") GROUP BY subj) GROUP BY 1"

  /** Entity co-occurrence twin ([[graft.operators.GraphStats
    * .cooccurrence]]): distinct (doc, entity) incidence from the
    * ex:mentions triples, self-joined on the doc key with ent_a <
    * ent_b, lift in exact 1e6 fixed point — all BIGINT, bit-identical
    * to the Spark side. */
  val kgCooccur: String = triplesWith +
    ", com AS (SELECT DISTINCT subj AS did, obj AS ent FROM (" +
    triplesBody + ") WHERE pred = 'ex:mentions')" +
    ", con AS (SELECT CAST(count(DISTINCT did) AS BIGINT) AS n FROM com)" +
    ", coca AS (SELECT ent, CAST(count(*) AS BIGINT) AS c " +
    "FROM com GROUP BY ent) " +
    "SELECT p.ent_a, p.ent_b, p.c_ab, x.c AS c_a, y.c AS c_b, " +
    "CAST((p.c_ab * con.n * 1000000) // (x.c * y.c) AS BIGINT) " +
    "AS lift_1e6 " +
    "FROM (SELECT a.ent AS ent_a, b.ent AS ent_b, " +
    "CAST(count(*) AS BIGINT) AS c_ab FROM com a JOIN com b " +
    "ON a.did = b.did AND a.ent < b.ent GROUP BY 1, 2) p " +
    "JOIN coca x ON p.ent_a = x.ent " +
    "JOIN coca y ON p.ent_b = y.ent CROSS JOIN con"

  /** Length-decile twin ([[graft.operators.TextAnalysis.lengthQuantiles]]):
    * DuckDB states the SAME quantile as one global row_number under the
    * total order (n_chars, doc_id) — the Spark side decomposes that rank
    * into per-length row_number + broadcast cumulative offsets, which is
    * algebraically identical, so the integer bucket formula matches
    * bit-for-bit. */
  val lengthDeciles: String =
    "SELECT qbucket, count(*)::BIGINT AS n_docs, min(n_chars) AS min_chars, " +
      "max(n_chars) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
      "FROM (SELECT n_chars, (10 * (row_number() OVER " +
      "(ORDER BY n_chars, doc_id) - 1)) " +
      "// (SELECT count(*) FROM documents) AS qbucket FROM documents) " +
      "GROUP BY qbucket"

  /** Bigram CTE for the repetition family: n-gram window i..i+n-1 via
    * list_slice, same construction as the shingles CTE (n there = 3).
    * Fractions use the 1e6 truncation fix-up shared with the Spark side
    * (round() halfway semantics diverge between the engines). */
  val textRepetition: String =
    """WITH g AS (
      |  SELECT doc_id AS id,
      |    unnest(list_transform(range(1, len(w)),
      |      i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS ngram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 2
      |), c AS (SELECT id, ngram, count(*) AS cnt FROM g GROUP BY 1, 2)
      |SELECT id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
      |  count(*) AS n_distinct,
      |  trunc((1.0 - CAST(count(*) AS DOUBLE) / sum(cnt)) * 1000000.0)
      |    / 1000000.0 AS dup_frac,
      |  trunc((CAST(max(cnt) AS DOUBLE) / sum(cnt)) * 1000000.0)
      |    / 1000000.0 AS top_frac
      |FROM c GROUP BY id""".stripMargin.replace("\n", " ")

  /** Decontamination twins ([[graft.operators.Decontam]]): corpus = docs
    * with doc_id % 97 <> 0, benchmark = the rest; trigram shingles; a hit
    * is a distinct shared shingle. */
  private val decontamCtes: Seq[String] = Seq(
    """dsh AS (
      |  SELECT doc_id AS id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |        WHERE doc_id % 97 <> 0)
      |  WHERE len(w) >= 3
      |)""".stripMargin.replace("\n", " "),
    """bsh AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS shingle
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents
      |        WHERE doc_id % 97 = 0)
      |  WHERE len(w) >= 3
      |)""".stripMargin.replace("\n", " "),
    """hits AS (
      |  SELECT id, count(DISTINCT dsh.shingle) AS n_hits
      |  FROM dsh JOIN bsh USING (shingle) GROUP BY id
      |)""".stripMargin.replace("\n", " "))

  val decontamHits: String =
    OracleCte.withClause(decontamCtes: _*) + "SELECT id, n_hits FROM hits"

  val decontamKeep: String =
    OracleCte.withClause(decontamCtes: _*) +
      """SELECT doc_id, lang FROM documents
        | WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT id FROM hits)"""
        .stripMargin.replace("\n", "")

  /** Planted-PII fixture twin of SparkEntry.plantedPii: the synthetic
    * corpus carries no PII, so both engines append the identical
    * deterministic email + IPv4 + phone suffix to every 10th doc. */
  private val plantedDocsCte: String =
    """pdocs AS (
      |  SELECT doc_id, lang,
      |    text || CASE WHEN doc_id % 10 = 0 THEN
      |      ' contact u' || doc_id || '@example.com or 10.0.0.' ||
      |      (doc_id % 256) || ' or 555-101-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE '' END AS text
      |  FROM documents
      |)""".stripMargin.replace("\n", " ")

  /** Redaction twins ([[graft.operators.Redaction]]): the same pattern
    * strings (Java-regex ∩ RE2 subset), same order, with DuckDB's 'g'
    * flag matching Spark's replace-all default. */
  val piiRedact: String =
    OracleCte.withClause(plantedDocsCte) +
      "SELECT doc_id AS id, regexp_replace(regexp_replace(regexp_replace(" +
      s"text, '${Redaction.EmailRe}', '[EMAIL]', 'g'), " +
      s"'${Redaction.Ipv4Re}', '[IP]', 'g'), " +
      s"'${Redaction.PhoneRe}', '[PHONE]', 'g') AS text_redacted FROM pdocs"

  val piiCounts: String =
    OracleCte.withClause(plantedDocsCte) +
      "SELECT doc_id AS id, " +
      s"CAST(len(regexp_extract_all(text, '${Redaction.EmailRe}')) AS BIGINT) AS n_email, " +
      s"CAST(len(regexp_extract_all(text, '${Redaction.Ipv4Re}')) AS BIGINT) AS n_ip, " +
      s"CAST(len(regexp_extract_all(text, '${Redaction.PhoneRe}')) AS BIGINT) AS n_phone " +
      "FROM pdocs"

  /** Corpus report twin ([[graft.operators.TextAnalysis.corpusStats]]):
    * mean via exact BIGINT floor division (Spark `div` == DuckDB `//`),
    * never averaged doubles. */
  val corpusStats: String =
    "SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
      "CAST((CAST(sum(len(string_split(text, ' '))) AS BIGINT) * 1000000) " +
      "// count(*) AS DOUBLE) / 1000000.0 AS mean_tokens " +
      "FROM documents GROUP BY lang"

  /** Boilerplate-planted fixture twin of SparkEntry.plantedBoiler. */
  private val boilerDocsCte: String =
    """bdocs AS (
      |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN
      |    'subscribe to our newsletter and accept all cookies to continue '
      |      || text
      |    ELSE text END AS text
      |  FROM documents
      |)""".stripMargin.replace("\n", " ")

  /** Chunk-dedup twin ([[graft.operators.Dedup.chunkDedup]], k = 5). The
    * oracle ranks occurrences with a window — the same total order as
    * Spark's min(struct(doc_id, pos)) agg; a window is fine in DuckDB at
    * sf0.01 while the Spark side keeps the agg-only shape. DuckDB list
    * slices are 1-based inclusive (t[a : b]); Spark's slice(w, start, len)
    * clips at the end — verified equivalent on 7-token docs (chunks
    * 't1..t5', 't6 t7' on both engines). */
  val chunkDedup: String =
    OracleCte.withClause(boilerDocsCte,
      "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM bdocs)",
      """chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(t[CAST(i AS INT)*5+1 :
        |      least((CAST(i AS INT)+1)*5, len(t))], ' ') AS chunk
        |  FROM toks, UNNEST(range(CAST(ceil(len(t)/5.0) AS BIGINT))) AS u(i)
        |)""".stripMargin.replace("\n", " "),
      """kept AS (
        |  SELECT doc_id, pos, chunk, row_number() OVER (
        |    PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM chunks
        |)""".stripMargin.replace("\n", " ")) +
      "SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS text_deduped " +
      "FROM kept WHERE rn = 1 GROUP BY doc_id"

  /** Hapax-planted fixture twin of SparkEntry.plantedRare. */
  private val rareDocsCte: String =
    """rdocs AS (
      |  SELECT doc_id, text || CASE WHEN doc_id % 13 = 0 THEN
      |    ' hx' || doc_id || ' px' || (doc_id % 3) ELSE '' END AS text
      |  FROM documents
      |)""".stripMargin.replace("\n", " ")

  /** Rare-token twin ([[graft.operators.TextAnalysis.rareTokenStats]]):
    * hapax set via df = 1, LEFT join back, exact floor-division fraction
    * (Spark `div` == DuckDB `//`). */
  val rareTokens: String =
    OracleCte.withClause(rareDocsCte,
      """tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM rdocs
        |)""".stripMargin.replace("\n", " "),
      """hapax AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok)
        |  WHERE df = 1
        |)""".stripMargin.replace("\n", " ")) +
      "SELECT t.doc_id AS id, count(*) AS n_tokens, " +
      "CAST(sum(CASE WHEN h.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_hapax, " +
      "CAST((CAST(sum(CASE WHEN h.tok IS NOT NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS rare_frac " +
      "FROM tok t LEFT JOIN hapax h ON t.tok = h.tok GROUP BY t.doc_id"

  /** Global-shuffle twin ([[graft.operators.Sampling.globalShuffleRank]],
    * seed = 0, portable): the oracle states the SPEC — one global
    * row_number over the seeded hash (fine in DuckDB at sf0.01) — while
    * the Spark side computes the same permutation bucket-wise; their
    * equality is exactly the bucket-decomposition law the operator's
    * scaladoc claims. */
  val globalShuffle: String =
    OracleCte.withClause(
      """skeyed AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('0:' || doc_id), 1, 15))::BIGINT AS skey
        |  FROM documents
        |)""".stripMargin.replace("\n", " ")) +
      "SELECT doc_id, CAST(row_number() OVER (ORDER BY skey, doc_id) " +
      "AS BIGINT) AS shuffle_rank FROM skeyed"

  /** Split-assignment twin ([[graft.operators.Sampling.assignSplits]],
    * defaults 98/1/1, seed 0, portable): the same seeded-hash slot CASEd
    * over the 1e6-scaled cumulative weights. */
  val assignSplits: String =
    OracleCte.withClause(
      """slotted AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('spl0:' || doc_id), 1, 15))::BIGINT
        |      % 1000000 AS slot
        |  FROM documents
        |)""".stripMargin.replace("\n", " ")) +
      "SELECT doc_id, CASE WHEN slot < 980000 THEN 'train' " +
      "WHEN slot < 990000 THEN 'val' ELSE 'test' END AS split FROM slotted"

  /** TF-IDF keyword twin ([[graft.operators.TextAnalysis.tfidfKeywords]],
    * k = 5): ranking by tf·1e6 // df IS the tf·idf ranking (corpus size
    * is a constant factor of idf); BIGINT floor division on both sides,
    * ties frozen by token asc. */
  val tfidfKeywords: String =
    OracleCte.withClause(
      "tok AS ( SELECT doc_id AS id, " +
        "unnest(string_split(text, ' ')) AS tok FROM documents )",
      "tf AS ( SELECT id, tok, count(*)::BIGINT AS tf " +
        "FROM tok GROUP BY id, tok )",
      "dfreq AS ( SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok )") +
      "SELECT id, tok, tf, df, score_1e6, rn FROM (" +
      "SELECT tf.id, tf.tok, tf.tf, dfreq.df, " +
      "CAST((tf.tf * 1000000) // dfreq.df AS BIGINT) AS score_1e6, " +
      "CAST(row_number() OVER (PARTITION BY tf.id " +
      "ORDER BY (tf.tf * 1000000) // dfreq.df DESC, tf.tok ASC) AS BIGINT) " +
      "AS rn FROM tf JOIN dfreq USING (tok)) WHERE rn <= 5"

  /** Sessionization twin ([[graft.operators.Temporal.sessionize]], gap =
    * 30 min): identical lag/running-sum construction; all outputs exact
    * integers (epoch-µs via epoch_us ≡ Spark unix_micros; value cents via
    * round(value·100) — 2-decimal values never land on a halfway). */
  val sessionize: String =
    OracleCte.withClause(
      """ord AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    CASE WHEN lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id))
        |           > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |)""".stripMargin.replace("\n", " "),
      """sess AS (
        |  SELECT user_id, event_id, v, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM ord
        |)""".stripMargin.replace("\n", " ")) +
      "SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx, " +
      "count(*)::BIGINT AS n_events, min(epoch_us(ts)) AS start_us, " +
      "max(epoch_us(ts)) AS end_us, CAST(sum(v) AS BIGINT) AS value_cents " +
      "FROM sess GROUP BY user_id, sess_idx"

  /** As-of twin ([[graft.operators.Temporal.asofJoin]] driver query):
    * DuckDB's NATIVE ASOF LEFT JOIN — a genuinely independent algorithm
    * from the Spark union-trick plan, agreeing row-for-row including the
    * inclusive-at-equal-ts boundary and NULLs for pre-signup purchases. */
  val asofPurchaseSignup: String =
    OracleCte.withClause(
      "r AS ( SELECT user_id, ts, max(event_id) AS ref_event " +
        "FROM events WHERE event_type = 'signup' GROUP BY user_id, ts )",
      "l AS ( SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase' )") +
      "SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, " +
      "epoch_us(r.ts) AS ref_us, r.ref_event " +
      "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"

  /** Tumbling-window twin ([[graft.operators.Temporal.tumblingCounts]],
    * 1 h windows): exact integer epoch-µs floor-division buckets — no
    * date_trunc (whose timezone semantics can diverge across engines). */
  val tumblingCounts: String =
    "SELECT event_type, " +
      "(epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us, " +
      "count(*)::BIGINT AS n_events, " +
      "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) " +
      "AS value_cents FROM events GROUP BY 1, 2"

  /** Interval-join twin ([[graft.operators.Temporal.intervalJoin]],
    * purchase ↔ click within ±1 h per user): DuckDB states the NAIVE
    * theta join — an independent algorithm — so the hash match proves
    * the Spark side's bucket-replication decomposition exact. */
  val intervalJoinPc: String =
    OracleCte.withClause(
      "l AS ( SELECT user_id AS k, event_id AS l_event, " +
        "epoch_us(ts) AS l_us FROM events WHERE event_type = 'purchase' )",
      "r AS ( SELECT user_id AS k, event_id AS r_event, " +
        "epoch_us(ts) AS r_us FROM events WHERE event_type = 'click' )") +
      "SELECT l.k, l_event, r_event, l_us - r_us AS delta_us " +
      "FROM l JOIN r ON l.k = r.k AND abs(l_us - r_us) <= 3600000000"

  /** Funnel-lag twin ([[graft.operators.Temporal.lagHistogram]],
    * signup → purchase, 1-day buckets): native ASOF LEFT JOIN again,
    * lag floor-divided into whole days. */
  val funnelLagHist: String =
    OracleCte.withClause(
      "r AS ( SELECT user_id, ts, max(event_id) AS ref_event " +
        "FROM events WHERE event_type = 'signup' GROUP BY user_id, ts )",
      "l AS ( SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase' )",
      "m AS ( SELECT l.event_id, epoch_us(l.ts) - epoch_us(r.ts) AS lag_us " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts )") +
      "SELECT lag_us // 86400000000 AS lag_days, count(*)::BIGINT AS n " +
      "FROM m WHERE lag_us IS NOT NULL GROUP BY 1"
}
