package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{OracleCte, Spec}
import graft.operators._
import graft.sources.InterleavedDocs

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one implemented operator (SURVEY.md §2); its
  * `oracleSql` twin is ANSI SQL DuckDB runs over the same parquet tables
  * (fixtures are inlined as VALUES CTEs generated from the very same frozen
  * constants in [[graft.model.Spec]]). Column names and types are aligned
  * on both sides (strings / BIGINT / DOUBLE only).
  */
object SparkEntry {

  /** Flagship: the full KG-construction pipeline (explode → AC match →
    * top-1 link → CC canonicalization → predicate map → URI mint → dedup)
    * on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.triples(spark,
      InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------------
  // shared stage builders (used by several queries)
  // ---------------------------------------------------------------------

  private def docs(s: SparkSession, dir: String) =
    InterleavedDocs.fromDocuments(s, dir)

  private def exploded(s: SparkSession, dir: String): DataFrame =
    SpanOps.explodeSpans(docs(s, dir))
      .select(col("doc_id").as("did"), col("pos").cast("bigint").as("pos"),
        col("kind"), col("text"), col("media_ref"),
        col("offset").cast("bigint").as("off"))

  private def candidates(s: SparkSession, dir: String) =
    GazetteerMatcher.candidates(s,
      SpanOps.textSpans(SpanOps.explodeSpans(docs(s, dir))), Spec.Gazetteer)

  /** Test fixture for the PII queries: the synthetic corpus carries no
    * PII, so both engines plant a deterministic email + IPv4 + phone
    * suffix on every 10th doc (the oracle appends the identical string
    * via the same arithmetic — see [[OracleSql.PlantedDocsCte]]). */
  private def plantedPii(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 10 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or 10.0.0."),
            (col("doc_id") % 256).cast("string"), lit(" or 555-101-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))

  /** Fixture for chunk dedup: the synthetic corpus has many natural
    * duplicate 5-token chunks (tiny vocabulary) but no deterministic
    * cross-doc law to assert, so both engines prepend the SAME 10-token
    * boilerplate header to every 7th doc: dedup provably strips it from
    * all but doc 0, and 10 = 2k tokens shifts the doc's own chunks by a
    * whole number of chunk slots, leaving their contents intact. */
  private def plantedBoiler(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(lit("subscribe to our newsletter and accept all cookies " +
          "to continue "), col("text")))
        .otherwise(col("text")).as("text"))

  /** Fixture for the rare-token signal: the synthetic vocabulary is so
    * small every natural token's document frequency is >> 1 (zero hapax
    * corpus-wide), so both engines append to every 13th doc one
    * per-doc-unique token (a guaranteed hapax) and one token shared by all
    * planted docs mod 3 (df >> 1 — exercising the df > 1 exclusion). */
  private def plantedRare(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 13 === 0,
          concat(lit(" hx"), col("doc_id").cast("string"),
            lit(" px"), (col("doc_id") % 3).cast("string")))
          .otherwise(lit(""))).as("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1: posexplode keeping position (span order is load-bearing)
    "explode_spans" -> ((s, dir) => exploded(s, dir)),

    // P2+P3: kind filter + shape guard
    "media_spans" -> ((s, dir) =>
      SpanOps.wellFormed(exploded(s, dir).withColumnRenamed("off", "offset")
          .withColumnRenamed("did", "doc_id"))
        .filter(col("kind") === "media")
        .select(col("doc_id").as("did"), col("pos"), col("media_ref"),
          col("offset").as("off"))),

    // M1/M2: AC gazetteer matching (counts per doc × entity; includes
    // multi-token matches and longest-match overlap suppression)
    "gazetteer_match" -> ((s, dir) =>
      candidates(s, dir)
        .groupBy(col("doc_id").as("did"), col("surface"), col("entity_id"))
        .agg(count(lit(1)).as("n"))),

    // M4+M5: scored top-1 link per mention
    "top1_link" -> ((s, dir) =>
      Linker.top1(candidates(s, dir))
        .select(col("doc_id").as("did"), col("span_pos").cast("bigint"),
          col("begin").cast("bigint"), col("end").cast("bigint"),
          col("surface"), col("entity_id"),
          round(col("score"), 6).as("score"))),

    // M6: media passthrough linking + URI mint
    "media_passthrough" -> ((s, dir) =>
      Linker.mediaLinks(
          SpanOps.mediaSpans(SpanOps.explodeSpans(docs(s, dir))))
        .select(col("doc_id").as("did"), col("span_pos").cast("bigint"),
          Spec.mediaUriCol(col("media_ref")).as("media_uri"))),

    // C1: salted-hash URI canonicalization (sha2 ≡ DuckDB sha256)
    "canon_uri" -> ((s, dir) =>
      candidates(s, dir).select(col("entity_id")).distinct()
        .select(col("entity_id"), Spec.entUriCol(col("entity_id")).as("uri"))),

    // C3: connected components over the sameAs fixture. smallGraphThreshold
    // = 0 forces the DISTRIBUTED large-star/small-star iterative-join path,
    // so this driver-verified row certifies the at-scale algorithm (the
    // broadcast union-find fast path is property-tested to agree in
    // ConnectedComponentsSpec).
    "cc_components" -> ((s, dir) =>
      Canonicalizer.connectedComponents(s,
        InterleavedDocs.sameAs(s).toDF("src", "dst"),
        smallGraphThreshold = 0L)),

    // G1–G4: the full pipeline, final deduped triple set
    "triples_final" -> ((s, dir) =>
      Pipeline.triples(s, docs(s, dir))
        .select("subj", "pred", "obj", "obj_type")),

    // G1–G4 at-scale variant: the component map comes from distributed
    // CC (star joins) instead of driver union-find; the rest is the same
    // path as triples_final. Checked against the SAME oracle.
    "triples_dist_cc" -> ((s, dir) =>
      Pipeline.triples(s, docs(s, dir), atScale = true)
        .select("subj", "pred", "obj", "obj_type")),

    // --- demos over the driver-shipped star schema (join/agg/window) ----
    "q_lineitem_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          count(lit(1)).as("n"))),

    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("revenue"))
    }),

    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk").cast("bigint").as("rk"))
    }),

    "q_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("qty"))),

    // full grouping-sets lattice (rollup's sibling; §2.7)
    "q_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("qty"))),

    // explicit left-semi staple (the join shape §2.6 lists): suppliers
    // that ship anything, no right-side columns materialized
    "q_semi_join" -> ((s, dir) =>
      s.read.parquet(s"$dir/supplier.parquet")
        .join(s.read.parquet(s"$dir/lineitem.parquet"),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))),

    // set-op staple: users seen in BOTH funnel stages (distinct set
    // semantics on both engines)
    "q_intersect" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.filter(col("event_type") === "view").select("user_id")
        .intersect(
          ev.filter(col("event_type") === "purchase").select("user_id"))
    }),

    // pivot: event-type counts per user bucket; empty cells filled 0 to
    // match the oracle's FILTER aggregates
    "q_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy((col("user_id") % 10).as("ub"))
        .pivot("event_type", Seq("click", "purchase", "signup"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "purchase", "signup"))),

    "q_events_json" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("bigint"))
          .as("sum_k"), count(lit(1)).as("n"))),

    // --- training-data curation operators (dedup / similarity / text) ---
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactByText(s.read.parquet(s"$dir/documents.parquet"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
        n = 3, minJaccard = 0.8, maxDocFreq = Spec.DedupMaxDocFreq)),

    // ppjoin-style prefix filtering: only ~(1-theta) of each doc's
    // rarest shingles are indexed; the DuckDB twin runs the FULL
    // inverted join, so hash-green == losslessness proven
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(s.read.parquet(s"$dir/documents.parquet"),
        n = 3, thetaPct = 80, maxDocFreq = Spec.DedupMaxDocFreq)),

    // MinHash-LSH with portable (md5-derived) slot hashes: banding join,
    // stop-shingle pruning and the codegen'd slot-agreement verify kernel
    // are all hash-checked against the DuckDB oracle; recall vs the exact
    // pairs is additionally property-tested in DedupSpec.
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(s.read.parquet(s"$dir/documents.parquet"),
        n = Spec.CurateShingleN, numHashes = Spec.CurateNumHashes,
        bands = Spec.CurateBands, minEstJaccard = Spec.CurateMinEstJaccard,
        maxDocFreq = Spec.DedupMaxDocFreq, portable = true)),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(s.read.parquet(s"$dir/documents.parquet"),
        maxHamming = 3, hasher = Dedup.PortableMd5Hasher)),

    // composite curation flagship: lang filter -> quality filter -> exact
    // dedup -> MinHash near-dup clustering (CC) -> keep cluster min, at
    // the operating point frozen in Spec; the oracle replays the whole
    // chain incl. the CC fixpoint recursively
    "curate_docs" -> ((s, dir) =>
      Curation.curateDocs(s, s.read.parquet(s"$dir/documents.parquet"),
        portable = true)),

    // semantic-dedup variant: lexical MinHash edges ∪ sign-LSH embedding
    // near-dup edges (over the same kept set) feed one CC clustering; the
    // oracle replays BOTH edge families into the same recursive fixpoint.
    // The semantic LSH runs at Spec.CurateSemanticMinCos with the
    // IN-REGIME config for it (Similarity.lshConfigFor — ≥0.9 worst-case
    // curve recall at 0.4)
    "curate_docs_semantic" -> ((s, dir) =>
      Curation.curateDocs(s, s.read.parquet(s"$dir/documents.parquet"),
        portable = true,
        embeddings = Some(s.read.parquet(s"$dir/embeddings.parquet")))),

    // per-doc drop lineage of the semantic curation chain: every doc
    // labeled with its first failing gate; the oracle replays the whole
    // chain (both edge families, CC fixpoint) into one CASE — this is the
    // decision surface writeCurated records in its lineage sidecar
    "curate_decisions" -> ((s, dir) =>
      Curation.curationDecisions(s,
          s.read.parquet(s"$dir/documents.parquet"), portable = true,
          embeddings = Some(s.read.parquet(s"$dir/embeddings.parquet")))
        .select(col("doc_id"), col("status"))),

    // deterministic sampling + packing (training-data pipeline staples;
    // portable md5 hash configs so DuckDB replays sample membership)
    "sample_hash" -> ((s, dir) =>
      Sampling.sampleByHash(s.read.parquet(s"$dir/documents.parquet"),
          frac = 0.1, portable = true)
        .select(col("doc_id"), col("lang"))),

    "stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(s.read.parquet(s"$dir/documents.parquet"),
        strataCol = "lang", k = 20, portable = true)),

    "pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(s.read.parquet(s"$dir/documents.parquet"),
        budget = 200L)),

    "pack_summary" -> ((s, dir) =>
      Sampling.packSummary(s.read.parquet(s"$dir/documents.parquet"),
        budget = 200L)),

    // source-mixing rebalance: per-stratum Bernoulli rates as a pure
    // hash filter (portable config so DuckDB replays membership)
    "rebalance_sources" -> ((s, dir) =>
      Sampling.sampleByHashStratified(
          s.read.parquet(s"$dir/documents.parquet"),
          rates = Map("en" -> 0.9, "fr" -> 0.5, "de" -> 0.25),
          defaultRate = 0.75, portable = true)
        .select(col("doc_id"), col("lang"))),

    // PII redaction + audit counts over the planted-PII fixture (the
    // synthetic corpus has no natural PII; the plant fires on 1/10 docs
    // so the replace provably rewrites, and the other 9/10 prove
    // identity)
    "pii_redact" -> ((s, dir) => Redaction.redact(plantedPii(s, dir))),

    "pii_counts" -> ((s, dir) => Redaction.piiCounts(plantedPii(s, dir))),

    // per-language corpus report (docs, token mass, exact-long mean)
    "corpus_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(s.read.parquet(s"$dir/documents.parquet"))),

    // Gopher-style repetition signals (duplicate-bigram fraction + modal
    // bigram mass)
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(
        s.read.parquet(s"$dir/documents.parquet"))),

    // benchmark decontamination over a deterministic corpus split: docs
    // with doc_id % 97 == 0 act as the benchmark set, the rest as corpus
    "decontam_hits" -> ((s, dir) => {
      val all = s.read.parquet(s"$dir/documents.parquet")
      Decontam.contaminationHits(all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0))
    }),

    "decontam_keep" -> ((s, dir) => {
      val all = s.read.parquet(s"$dir/documents.parquet")
      Decontam.decontaminate(all.filter(col("doc_id") % 97 =!= 0),
          all.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id"), col("lang"))
    }),

    // C4-style cross-corpus chunk dedup over the boilerplate-planted
    // corpus: globally-first occurrence of each 5-token chunk survives,
    // docs reassembled from their surviving chunks in order
    "chunk_dedup" -> ((s, dir) => Dedup.chunkDedup(plantedBoiler(s, dir))),

    // corpus-document-frequency rarity signal over the hapax-planted corpus
    "text_rare" -> ((s, dir) =>
      TextAnalysis.rareTokenStats(plantedRare(s, dir))),

    // deterministic training-order shuffle: unique contiguous rank in
    // seeded-hash order, computed bucket-wise (no global window)
    "global_shuffle" -> ((s, dir) =>
      Sampling.globalShuffleRank(
        s.read.parquet(s"$dir/documents.parquet"), portable = true)),

    // deterministic train/val/test split (98/1/1, pure seeded-hash CASE —
    // no randomSplit leakage) + exact-integer tf-idf keyword extraction
    "assign_splits" -> ((s, dir) =>
      Sampling.assignSplits(s.read.parquet(s"$dir/documents.parquet"),
        portable = true)),

    "tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(
        s.read.parquet(s"$dir/documents.parquet"), k = 5)),

    // corpus length-decile report via the bucket-offset exact global
    // rank (no single-partition window; DuckDB twin states the same
    // rank as one global row_number)
    "doc_len_deciles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(
        s.read.parquet(s"$dir/documents.parquet"))),

    // temporal ops over events: gap sessionization (30 min) and the
    // as-of join (each purchase -> most recent signup at-or-before it;
    // DuckDB replays with its NATIVE ASOF JOIN — an independent algorithm)
    "sessionize" -> ((s, dir) =>
      Temporal.sessionize(s.read.parquet(s"$dir/events.parquet"))),

    // batch analog of a streaming windowed agg: hourly tumbling roll-up
    // per event type (exact integer epoch-us floor division buckets)
    "tumbling_counts" -> ((s, dir) =>
      Temporal.tumblingCounts(s.read.parquet(s"$dir/events.parquet"))),

    // funnel analysis: signup -> purchase conversion-lag histogram in
    // whole-day buckets (asofJoin + one tiny agg)
    "funnel_lag_hist" -> ((s, dir) =>
      Temporal.lagHistogram(s.read.parquet(s"$dir/events.parquet"),
        fromType = "signup", toType = "purchase")),

    "asof_purchase_signup" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      // right side unique per (key, ts): keep max event_id; export its
      // ts as a payload column so the match's timestamp survives the join
      val r = ev.filter(col("event_type") === "signup")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("ref_event"))
        .withColumn("ref_ts_us", unix_micros(col("ts").cast("timestamp")))
      Temporal.asofJoin(l, r, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("ref_ts_us").as("ref_us"), col("ref_event"))
    }),

    // KG report surface over the final triple set: subject out-degree
    // histogram, top hubs (deterministic tie-break), predicate totals
    "kg_degree_hist" -> ((s, dir) =>
      GraphStats.degreeHistogram(Pipeline.triples(s, docs(s, dir)))),

    "kg_top_hubs" -> ((s, dir) =>
      GraphStats.topHubs(Pipeline.triples(s, docs(s, dir)))),

    "kg_pred_counts" -> ((s, dir) =>
      GraphStats.predicateCounts(Pipeline.triples(s, docs(s, dir)))),

    // graph analytics over the emitted KG: fixed-point integer PageRank
    // (3 unrolled power iterations in exact BIGINT micro-units — the
    // iterative join+agg distributed shape, bit-identical across
    // engines and layouts), full vector + deterministic top-20
    "kg_pagerank" -> ((s, dir) =>
      GraphStats.pageRank(
        GraphStats.iriEdges(Pipeline.triples(s, docs(s, dir))))),

    "kg_pagerank_top" -> ((s, dir) =>
      GraphStats.pageRank(
        GraphStats.iriEdges(Pipeline.triples(s, docs(s, dir))))
        .orderBy(col("rank_micros").desc, col("node").asc).limit(20)),

    // KG enrichment: which entities co-occur in the same documents more
    // than chance (integer-lift scoring, doc-key self-join)
    "kg_cooccur" -> ((s, dir) =>
      GraphStats.cooccurrence(Pipeline.triples(s, docs(s, dir)))),

    // skew diagnostic over the Zipf subject key: log2 histogram of
    // per-key counts (exact binary-digit math, no float log)
    "kg_skew_report" -> ((s, dir) =>
      GraphStats.keySkewReport(Pipeline.triples(s, docs(s, dir)), "subj")),

    // range-join scale pattern: purchase <-> click within +-1h per user
    // via bucket replication; DuckDB replays the NAIVE theta join
    "interval_join_pc" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      Temporal.intervalJoin(ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
    }),

    // N-Triples SOURCE: parse the exported lines back to triples —
    // parse(export(T)) == T, the round-trip law
    "ntriples_roundtrip" -> ((s, dir) =>
      graft.sources.TripleSink.parseNTriples(
        graft.sources.TripleSink.toNTriples(
          Pipeline.triples(s, docs(s, dir))))),

    // dedup diagnostics: near-dup cluster size distribution (portable
    // hashes so DuckDB replays the identical clusters)
    "curate_cluster_hist" -> ((s, dir) =>
      Curation.dupClusterSizes(s,
        s.read.parquet(s"$dir/documents.parquet"), portable = true)),

    "text_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(s.read.parquet(s"$dir/documents.parquet"))),

    "text_rtokens" -> ((s, dir) =>
      TextAnalysis.regexTokenStats(s.read.parquet(s"$dir/documents.parquet"))),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(s.read.parquet(s"$dir/documents.parquet"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"))),

    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(s, s.read.parquet(s"$dir/documents.parquet"))),

    "emb_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        k = 5)),

    "emb_dup_pairs" -> ((s, dir) =>
      Similarity.cosineDupPairs(s.read.parquet(s"$dir/embeddings.parquet"),
        minCos = 0.4)),

    // ANN paths: approximate by design, but fully deterministic and (in
    // the portable md5 config) replayed end-to-end by the DuckDB oracle —
    // planes, centroid sampling, Lloyd rounds, probing, ranks. Recall vs
    // brute force is additionally property-tested in SimilaritySpec.
    // Runtime plan shape is identical to the xxhash64 production config
    // (planes/centroids are precomputed driver-side literals either way).
    "emb_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        k = 5, dim = 64, nPlanes = 6, portable = true)),

    "emb_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        k = 5, nCells = 16, nProbe = 4, portable = true)),

    // the large-nCells IVF path (centroids as a DataFrame end-to-end, no
    // driver collect, no literal plan) — bit-identical construction, so
    // it shares emb_ivf_topk's oracle; hash-green here certifies the
    // at-scale variant against the SAME ground truth
    "emb_ivf_topk_dist" -> ((s, dir) =>
      Similarity.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"),
        k = 5, nCells = 16, nProbe = 4, portable = true,
        distributedCentroids = true)),

    // near-dup at scale: the LSH-bucketed verify (emb_dup_pairs is the
    // exact brute-force baseline; this is the candidate-generation path
    // that survives corpus scale)
    "emb_lsh_dup_pairs" -> ((s, dir) =>
      Similarity.lshDupPairs(s.read.parquet(s"$dir/embeddings.parquet"),
        minCos = 0.4, dim = 64, nPlanes = 6, portable = true)),

    // multimodal plumbing (stub codec, deterministic — the oracle
    // reproduces the seed arithmetic, so the decode plumbing is
    // hash-checked end-to-end)
    "media_decode" -> ((s, dir) => {
      val refs = SpanOps.mediaSpans(SpanOps.explodeSpans(docs(s, dir)))
      Multimodal.decodeMeta(s, Multimodal.synthesizeAssets(s, refs)).toDF()
        .select(col("media_ref"), col("media_type"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("n_frames").cast("bigint").as("n_frames"),
          col("bytes_len"))
    }),

    // S6: sorted N-Triples text export of the final triple set
    "ntriples_export" -> ((s, dir) =>
      graft.sources.TripleSink.toNTriples(Pipeline.triples(s, docs(s, dir)))),

    // P5: the per-row span-sequence-equality invariant (must be all-true)
    "span_invariant" -> ((s, dir) => {
      val d = docs(s, dir)
      SpanOps.spanSequenceEquality(d, SpanOps.explodeSpans(d))
        .select(col("doc_id").as("did"), col("ok"))
    }),

    // C5: salted join ≡ plain join, proven against the DuckDB plain join
    "salted_join_demo" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("key"), col("l_orderkey"))
      val p = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("key"), col("p_name"))
      Canonicalizer.saltedJoin(li, p, "key", "l_orderkey", k = 8)
        .groupBy("key").agg(count(lit(1)).as("n"))
    }),

    // left-anti join (the resume/difference shape, SURVEY.md §2.6)
    "q_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    }))

  def oracleSql: Map[String, String] = {
    def W(fragments: String*): String = OracleCte.withClause(fragments: _*)
    Map(
      "explode_spans" ->
        (W(OracleCte.spansCte) +
          "SELECT did, pos, kind, text, media_ref, off FROM spans"),

      "media_spans" ->
        (W(OracleCte.spansCte) +
          "SELECT did, pos, media_ref, off FROM spans " +
          "WHERE kind = 'media' AND media_ref IS NOT NULL AND off >= 0"),

      "gazetteer_match" -> OracleSql.gazetteerMatch,

      "top1_link" -> OracleSql.top1Link,

      "media_passthrough" ->
        (W(OracleCte.spansCte) +
          "SELECT did, pos AS span_pos, 'ex:media/' || media_ref AS media_uri " +
          "FROM spans WHERE kind = 'media'"),

      "canon_uri" -> OracleSql.canonUri,

      "cc_components" -> OracleSql.ccComponents,

      "triples_final" -> OracleSql.triplesFinal,

      // identical output contract to triples_final, via the at-scale paths
      "triples_dist_cc" -> OracleSql.triplesFinal,

      "q_lineitem_agg" ->
        ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, " +
          "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"),

      "q_join_agg" ->
        ("SELECT c_mktsegment, count(*) AS n_orders, " +
          "round(sum(o_totalprice), 4) AS revenue " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY c_mktsegment"),

      "q_window_topk" ->
        ("SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (" +
          "SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders) " +
          "WHERE rk <= 3"),

      "q_rollup" ->
        ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          "round(sum(l_quantity), 4) AS qty FROM lineitem " +
          "GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
      "q_cube" ->
        ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          "round(sum(l_quantity), 4) AS qty FROM lineitem " +
          "GROUP BY CUBE (l_returnflag, l_linestatus)"),
      "q_semi_join" ->
        ("SELECT s_suppkey, s_name FROM supplier WHERE EXISTS " +
          "(SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)"),
      "q_intersect" ->
        ("SELECT user_id FROM events WHERE event_type = 'view' " +
          "INTERSECT SELECT user_id FROM events " +
          "WHERE event_type = 'purchase'"),
      "q_pivot" ->
        ("SELECT user_id % 10 AS ub, " +
          "count(*) FILTER (event_type = 'click')::BIGINT AS click, " +
          "count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase, " +
          "count(*) FILTER (event_type = 'signup')::BIGINT AS signup " +
          "FROM events GROUP BY 1"),

      // outer CAST: DuckDB sum(BIGINT) returns HUGEINT (int128), which the
      // driver's hasher canonicalizes differently from Spark's int64 —
      // rows/values matched in round 1 but the hash didn't
      "q_events_json" ->
        ("SELECT event_type, " +
          "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) " +
          "AS BIGINT) AS sum_k, " +
          "count(*) AS n FROM events GROUP BY event_type"),

      "dedup_exact" ->
        ("SELECT md5(text) AS text_md5, count(*) AS n, " +
          "min(doc_id) AS min_doc FROM documents GROUP BY md5(text)"),

      "text_rtokens" ->
        ("SELECT doc_id AS id, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, " +
          "CAST(len(regexp_extract_all(text, " +
          "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_rtokens " +
          "FROM documents"),

      "sample_hash" ->
        ("SELECT doc_id, lang FROM documents WHERE " +
          "('0x' || substr(md5('smp0:' || doc_id), 1, 15))::BIGINT " +
          "% 1000000 < 100000"),

      "stratified_sample" ->
        ("SELECT doc_id, lang, rn FROM (SELECT doc_id, lang, " +
          "row_number() OVER (PARTITION BY lang ORDER BY " +
          "('0x' || substr(md5('str0:' || doc_id), 1, 15))::BIGINT " +
          "% 1000000, doc_id) AS rn FROM documents) WHERE rn <= 20"),

      "pack_sequences" ->
        ("SELECT doc_id, lang, n AS n_tokens, " +
          "CAST(floor((cum - n) / 200.0) AS BIGINT) AS pack_id FROM (" +
          "SELECT doc_id, lang, len(string_split(text, ' ')) AS n, " +
          "sum(len(string_split(text, ' '))) OVER (PARTITION BY lang " +
          "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
          "CURRENT ROW) AS cum FROM documents)"),

      // the same packing CTE rolled up per pack; CAST because DuckDB's
      // sum(BIGINT) is HUGEINT (hash-canonicalization mismatch otherwise)
      "pack_summary" ->
        ("SELECT lang, pack_id, count(*) AS n_docs, " +
          "CAST(sum(n) AS BIGINT) AS tok_total FROM (" +
          "SELECT doc_id, lang, n, " +
          "CAST(floor((cum - n) / 200.0) AS BIGINT) AS pack_id FROM (" +
          "SELECT doc_id, lang, len(string_split(text, ' ')) AS n, " +
          "sum(len(string_split(text, ' '))) OVER (PARTITION BY lang " +
          "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
          "CURRENT ROW) AS cum FROM documents)) GROUP BY lang, pack_id"),

      "rebalance_sources" ->
        ("SELECT doc_id, lang FROM documents WHERE " +
          "('0x' || substr(md5('smx0:' || doc_id), 1, 15))::BIGINT " +
          "% 1000000 < CASE lang WHEN 'en' THEN 900000 " +
          "WHEN 'fr' THEN 500000 WHEN 'de' THEN 250000 ELSE 750000 END"),

      "pii_redact" -> OracleSql.piiRedact,
      "pii_counts" -> OracleSql.piiCounts,
      "corpus_stats" -> OracleSql.corpusStats,
      "text_repetition" -> OracleSql.textRepetition,
      "decontam_hits" -> OracleSql.decontamHits,
      "decontam_keep" -> OracleSql.decontamKeep,
      "chunk_dedup" -> OracleSql.chunkDedup,
      "text_rare" -> OracleSql.rareTokens,
      "global_shuffle" -> OracleSql.globalShuffle,
      "assign_splits" -> OracleSql.assignSplits,
      "tfidf_keywords" -> OracleSql.tfidfKeywords,
      "doc_len_deciles" -> OracleSql.lengthDeciles,
      "sessionize" -> OracleSql.sessionize,
      "asof_purchase_signup" -> OracleSql.asofPurchaseSignup,
      "tumbling_counts" -> OracleSql.tumblingCounts,
      "funnel_lag_hist" -> OracleSql.funnelLagHist,
      "kg_degree_hist" -> OracleSql.kgDegreeHist,
      "kg_top_hubs" -> OracleSql.kgTopHubs,
      "kg_pred_counts" -> OracleSql.kgPredCounts,
      "kg_pagerank" -> OracleSql.kgPagerank,
      "kg_pagerank_top" -> OracleSql.kgPagerankTop,
      "kg_cooccur" -> OracleSql.kgCooccur,
      "ntriples_roundtrip" -> OracleSql.ntriplesRoundtrip,
      "kg_skew_report" -> OracleSql.kgSkewReport,
      "interval_join_pc" -> OracleSql.intervalJoinPc,
      "curate_cluster_hist" -> OracleSql.curateClusterHist,

      "dedup_ngram_jaccard" -> OracleSql.ngramJaccard,
      "dedup_jaccard_prefix" -> OracleSql.jaccardPrefix,
      "dedup_minhash_lsh" -> OracleSql.minHashLsh,
      "dedup_simhash" -> OracleSql.simHashPairs,
      "curate_docs" -> OracleSql.curateDocs,
      "curate_docs_semantic" -> OracleSql.curateDocsSemantic,
      "curate_decisions" -> OracleSql.curateDecisions,
      "media_decode" -> OracleSql.mediaDecode,
      "text_stats" -> OracleSql.textStats,
      "text_quality" -> OracleSql.textQuality,
      "text_fingerprint" -> OracleSql.textFingerprint,
      "lang_id" -> OracleSql.langId,
      "emb_topk" -> OracleSql.embTopK,
      "emb_dup_pairs" -> OracleSql.embDupPairs,
      "emb_lsh_topk" -> OracleSql.embLshTopK,
      "emb_ivf_topk" -> OracleSql.embIvfTopK,
      "emb_ivf_topk_dist" -> OracleSql.embIvfTopK,
      "emb_lsh_dup_pairs" -> OracleSql.embLshDupPairs,

      "ntriples_export" -> OracleSql.ntriplesExport,

      "span_invariant" ->
        (W(OracleCte.spansCte) +
          "SELECT did, CAST(1 AS BOOLEAN) AS ok FROM " +
          "(SELECT DISTINCT did FROM spans)"),

      "salted_join_demo" ->
        ("SELECT l_partkey AS key, count(*) AS n FROM lineitem " +
          "JOIN part ON l_partkey = p_partkey GROUP BY l_partkey"),

      "q_anti_join" ->
        ("SELECT c_custkey, c_mktsegment FROM customer " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"))
  }
}
