package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, GazEntry, SameAsEdge, Spec}
import graft.operators.{Canonicalizer, GazetteerMatcher, Linker, SpanOps}

/** The end-to-end KG-construction plan: Dataset[Doc] → DataFrame of triples
  * (subj, pred, obj, obj_type), all Catalyst — one declarative plan per
  * stage, no RDDs, no driver-side loops except the CC fixpoint iteration
  * (BASELINE.json:6; SURVEY.md §3.1).
  *
  * Stage graph:
  * {{{
  * docs ─ posexplode ─┬─ text spans ─ AC match ─ top-1 ─┐
  *                    └─ media spans ── passthrough ────┤
  *      sameAs ─ connected components ─ canonical remap ┘
  *                               predicate map ─ URI mint ─ union ─ dedup
  * }}}
  */
object Pipeline {

  /** Full pipeline: triples with exact set semantics (distinct on
    * (subj, pred, obj) — P/R is set-based, BASELINE.json:2).
    *
    * The only choice made here is where C3 runs. `atScale = false`
    * (default): sameAs is an in-memory Seq (dimension-sized by
    * definition), so the component map comes from driver union-find as a
    * local relation — no Spark job at construction time. `atScale = true`
    * runs distributed large-star/small-star connected components, for
    * open-world entity vocabularies that do not fit on the driver. Both
    * then take the one [[triplesWithComponents]] path and emit the
    * identical triple set, verified against the same DuckDB oracle
    * (`triples_final` / `triples_dist_cc`). */
  def triples(spark: SparkSession, docs: Dataset[Doc],
      gazetteer: Seq[GazEntry] = Spec.Gazetteer,
      sameAs: Seq[SameAsEdge] = Spec.SameAs,
      atScale: Boolean = false): DataFrame = {
    import spark.implicits._
    val edges = sameAs.map(e => (e.src_entity, e.dst_entity))
    val components =
      if (atScale)
        Canonicalizer.connectedComponents(spark, edges.toDF("src", "dst"),
          smallGraphThreshold = 0L)
      else
        Canonicalizer.componentsLocal(edges).toSeq.sortBy(_._1)
          .toDF("entity_id", "canonical")
    triplesWithComponents(spark, docs, components, gazetteer)
  }

  /** Pipeline canonicalizing against a component map (entity_id,
    * canonical): explode → match → top-1 → C4 broadcast-join remap →
    * assemble. [[triples]] builds the map from a sameAs Seq; the streaming
    * shim passes the local relation of its incremental CC state, the
    * converged map for all edges seen so far
    * ([[graft.streaming.DocStream]]). */
  def triplesWithComponents(spark: SparkSession, docs: Dataset[Doc],
      components: DataFrame,
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): DataFrame = {
    val exploded = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
    val cands = GazetteerMatcher.candidates(spark,
      SpanOps.textSpans(exploded), gazetteer)
    val canon = Canonicalizer.remap(Linker.top1(cands), "entity_id",
      components)

    // G4 dedup happens BEFORE URI minting on the narrow natural keys —
    // far cheaper than deduping full minted-URI strings. The single
    // distinct collapses per-doc mention repetition (map-side combine) in
    // ONE pass over the matcher output. No .cache(): base's only
    // consumers (mentions, labels) live inside the one returned plan, so
    // the distinct's shuffle is computed once and shared via
    // ReusedExchange — the match+top1+remap chain runs exactly once, with
    // disk-backed shuffle files instead of pinned executor memory and no
    // unpersist lifecycle to leak. (The URI dimension deliberately does
    // NOT derive from base: a broadcast subquery cannot reuse the main
    // plan's exchange — see entUriDim.)
    val base = canon.select(col("doc_id"), col("entity_id"), col("surface"))
      .distinct()

    val mentions = base.select("doc_id", "entity_id").distinct()
      .withColumn("link_kind", lit("text_mention"))
    val labels = base.select("entity_id", "surface").distinct()
      .withColumn("link_kind", lit("label"))
    val media = SpanOps.mediaSpans(exploded)
      .select(col("doc_id"), col("media_ref").as("entity_id")).distinct()
      .withColumn("link_kind", lit("media"))

    // Salted-hash URIs are minted once per DISTINCT canonical entity (the
    // gazetteer-derived dimension, see entUriDim), then joined back — not
    // sha2'd per corpus row. Broadcast at gazetteer-bounded cardinality;
    // swap for a sort-merge join on open-world entity vocabularies.
    val entUris = broadcast(entUriDim(spark, gazetteer, components))

    val mentionTriples =
      Linker.mapPredicates(spark, mentions.join(entUris, "entity_id"))
      .select(Spec.docUriCol(col("doc_id")).as("subj"), col("pred"),
        col("ent_uri").as("obj"), lit("iri").as("obj_type"))
    val labelTriples =
      Linker.mapPredicates(spark, labels.join(entUris, "entity_id"))
      .select(col("ent_uri").as("subj"), col("pred"),
        col("surface").as("obj"), lit("literal").as("obj_type"))
    val mediaTriples = Linker.mapPredicates(spark, media)
      .select(Spec.docUriCol(col("doc_id")).as("subj"), col("pred"),
        Spec.mediaUriCol(col("entity_id")).as("obj"),
        lit("iri").as("obj_type"))

    // Each branch is internally distinct and the three predicates are
    // disjoint, so the union IS the deduped (subj, pred, obj) set — no
    // final corpus-wide dropDuplicates shuffle needed (exact set
    // semantics, BASELINE.json:2). No observe(): upstream of further
    // composition it mis-binds attributes in GenerateExec on Spark 4.1.
    mentionTriples.unionByName(labelTriples).unionByName(mediaTriples)
  }

  /** Canonical entity-URI dimension minted from the GAZETTEER vocabulary,
    * not from a corpus scan: every entity_id the pipeline can emit is
    * canon(g) for some gazetteer entity g, so {canon(g)} — the gazetteer
    * ids remapped through the component map (dimension × dimension join)
    * — is a complete, dimension-sized URI key set. Minting here keeps
    * sha2 off the corpus plan entirely AND removes the corpus-wide
    * distinct + broadcast-subquery dependency on the match chain that a
    * base-derived dimension had (a broadcast subplan cannot reuse the main
    * plan's shuffle exchange, so it re-ran the whole match+top1 chain a
    * second time — measured ~1.5× on kg_write at local[4]). */
  private def entUriDim(spark: SparkSession, gazetteer: Seq[GazEntry],
      components: DataFrame): DataFrame = {
    import spark.implicits._
    val dim = spark.createDataset(gazetteer.map(_.entity_id).distinct.sorted)
      .toDF("entity_id")
    // one partition: gazetteer-sized rows need no shuffle (and no extra
    // job) for the distinct
    Canonicalizer.remap(dim, "entity_id", components)
      .coalesce(1).distinct()
      .withColumn("ent_uri", Spec.entUriCol(col("entity_id")))
  }
}
