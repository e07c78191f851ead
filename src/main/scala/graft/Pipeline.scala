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
    * `atScale = false` (default) uses the dimension-fixture fast paths:
    * sameAs is an in-memory Seq (dimension-sized by definition), so C3
    * runs as driver union-find and C4 as a literal-map expression — zero
    * extra Spark jobs. `atScale = true` swaps in the corpus-scale operator
    * variants — distributed large-star/small-star connected components
    * and join-based canonical remap — for open-world entity vocabularies
    * that do not fit on the driver. Both variants emit the identical
    * triple set and both are verified against the same DuckDB oracle
    * (`triples_final` / `triples_dist_cc`). */
  def triples(spark: SparkSession, docs: Dataset[Doc],
      gazetteer: Seq[GazEntry] = Spec.Gazetteer,
      sameAs: Seq[SameAsEdge] = Spec.SameAs,
      atScale: Boolean = false): DataFrame = {
    import spark.implicits._

    val exploded = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
    val cands = GazetteerMatcher.candidates(spark, SpanOps.textSpans(exploded),
      gazetteer)
    val kept = Linker.top1(cands)
    val (canon, entUris) =
      if (atScale) {
        val edges = spark.createDataset(sameAs)
          .select(col("src_entity").as("src"), col("dst_entity").as("dst"))
        val components = Canonicalizer.connectedComponents(spark, edges,
          smallGraphThreshold = 0L)
        (Canonicalizer.remap(kept, "entity_id", components),
          entUriDimFromComponents(spark, gazetteer, components))
      } else {
        val canonMap = Canonicalizer.componentsLocal(
          sameAs.map(e => (e.src_entity, e.dst_entity)))
        val remapped =
          if (canonMap.isEmpty) kept
          else {
            val m = map(canonMap.toSeq.sortBy(_._1)
              .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
            kept.withColumn("entity_id",
              coalesce(element_at(m, col("entity_id")), col("entity_id")))
          }
        (remapped, entUriDim(spark, gazetteer, canonMap))
      }

    assemble(spark, exploded, canon, entUris)
  }

  /** Canonical entity-URI dimension minted from the GAZETTEER vocabulary,
    * not from a corpus scan: every entity_id the pipeline can emit is
    * canon(g) for some gazetteer entity g, so {canon(g)} is a complete,
    * dimension-sized URI key set. Minting here keeps sha2 off the corpus
    * plan entirely AND removes the corpus-wide distinct + broadcast-
    * subquery dependency on the match chain that a base-derived dimension
    * had (a broadcast subplan cannot reuse the main plan's shuffle
    * exchange, so it re-ran the whole match+top1 chain a second time —
    * measured ~1.5× on kg_write at local[4]). */
  private def entUriDim(spark: SparkSession, gazetteer: Seq[GazEntry],
      canonMap: Map[String, String]): DataFrame = {
    import spark.implicits._
    val canonIds = gazetteer.map(_.entity_id)
      .map(id => canonMap.getOrElse(id, id)).distinct.sorted
    spark.createDataset(canonIds).toDF("entity_id")
      .withColumn("ent_uri", Spec.entUriCol(col("entity_id")))
  }

  /** [[entUriDim]] for the at-scale/streaming paths, where the component
    * map is a DataFrame: remap the gazetteer-entity dimension through it
    * (dimension × dimension join), then mint. */
  private def entUriDimFromComponents(spark: SparkSession,
      gazetteer: Seq[GazEntry], components: DataFrame): DataFrame = {
    import spark.implicits._
    val dim = spark.createDataset(gazetteer.map(_.entity_id).distinct.sorted)
      .toDF("entity_id")
    Canonicalizer.remap(dim, "entity_id", components)
      .distinct()
      .withColumn("ent_uri", Spec.entUriCol(col("entity_id")))
  }

  /** Pipeline variant canonicalizing against a PRECOMPUTED component map
    * (entity_id, canonical) — used by the streaming shim, whose
    * incremental CC state table already IS the converged map for all
    * edges seen so far ([[graft.streaming.DocStream]]). Always the
    * at-scale join remap: a cross-batch entity vocabulary is open-world
    * by construction. */
  def triplesWithComponents(spark: SparkSession, docs: Dataset[Doc],
      components: DataFrame,
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): DataFrame = {
    val exploded = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
    val cands = GazetteerMatcher.candidates(spark,
      SpanOps.textSpans(exploded), gazetteer)
    val canon = Canonicalizer.remap(Linker.top1(cands), "entity_id",
      components)
    assemble(spark, exploded, canon,
      entUriDimFromComponents(spark, gazetteer, components))
  }

  /** Shared tail of both entry points: dedup → triple assembly → union. */
  private def assemble(spark: SparkSession, exploded: DataFrame,
      canon: DataFrame, entUriDim: DataFrame): DataFrame = {
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
    // gazetteer-derived dimension computed by the caller — see entUriDim),
    // then joined back — not sha2'd per corpus row. Broadcast at
    // gazetteer-bounded cardinality; swap for a sort-merge join on
    // open-world entity vocabularies.
    val entUris = broadcast(entUriDim)

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
}
