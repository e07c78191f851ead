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
  * docs ─ posexplode ─┬─ text spans ─ AC match ─ top-1 ─ URI lookup ─┐
  *                    └─ media spans ── passthrough ──────────────────┘
  *                                    predicate map ─ union ─ dedup
  *
  * on the driver, once per gazetteer entity, before the plan is built:
  * gazetteer ids ─ sameAs components ─ canonical id ─ URI mint ─ lookup map
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
    * canonical): explode → match → top-1 → URI lookup → assemble.
    * [[triples]] builds the map from a sameAs Seq; the streaming shim
    * passes the local relation of its incremental CC state, the converged
    * map for all edges seen so far ([[graft.streaming.DocStream]]).
    *
    * C3/C4 never touch corpus rows: every entity the pipeline emits is
    * canon(g) for some gazetteer entity g, so the whole raw-id → entity
    * URI map has one entry per gazetteer id and is built once on the
    * driver. The component map is read only at the gazetteer ids — no
    * Spark job for a local relation, one gazetteer-sized job for
    * distributed CC — and the corpus plan applies the result as a
    * literal map lookup, like [[Linker.mapPredicates]]: no join and no
    * sha2 on corpus rows. */
  def triplesWithComponents(spark: SparkSession, docs: Dataset[Doc],
      components: DataFrame,
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): DataFrame = {
    val gazIds = gazetteer.map(_.entity_id).distinct
    val canon = components.where(col("entity_id").isin(gazIds: _*))
      .select("entity_id", "canonical").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val entUri = typedLit(
      gazIds.map(g => g -> Spec.entUri(canon.getOrElse(g, g))).toMap)

    val exploded = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
    val cands = GazetteerMatcher.candidates(spark,
      SpanOps.textSpans(exploded), gazetteer)

    // G4 dedup on the narrow natural keys. The single distinct collapses
    // per-doc mention repetition (map-side combine) in ONE pass over the
    // matcher output. No .cache(): base's only consumers (mentions,
    // labels) live inside the one returned plan, so the distinct's
    // shuffle is computed once and shared via ReusedExchange — the
    // match+top1 chain runs exactly once.
    val base = Linker.top1(cands)
      .select(col("doc_id"),
        element_at(entUri, col("entity_id")).as("ent_uri"), col("surface"))
      .distinct()

    val mentions = base.select("doc_id", "ent_uri").distinct()
      .withColumn("link_kind", lit("text_mention"))
    val labels = base.select("ent_uri", "surface").distinct()
      .withColumn("link_kind", lit("label"))
    val media = SpanOps.mediaSpans(exploded)
      .select(col("doc_id"), col("media_ref").as("entity_id")).distinct()
      .withColumn("link_kind", lit("media"))

    val mentionTriples = Linker.mapPredicates(spark, mentions)
      .select(Spec.docUriCol(col("doc_id")).as("subj"), col("pred"),
        col("ent_uri").as("obj"), lit("iri").as("obj_type"))
    val labelTriples = Linker.mapPredicates(spark, labels)
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
