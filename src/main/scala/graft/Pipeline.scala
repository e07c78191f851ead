package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Doc, GazEntry, SameAsEdge, Spec}
import graft.operators.{ACAutomaton, Canonicalizer, GazetteerMatcher, Linker,
  SpanOps}

/** The end-to-end KG-construction plan: Dataset[Doc] → DataFrame of triples
  * (subj, pred, obj, obj_type), all Catalyst — one declarative plan per
  * stage, no RDDs, no driver-side loops except the CC fixpoint iteration
  * (BASELINE.json:6; SURVEY.md §3.1).
  *
  * Stage graph:
  * {{{
  * docs ─ posexplode ─ wellFormed ─┬─ text span ── AC match ── URI lookup ─┐
  *   (one scan, one mapPartitions) └─ media span ── passthrough ───────────┤
  *              distinct (link_kind, a, b) ─ predicate map + URI mint ─────┘
  *
  * on the driver, once per gazetteer surface, before the plan is built:
  * surface ─ top-1 entity ─ sameAs canonical id ─ URI mint ─ lookup map
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
    * canonical) in one corpus pass. [[triples]] builds the map from a
    * sameAs Seq; the streaming shim passes the local relation of its
    * incremental CC state ([[graft.streaming.DocStream]]).
    *
    * M5, C3 and C4 never touch corpus rows: all candidates of a mention
    * share its surface, and [[Spec.scoreOf]] reads only the gazetteer
    * entry, so the top-1 winner (τ, score desc, entity_id asc), its
    * canonical id and its URI are one fact per surface, decided here on
    * the driver. The component map is read only at the gazetteer ids (no
    * job for a local relation). A surface with nothing at or above τ has
    * no entry: its mentions still win overlap resolution, but link
    * nothing. Top-1 is per input row, like the per-document test oracle;
    * [[Linker.top1]] groups (doc_id, span_pos, begin) across rows, which
    * agrees whenever doc_id is a key. */
  def triplesWithComponents(spark: SparkSession, docs: Dataset[Doc],
      components: DataFrame,
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): DataFrame = {
    import spark.implicits._
    val gazIds = gazetteer.map(_.entity_id).distinct
    val canon = components.where(col("entity_id").isin(gazIds: _*))
      .select("entity_id", "canonical").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val automaton = ACAutomaton.build(gazetteer)
    val entUri: Map[String, String] = automaton.patterns.flatMap { p =>
      p.entities.map { case (e, prior) => (e, Spec.scoreOf(prior, p.surface)) }
        .filter(_._2 >= Spec.ScoreThreshold)
        .minByOption { case (e, score) => (-score, e) }
        .map { case (e, _) => p.surface -> Spec.entUri(canon.getOrElse(e, e)) }
    }.toMap
    val bc = spark.sparkContext.broadcast(automaton)

    // G4: one distinct on narrow keys (doc_id, media_ref),
    // (doc_id, ent_uri) or (ent_uri, surface). Each link kind is one
    // predicate and its (subj, obj) is injective in (a, b), so this is
    // the exact (subj, pred, obj) set (BASELINE.json:2).
    val links = SpanOps.wellFormed(SpanOps.explodeSpans(docs))
      .select("doc_id", "kind", "text", "media_ref")
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.flatMap { case (docId, kind, text, mediaRef) =>
          if (kind == "media") Iterator(("media", docId, mediaRef))
          else GazetteerMatcher.spanMentions(ac, text).flatMap {
            case (_, _, p) => entUri.get(p.surface).iterator.flatMap { u =>
              Iterator(("text_mention", docId, u), ("label", u, p.surface))
            }
          }
        }
      }
      .toDF("link_kind", "a", "b").distinct()

    val isLabel = col("link_kind") === "label"
    Linker.mapPredicates(links).select(
      when(isLabel, col("a")).otherwise(Spec.docUriCol(col("a"))).as("subj"),
      col("pred"),
      when(col("link_kind") === "media", Spec.mediaUriCol(col("b")))
        .otherwise(col("b")).as("obj"),
      when(isLabel, lit("literal")).otherwise(lit("iri")).as("obj_type"))
  }
}
