package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{CandidateLink, Spec}

/** Entity-link selection + predicate mapping (SURVEY.md M4–M7). */
object Linker {

  /** M5: top-1 candidate per mention (doc_id, span_pos, begin), frozen
    * tie-break (score desc, entity_id asc); threshold τ = 0.0 (FIXTURES.md
    * §4). The `top1_link` query runs it over candidate rows;
    * [[graft.Pipeline]] decides the same winner once per gazetteer
    * surface on the driver instead.
    *
    * min_by over the composite order key (−score, entity_id): an
    * aggregate with map-side partial combine, not a row_number window
    * that would shuffle and globally sort every candidate row. It plans
    * as a SortAggregate (min_by's struct buffers are not
    * hash-aggregable), so each task sorts its input by the group key;
    * the partial combine is intact. Deterministic: the order key is
    * unique per group (one row per mention × entity). */
  def top1(candidates: Dataset[CandidateLink]): DataFrame =
    candidates.toDF()
      .filter(col("score") >= Spec.ScoreThreshold)
      .groupBy("doc_id", "span_pos", "begin")
      .agg(min_by(
        struct(col("end"), col("surface"), col("entity_id"), col("prior"),
          col("score")),
        struct((-col("score")).as("negscore"), col("entity_id"))).as("best"))
      .select(col("doc_id"), col("span_pos"), col("begin"),
        col("best.end").as("end"), col("best.surface").as("surface"),
        col("best.entity_id").as("entity_id"), col("best.prior").as("prior"),
        col("best.score").as("score"))

  /** M6: media passthrough links — a media span links directly to its
    * media_ref, no scoring (BASELINE.json:6 "media_ref passthrough
    * linking"). Input: exploded media spans. Output:
    * (doc_id, span_pos, media_ref). */
  def mediaLinks(mediaSpans: DataFrame): DataFrame =
    mediaSpans.select(col("doc_id"), col("pos").as("span_pos"),
      col("media_ref"))

  /** M7: link kind → predicate IRI (BASELINE.json:6 "predicate mapping").
    * The map is the frozen 3-entry [[Spec.PredicateMap]] at every scale,
    * so every pipeline path applies it as a literal map() lookup — pure
    * expression, zero broadcast jobs. Input must carry a `link_kind`
    * column. */
  def mapPredicates(links: DataFrame): DataFrame = {
    val m = map(Spec.PredicateMap.toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    links.withColumn("pred", element_at(m, col("link_kind")))
  }
}
