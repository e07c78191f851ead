package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Pipeline metrics (BASELINE.json:6,14 "per-partition lineage and metrics
  * accumulators").
  *
  * Two layers, by mechanism:
  *  - per-bucket lineage rows in the sink manifest (TripleSink) — the
  *    resume-critical record;
  *  - named LongAccumulators incremented inside the batched matcher
  *    (spans seen / empty / mentions emitted) — live task-level counters.
  */
object Metrics {

  final case class MatcherCounters(
      textSpans: LongAccumulator,
      emptySpans: LongAccumulator,
      mentions: LongAccumulator)

  /** Register (once per name) the matcher accumulators on this session. */
  def matcherCounters(spark: SparkSession): MatcherCounters = {
    val sc = spark.sparkContext
    MatcherCounters(
      sc.longAccumulator("graft.matcher.textSpans"),
      sc.longAccumulator("graft.matcher.emptySpans"),
      sc.longAccumulator("graft.matcher.mentions"))
  }

  /** Set-based precision/recall of `ours` vs `reference` on their common
    * schema (the BASELINE.json:2 acceptance metric), computed
    * distributively via semi/anti joins — no collect. */
  def precisionRecall(ours: DataFrame, reference: DataFrame): (Double, Double) = {
    val cols = ours.columns.toSeq
    val o = ours.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().cache()
    val r = reference.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().cache()
    val inter = o.join(r, cols, "left_semi").count().toDouble
    val (no, nr) = (o.count(), r.count())
    o.unpersist(); r.unpersist()
    (if (no == 0) 0.0 else inter / no, if (nr == 0) 0.0 else inter / nr)
  }
}
