package graft

import graft.model._
import graft.sources.InterleavedDocs

/** End-to-end pipeline vs the sequential semantics oracle: P/R must be 1.0
  * (SURVEY.md §0.2, stricter than the ≥0.95 acceptance bar). */
class PipelineSpec extends SparkTestBase {

  private def sparkTriples(docs: Seq[Doc],
      sameAs: Seq[SameAsEdge] = Spec.SameAs,
      atScale: Boolean = false): Set[SequentialOracle.T] = {
    import spark.implicits._
    val ds = spark.createDataset(docs)
    Pipeline.triples(spark, ds, sameAs = sameAs, atScale = atScale)
      .collect()
      .map(r => SequentialOracle.T(r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
      .toSet
  }

  private def prf(ours: Set[SequentialOracle.T],
      oracle: Set[SequentialOracle.T]): (Double, Double) = {
    val inter = (ours intersect oracle).size.toDouble
    (inter / ours.size, inter / oracle.size)
  }

  test("P/R = 1.0 vs sequential oracle on the sf0.001-derived corpus") {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    assert(docs.nonEmpty)
    val expected = SequentialOracle.triples(docs, Spec.Gazetteer, Spec.SameAs)
    val actual = sparkTriples(docs)
    val (p, r) = prf(actual, expected)
    assert(p == 1.0 && r == 1.0,
      s"P=$p R=$r; onlyOurs=${(actual -- expected).take(3)} " +
        s"onlyOracle=${(expected -- actual).take(3)}")
  }

  test("P/R = 1.0 vs sequential oracle on the skewed synthesized corpus") {
    val docs = InterleavedDocs.synthesize(spark, 500L, seed = 7L,
      skewPct = 20).collect().toSeq
    val expected = SequentialOracle.triples(docs, Spec.Gazetteer, Spec.SameAs)
    val actual = sparkTriples(docs)
    val (p, r) = prf(actual, expected)
    assert(p == 1.0 && r == 1.0, s"P=$p R=$r")
  }

  test("atScale: distributed CC emits the driver union-find triple set") {
    import spark.implicits._
    val docs = InterleavedDocs.synthesize(spark, 400L, seed = 13L, skewPct = 15)
    val fast = Pipeline.triples(spark, docs)
    val scale = Pipeline.triples(spark, docs, atScale = true)
    assert(fast.except(scale).isEmpty && scale.except(fast).isEmpty)
    val expected = SequentialOracle.triples(docs.collect().toSeq,
      Spec.Gazetteer, Spec.SameAs)
    val actual = scale.collect()
      .map(r => SequentialOracle.T(r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSet
    assert(actual == expected)
  }

  test("empty sameAs graph: default and atScale both equal the oracle") {
    val docs = InterleavedDocs.synthesize(spark, 200L, seed = 5L,
      skewPct = 10).collect().toSeq
    val expected = SequentialOracle.triples(docs, Spec.Gazetteer, Seq.empty)
    // the corpus mentions sameAs-linked entities, so the empty graph matters
    assert(expected !=
      SequentialOracle.triples(docs, Spec.Gazetteer, Spec.SameAs))
    for (atScale <- Seq(false, true)) {
      val actual = sparkTriples(docs, Seq.empty, atScale)
      assert(actual == expected, s"atScale=$atScale: " +
        s"onlySpark=${(actual -- expected).take(3)} " +
        s"onlyOracle=${(expected -- actual).take(3)}")
    }
  }

  test("pipeline handles crafted edge docs (empty text, overlaps, aliases)") {
    val docs = Seq(
      Doc("e1", Seq(Span("text", "", null, 0))),
      Doc("e2", Seq(Span("text", "sort merge join hash join order", null, 0))),
      Doc("e3", Seq(Span("media", null, "m/1", 0),
        Span("text", "orders order data big data", null, 4))),
      Doc("e4", Seq(Span("text", null, null, 0), // malformed: dropped
        Span("media", null, "m/2", 5))),
      Doc("e5", Seq(Span("text", "customer customer customer", null, 0))))
    val expected = SequentialOracle.triples(docs, Spec.Gazetteer, Spec.SameAs)
    val actual = sparkTriples(docs)
    assert(actual == expected,
      s"onlySpark=${actual -- expected} onlyOracle=${expected -- actual}")
  }
}
