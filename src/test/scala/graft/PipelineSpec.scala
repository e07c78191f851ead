package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.model._
import graft.sources.InterleavedDocs

/** End-to-end pipeline vs the sequential semantics oracle: P/R must be 1.0
  * (SURVEY.md §0.2, stricter than the ≥0.95 acceptance bar). */
class PipelineSpec extends SparkTestBase {

  private def sparkTriples(docs: Seq[Doc],
      sameAs: Seq[SameAsEdge] = Spec.SameAs,
      atScale: Boolean = false,
      gazetteer: Seq[GazEntry] = Spec.Gazetteer): Set[SequentialOracle.T] = {
    import spark.implicits._
    val ds = spark.createDataset(docs)
    Pipeline.triples(spark, ds, gazetteer, sameAs, atScale)
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

  test("driver entUri equals the column entUriCol byte for byte") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test}
    import spark.implicits._
    // the pipeline mints on the driver, while DocStream.currentView and
    // the canon_uri query mint with the column form
    val supplementary = Gen.choose(0x10000, 0x10FFFF)
      .map(cp => new String(Character.toChars(cp)))
    val piece = Gen.frequency(
      4 -> Arbitrary.arbitrary[String],
      2 -> Gen.asciiStr,
      2 -> Gen.stringOf(Gen.choose(0.toChar, 0x1f.toChar)), // control chars
      2 -> Gen.stringOf(Gen.oneOf("éßøπж中文字ﬁ\u200b\u00a0".toSeq)),
      2 -> Gen.listOf(supplementary).map(_.mkString))
    val str = Gen.choose(1, 3).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    val fixed = Seq("", "\u0000", "\t\n\r", "E_customer", "ü", "中文",
      "\ud83d\ude00", "a\ud800\udc00b")
    def agree(xs: Seq[String]): Boolean = {
      val want = xs.map(Spec.entUri)
      val lits = spark.range(1)
        .select(xs.map(x => Spec.entUriCol(lit(x))): _*).head()
      val rows = xs.toDF("id").select(Spec.entUriCol(col("id")))
        .as[String].collect().toSeq
      val ok = xs.indices.forall(i => lits.getString(i) == want(i)) &&
        rows == want
      if (!ok) info(s"disagree on ${xs.map(_.codePoints.toArray.toSeq)}")
      ok
    }
    assert(agree(fixed))
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, str))(agree)
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(11L), prop)
    assert(result.passed, result.status.toString)
  }

  test("pipeline equals the per-document reference on random inputs") {
    import org.scalacheck.{Gen, Prop, Test}
    val words = Seq("alpha", "beta", "gamma", "delta")
    val surface = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(words)))
      .map(_.mkString(" "))
    // negative priors put whole surfaces below τ; -0.5 on a 5-letter
    // surface scores exactly τ; repeated priors make score ties
    val prior = Gen.oneOf(-3.0, -1.0, -0.5, 0.0, 0.5, 0.5, 0.9)
    val entities = Seq("E0", "E1", "E2", "E3", "E4")
    // a few surfaces per gazetteer, so surfaces are shared by several
    // entities and entities sit under several surfaces; each tie copy is
    // a second entity at the same surface and prior
    val gazetteer = for {
      pool <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, surface))
      es <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, for {
        s <- Gen.oneOf(pool); e <- Gen.oneOf(entities); p <- prior
      } yield GazEntry(s, e, p)))
      ties <- Gen.someOf(es)
    } yield es ++ ties.map(e => e.copy(entity_id = e.entity_id + "t"))
    val edge = for {
      a <- Gen.oneOf(entities :+ "E0t")
      b <- Gen.oneOf(entities :+ "E9")
    } yield SameAsEdge(a, b)
    val text = Gen.frequency(
      1 -> Gen.const(null: String), 1 -> Gen.const(""),
      6 -> Gen.listOf(Gen.oneOf(words ++ Seq("ALPHA", "x", "", "beta  gamma")))
        .map(_.mkString(" ")))
    val span = for {
      kind <- Gen.frequency(6 -> "text", 3 -> "media", 1 -> "other")
      t <- text
      m <- Gen.oneOf(null: String, "m/1", "m/2")
      off <- Gen.choose(-2, 30)
    } yield Span(kind, t, m, off)
    val doc = for {
      id <- Gen.oneOf("d0", "d1", "d2", "d3") // shared ids, differing rows
      spans <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, span))
    } yield Doc(id, spans)
    val docs = Gen.choose(0, 8).flatMap(Gen.listOfN(_, doc))
      .flatMap(ds => Gen.someOf(ds).map(ds ++ _)) // exact duplicate rows
    def agrees(ds: Seq[Doc], gaz: Seq[GazEntry],
        sameAs: Seq[SameAsEdge]): Boolean = {
      val want = SequentialOracle.triples(ds, gaz, sameAs)
      val got = sparkTriples(ds, sameAs, gazetteer = gaz)
      if (got != want) info(s"docs=$ds gaz=$gaz sameAs=$sameAs " +
        s"onlyPipeline=${got -- want} onlyReference=${want -- got}")
      got == want
    }
    // two rows of d0 with different mentions at (span 0, begin 0): top-1
    // per row links both, top-1 grouped across rows keeps only E1
    assert(agrees(Seq(Doc("d0", Seq(Span("text", "alpha beta", null, 0))),
        Doc("d0", Seq(Span("text", "alpha", null, 0)))),
      Seq(GazEntry("alpha beta", "E1", 0.5), GazEntry("alpha", "E2", 0.5)),
      Nil))
    val prop = Prop.forAllNoShrink(docs, gazetteer, Gen.listOf(edge))(agrees)
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(23L), prop)
    assert(result.passed, result.status.toString)
  }

  test("triple plan runs no join and no broadcast on every caller's path") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.streaming.DocStream
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    val state = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val plans: Seq[(String, DataFrame)] = Seq(
      "default" -> Pipeline.triples(spark, docs),
      "atScale" -> Pipeline.triples(spark, docs, atScale = true),
      "stream" -> Pipeline.triplesWithComponents(spark, docs,
        DocStream.advanceComponents(spark, state, 0L, Spec.SameAs)))
    val aqe = new AdaptiveSparkPlanHelper {}
    for ((name, df) <- plans) {
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      val joins = aqe.collect(plan) { case j: BaseJoinExec => j }
      val bcasts = aqe.collect(plan) { case b: BroadcastExchangeExec => b }
      assert(joins.isEmpty && bcasts.isEmpty,
        s"$name: ${joins.length} joins, ${bcasts.length} broadcasts:\n$plan")
      // one corpus pass: one documents scan, the one distinct's exchange,
      // and no top-1 aggregate (Linker.top1's min_by plans a SortAggregate)
      val scans = aqe.collect(plan) { case f: FileSourceScanExec => f }
      val shuffles = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
      val sortAggs = aqe.collect(plan) { case a: SortAggregateExec => a }
      assert(scans.length == 1 && shuffles.length == 1 && sortAggs.isEmpty,
        s"$name: ${scans.length} scans, ${shuffles.length} shuffles, " +
          s"${sortAggs.length} sort aggregates:\n$plan")
    }
  }
}
