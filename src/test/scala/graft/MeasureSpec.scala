package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The measurement main over the oracle-checked queries, at sf0.001. */
class MeasureSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def run(args: String*): Seq[String] = {
    val cmd = Measure.parse(args).fold(err => fail(err), identity)
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(cmd.run(spark))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("plan writes one file per requested name, with the executed plan") {
    val out = Files.createTempDirectory("measure-plan")
    run("plan", sf, out.toString, "t", "top1_link", "dedup_exact")
    val files = Files.list(out).iterator.asScala.map(_.getFileName.toString)
      .toSet
    assert(files == Set("top1_link_t.txt", "dedup_exact_t.txt"))
    files.foreach { f =>
      val txt = Files.readString(out.resolve(f))
      assert(txt.contains("== Physical Plan =="), f)
      assert(txt.contains("AdaptiveSparkPlan isFinalPlan=true"), f)
    }
  }

  test("query prints one timing per rep and a median") {
    val lines = run("query", sf, "q_lineitem_agg", "2")
    assert(lines.count(_.matches("MEASURE q_lineitem_agg rep \\d: .* s")) == 2,
      lines)
    assert(lines.count(_.startsWith("MEASURE q_lineitem_agg median: ")) == 1,
      lines)
  }

  test("unknown name exits non-zero before any Spark job runs") {
    assert(Measure.parse(Seq("query", sf, "no_such_query")).isLeft)
    assert(Measure.parse(Seq("plan", sf, "/tmp", "t", "top1_link",
      "no_such_query")).isLeft)
    // the real main in a fresh JVM: a Spark session would log SparkContext
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.Measure", "query", sf, "no_such_query")
      .redirectErrorStream(true).start()
    val output = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 2, output)
    assert(output.contains("unknown query: no_such_query"), output)
    assert(!output.contains("SparkContext"), output)
  }
}
