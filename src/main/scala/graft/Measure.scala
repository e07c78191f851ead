package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Timing and plan snapshots for the oracle-checked queries
  * ([[SparkEntry.queries]]). End-to-end and per-layer measurement of the
  * KG path is `kgbench/` (`python3 kgbench/run.py --trace 1`).
  * {{{
  * sbt "runMain graft.Measure query <sfDir> <name> [reps]"
  * sbt "runMain graft.Measure plan <sfDir> <outDir> <suffix> <name>..."
  * }}}
  *  - `query` runs the query once to warm the JIT and codegen, then `reps`
  *    times (default 3) into a noop sink, so every column of every row is
  *    computed and nothing is written; prints each rep and the median.
  *  - `plan` writes `<outDir>/<name>_<suffix>.txt` per name: the formatted
  *    plan, then the executed adaptive plan. AQE settles exchange reuse at
  *    run time, so `ReusedExchange` shows only in the executed one.
  *
  * Arguments are checked before the session starts: an unknown name exits
  * with status 2 without running a Spark job. The session has [[Bench]]'s
  * shape: `SPARK_GRAFT_CPUS` cores (default 4) and small scan splits. */
object Measure {

  sealed trait Cmd {
    def names: Seq[String]
    def run(spark: SparkSession): Unit
  }

  final case class Query(sfDir: String, name: String, reps: Int) extends Cmd {
    def names: Seq[String] = Seq(name)
    def run(spark: SparkSession): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val times = (1 to reps).map { i =>
        val t = once()
        println(f"MEASURE $name rep $i: $t%.3f s")
        t
      }.sorted
      val median = (times((reps - 1) / 2) + times(reps / 2)) / 2
      println(f"MEASURE $name median: $median%.3f s")
    }
  }

  final case class Plan(sfDir: String, outDir: String, suffix: String,
      names: Seq[String]) extends Cmd {
    def run(spark: SparkSession): Unit = {
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val formatted = qe.explainString(FormattedMode)
        // executes this QueryExecution's own plan (a write or collect
        // would plan anew), so the adaptive plan printed is the final one
        SQLExecution.withNewExecutionId(qe)(
          qe.executedPlan.execute().foreach(_ => ()))
        val executed = qe.executedPlan.toString
        val reused = executed.linesIterator.count(_.contains("ReusedExchange"))
        val path = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.write(path, (s"$formatted\n== Executed adaptive plan ==\n" +
          s"$executed\nReusedExchange nodes: $reused\n").getBytes(UTF_8))
        println(s"MEASURE plan $name: $path")
      }
    }
  }

  val Usage: String = "usage: graft.Measure query <sfDir> <name> [reps]\n" +
    "       graft.Measure plan <sfDir> <outDir> <suffix> <name>..."

  def parse(args: Seq[String]): Either[String, Cmd] = {
    val cmd: Either[String, Cmd] = args match {
      case Seq("query", sf, name) => Right(Query(sf, name, 3))
      case Seq("query", sf, name, reps) =>
        reps.toIntOption.filter(_ >= 1).map(Query(sf, name, _))
          .toRight(s"reps must be a positive integer, got '$reps'")
      case Seq("plan", sf, out, suffix, names @ _*) if names.nonEmpty =>
        Right(Plan(sf, out, suffix, names))
      case _ => Left(Usage)
    }
    cmd.flatMap { c =>
      val unknown = c.names.filterNot(SparkEntry.queries.contains)
      if (unknown.isEmpty) Right(c)
      else Left(s"unknown query: ${unknown.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(s"graft.Measure: $err")
      sys.exit(2)
    case Right(cmd) =>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", 8L * 1024 * 1024)
        .config("spark.sql.files.openCostInBytes", 512L * 1024)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try cmd.run(spark) finally spark.stop()
  }
}
