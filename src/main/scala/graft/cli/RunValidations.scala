package graft.cli

import org.apache.spark.sql.SparkSession
import graft.core.{Concurrent, GraftSession, ParquetTable}
import graft.quality.{Expectations, FlightSuites}
import graft.quality.Expectations.ValidationReport

/** One-shot validation sweep over every warehouse layer — the
  * engine's equivalent of the reference's
  * expectations/run_all_expectations.py:29-147 (which loops suites,
  * prints a per-suite pass/fail summary, and exits nonzero on any
  * failure; GE then renders the same results as data docs).
  *
  *   spark-submit --class graft.cli.RunValidations <jar> <warehouseDir>
  *
  * Each suite's data checks compile into one aggregation query over
  * its table (see quality.Expectations for what that query costs in
  * Spark jobs). The suites are independent, so they run concurrently
  * (`core.Concurrent`): the sweep's wall time is set by the slowest
  * suite plus contention, not by their sum. A missing table is
  * reported and counts as a failure — a monthly operator should notice
  * a half-built warehouse, not validate around it.
  */
object RunValidations {

  /** (table, Some(report)) per layer, None when the table is missing/
    * unreadable. Separated from main for spec coverage.
    */
  def validateAll(spark: SparkSession, wh: String)
      : Seq[(String, Option[ValidationReport])] = {
    val suites = Seq(
      "bronze/flights" -> FlightSuites.bronze,
      "silver/flights" -> FlightSuites.silver,
      "gold/dim_date" -> FlightSuites.dimDate,
      "gold/dim_time" -> FlightSuites.dimTime,
      "gold/dim_airline" -> FlightSuites.dimAirline,
      "gold/dim_airport" -> FlightSuites.dimAirport,
      "gold/dim_route" -> FlightSuites.dimRoute,
      "gold/fact_flights" -> FlightSuites.factFlights)
    // corpus-side layers validate only when present — a flights-only
    // warehouse is complete without them, but a landed corpus is
    // gated exactly like the marts (see quality.CorpusSuites)
    val corpusSuites = Seq(
      "corpus/documents" -> graft.quality.CorpusSuites.documents,
      "corpus/embeddings" -> graft.quality.CorpusSuites.embeddings())
      .filter { case (table, _) =>
        // the warehouse's own filesystem, so a URI warehouse (file://,
        // hdfs://, s3a://) finds its corpus tables too
        val path = new org.apache.hadoop.fs.Path(s"$wh/$table")
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(path) && fs.getFileStatus(path).isDirectory
      }
    Concurrent.all((suites ++ corpusSuites).map { case (table, suite) => () =>
      val report =
        try Some(Expectations.validate(
          ParquetTable.read(spark, s"$wh/$table"), suite))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      table -> report
    })
  }

  /** True iff every layer exists and every check passed. */
  def allPassed(results: Seq[(String, Option[ValidationReport])]): Boolean =
    results.forall(_._2.exists(_.success))

  /** Markdown data-docs — the engine's stand-in for GE's rendered
    * report: one table per layer with every check's name, outcome, and
    * observed value, plus a summary header. Returns the document.
    */
  def renderReport(results: Seq[(String, Option[ValidationReport])],
      wh: String): String = {
    val (p, t) = (results.count(_._2.exists(_.success)), results.size)
    val header =
      s"""# Data quality report
         |
         |Warehouse: `$wh`  —  **$p/$t suites passed**
         |""".stripMargin
    val sections = results.map {
      case (table, None) =>
        s"\n## $table\n\nMISSING — table unreadable or not built.\n"
      case (table, Some(r)) =>
        val rows = r.results.map(x =>
          s"| ${if (x.success) "PASS" else "**FAIL**"} | ${x.name} | ${x.observed} |")
        s"""
           |## $table — ${r.summary.linesIterator.next()}
           |
           || outcome | check | observed |
           ||---|---|---|
           |${rows.mkString("\n")}
           |""".stripMargin
    }
    header + sections.mkString
  }

  /** Write the report under the warehouse and return its path. */
  def writeReport(results: Seq[(String, Option[ValidationReport])],
      wh: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(wh, "_validation")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(
      dir.resolve("report.md"), renderReport(results, wh))
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: RunValidations <warehouseDir>")
      sys.exit(2)
    }
    val wh = args(0)
    val spark = GraftSession.local(appName = "graft-validate")
    val results = validateAll(spark, wh)
    results.foreach {
      case (table, Some(r)) =>
        println(s"[${if (r.success) "PASS" else "FAIL"}] $table: ${r.summary}")
      case (table, None) =>
        println(s"[FAIL] $table: table missing or unreadable")
    }
    val ok = allPassed(results)
    val (p, t) = (results.count(_._2.exists(_.success)), results.size)
    println(s"[quality] $p/$t suites passed; report: ${writeReport(results, wh)}")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
