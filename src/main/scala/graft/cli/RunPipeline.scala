package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Concurrent, GraftSession, ParquetTable}
import graft.pipeline._
import graft.quality.Expectations

/** Pipeline runner — replaces the reference's Airflow DAG
  * (airflow/dags/lakehouse_etl_pipeline.py) with one main per stage
  * plus run-all, spark-submit friendly:
  *
  *   spark-submit --class graft.cli.RunPipeline <jar> \
  *     <stage: bronze|silver|gold|export|all|incremental> <flightsCsv>
  *     <airportsCsv> <carriersCsv> <warehouseDir> [--validate]
  *
  * Writes partitioned parquet via the TableFormat facade:
  *   bronze/flights (partition_date), silver/flights
  *   (FLIGHT_DATE would explode file counts at daily grain ×
  *   airline — the reference's choice; we partition by AIRLINE_CODE
  *   only and sort within partitions by date), gold dims/fact/marts
  *   (the daily marts partitioned so `incremental` can swap months
  *   in-place — see pipeline.Incremental).
  *
  * `gate` is the per-stage quality hook (FlightSuites under
  * --validate); stages are public so specs and schedulers can drive
  * them against their own session.
  */
object RunPipeline {

  type Gate = (DataFrame, Seq[Expectations.Expectation], String) => Unit
  val noGate: Gate = (_, _, _) => ()

  def runBronze(spark: SparkSession, flightsCsv: String, airportsCsv: String,
      carriersCsv: String, wh: String, gate: Gate = noGate): Unit = {
    val bronze = Bronze.ingest(spark, flightsCsv, airportsCsv, carriersCsv)
    gate(bronze, graft.quality.FlightSuites.bronze, "bronze")
    ParquetTable.write(bronze, s"$wh/bronze/flights", Seq("partition_date"))
  }

  def runSilver(spark: SparkSession, wh: String, gate: Gate = noGate): Unit = {
    val silver = Silver.transform(ParquetTable.read(spark, s"$wh/bronze/flights"))
    gate(silver, graft.quality.FlightSuites.silver, "silver")
    ParquetTable.write(
      silver.repartition(silver("AIRLINE_CODE"))
        .sortWithinPartitions("FLIGHT_DATE"),
      s"$wh/silver/flights", Seq("AIRLINE_CODE"))
  }

  def runGold(spark: SparkSession, wh: String, gate: Gate = noGate): Unit = {
    val silver = ParquetTable.read(spark, s"$wh/silver/flights")
    val dims = GoldDims.writeAll(spark, silver, wh)
    gate(dims.date, graft.quality.FlightSuites.dimDate, "dim_date")
    gate(dims.time, graft.quality.FlightSuites.dimTime, "dim_time")
    gate(dims.airport, graft.quality.FlightSuites.dimAirport, "dim_airport")
    gate(dims.route, graft.quality.FlightSuites.dimRoute, "dim_route")

    val fact = FactFlights.build(silver, dims.date, dims.airport,
      dims.airline, dims.route)
    gate(fact, graft.quality.FlightSuites.factFlights, "fact_flights")
    ParquetTable.write(
      fact.repartition(fact("DATE_KEY")), s"$wh/gold/fact_flights",
      Seq("DATE_KEY"))

    val factR = ParquetTable.read(spark, s"$wh/gold/fact_flights")
    Concurrent.all(Marts.all(factR, dims).map { case (n, mart, parts) =>
      () => ParquetTable.write(mart, s"$wh/gold/$n", parts)
    })
  }

  def runExport(spark: SparkSession, wh: String): Unit =
    Concurrent.all(Seq("daily_airline_performance", "daily_airport_performance",
      "route_performance").map { mart => () =>
      ParquetTable.exportCsv(
        ParquetTable.read(spark, s"$wh/gold/$mart"), s"$wh/export/$mart")
    })

  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: RunPipeline <bronze|silver|gold|export|all|incremental> " +
          "<flightsCsv> <airportsCsv> <carriersCsv> <warehouseDir> " +
          "[--validate]   (incremental: flightsCsv = the delta batch)")
      sys.exit(2)
    }
    val Array(stage, flightsCsv, airportsCsv, carriersCsv, wh) = args.take(5)
    val validate = args.contains("--validate")
    val spark = GraftSession.local(appName = s"graft-pipeline-$stage")

    val gate: Gate =
      if (!validate) noGate
      else (df, suite, name) => {
        val report = Expectations.validate(df, suite)
        println(s"[quality] $name: ${report.summary}")
        if (!report.success) { spark.stop(); sys.exit(1) }
      }

    stage match {
      case "bronze" => runBronze(spark, flightsCsv, airportsCsv, carriersCsv, wh, gate)
      case "silver" => runSilver(spark, wh, gate)
      case "gold"   => runGold(spark, wh, gate)
      case "export" => runExport(spark, wh)
      case "all" =>
        runBronze(spark, flightsCsv, airportsCsv, carriersCsv, wh, gate)
        runSilver(spark, wh, gate)
        runGold(spark, wh, gate)
        runExport(spark, wh)
      // fold a delta CSV (e.g. one new month) into an existing
      // warehouse: affected mart partitions recomputed, history
      // untouched — see pipeline.Incremental
      case "incremental" =>
        val months = Incremental.run(spark, wh, flightsCsv, airportsCsv, carriersCsv)
        println(s"[incremental] refreshed months: ${months.mkString(", ")}")
      case other =>
        System.err.println(s"unknown stage: $other"); spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}
