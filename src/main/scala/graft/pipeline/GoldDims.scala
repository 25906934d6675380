package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Concurrent, ParquetTable}

/** Gold star-schema dimensions (SURVEY.md §2 G1/G2/A1/A2/U1).
  *
  * Static spines (date, time) are generators; silver-derived dims
  * (airline, airport, route) are distinct/aggregate passes. The audit
  * clock is injectable for deterministic tests.
  */
object GoldDims {

  /** The five dims of one warehouse, as read back from `gold/dim_*`. */
  final case class Tables(date: DataFrame, time: DataFrame,
      airline: DataFrame, airport: DataFrame, route: DataFrame)

  /** Build every dim, overwrite `gold/dim_*` with the five writes
    * running concurrently, and return the WRITTEN tables. Callers join
    * the fact and marts against these, so each silver-derived dim is
    * computed once per run: a lazy builder above re-derives its dim
    * from silver at every join the dim feeds.
    */
  def writeAll(spark: SparkSession, silver: DataFrame, wh: String): Tables = {
    val names = Seq("dim_date", "dim_time", "dim_airline", "dim_airport",
      "dim_route")
    val built = Seq(dimDate(spark), dimTime(spark), dimAirline(silver),
      dimAirport(silver), dimRoute(silver))
    Concurrent.all(names.zip(built).map { case (n, d) =>
      () => ParquetTable.write(d, s"$wh/gold/$n")
    })
    val Seq(date, time, airline, airport, route) =
      names.map(n => ParquetTable.read(spark, s"$wh/gold/$n"))
    Tables(date, time, airline, airport, route)
  }

  /** dim_date: G1 date spine 2020-01-01..2030-12-31 (4,018 rows),
    * DATE_KEY = yyyyMMdd int (dimensions/dim_date.py:8-33).
    */
  def dimDate(spark: SparkSession, startDate: String = "2020-01-01",
      endDate: String = "2030-12-31"): DataFrame =
    spark.sql(
      s"""select explode(sequence(
         |  to_date('$startDate'), to_date('$endDate'), interval 1 day
         |)) as full_date""".stripMargin)
      .select(
        date_format(col("full_date"), "yyyyMMdd").cast("int").as("DATE_KEY"),
        col("full_date").as("FULL_DATE"),
        year(col("full_date")).as("YEAR"),
        quarter(col("full_date")).as("QUARTER"),
        month(col("full_date")).as("MONTH"),
        date_format(col("full_date"), "MMM").as("MONTH_NAME"),
        weekofyear(col("full_date")).as("WEEK_OF_YEAR"),
        dayofmonth(col("full_date")).as("DAY_OF_MONTH"),
        dayofweek(col("full_date")).as("DAY_OF_WEEK"),
        date_format(col("full_date"), "EEEE").as("DAY_OF_WEEK_NAME"),
        dayofweek(col("full_date")).isin(1, 7).as("IS_WEEKEND"))

  /** dim_time: G2 minute spine, 1,440 rows, TIME_KEY = HHMM int
    * (dimensions/dim_time.py:9-91).
    *
    * Deviation from the reference, documented: dim_time.py:17-20
    * builds TIME_KEY with `+` between two lpad'd STRINGS, which
    * PySpark evaluates as numeric addition (09:30 → 9+30 = 39),
    * colliding keys and violating the repo's own TIME_KEY-unique
    * expectation (gold_expectations.py:247-248). We implement the
    * intended concat: 0930 → 930.
    */
  def dimTime(spark: SparkSession): DataFrame = {
    val hh = (col("minutes_from_midnight") / 60).cast("int")
    val mm = (col("minutes_from_midnight") % 60).cast("int")
    spark.range(0, 1440).select(col("id").as("minutes_from_midnight"))
      .select(
        concat(lpad(hh.cast("string"), 2, "0"), lpad(mm.cast("string"), 2, "0"))
          .cast("int").as("TIME_KEY"),
        hh.as("HOUR_24"),
        when(hh === 0, 12).when(hh <= 12, hh).otherwise(hh - 12).as("HOUR_12"),
        mm.as("MINUTE"),
        concat(lpad(hh.cast("string"), 2, "0"), lit(":"),
          lpad(mm.cast("string"), 2, "0")).as("TIME_STRING"),
        when(hh < 12, "AM").otherwise("PM").as("AM_PM"),
        when(hh < 6, "Night").when(hh < 12, "Morning")
          .when(hh < 18, "Afternoon").when(hh < 22, "Evening")
          .otherwise("Night").as("TIME_OF_DAY"),
        (hh >= 9 && hh < 17).as("IS_BUSINESS_HOURS"),
        ((hh >= 6 && hh < 9) || (hh >= 16 && hh < 19)).as("IS_PEAK_HOURS"),
        (hh < 6).as("IS_EARLY_MORNING"),
        (hh >= 22).as("IS_LATE_NIGHT"),
        (hh >= 22 || hh < 6).as("IS_RED_EYE"))
  }

  /** dim_airline: A2 distinct (dimensions/dim_airline.py:8-12). */
  def dimAirline(silver: DataFrame,
      clock: Column = current_timestamp()): DataFrame =
    silver.select(col("AIRLINE_CODE"), col("AIRLINE_NAME")).distinct()
      .withColumn("created_at", clock)
      .withColumn("updated_at", clock)

  /** dim_airport: U1 union of origin ∪ dest then distinct
    * (dimensions/dim_airport.py:7-18). unionByName (the reference's
    * positional union is correct only because both sides project the
    * same order; byName is drift-proof).
    */
  def dimAirport(silver: DataFrame,
      clock: Column = current_timestamp()): DataFrame = {
    val origin = silver.select(
      col("ORIGIN_AIRPORT_CODE").as("AIRPORT_CODE"),
      col("ORIGIN_AIRPORT_NAME").as("AIRPORT_NAME")).distinct()
    val dest = silver.select(
      col("DEST_AIRPORT_CODE").as("AIRPORT_CODE"),
      col("DEST_AIRPORT_NAME").as("AIRPORT_NAME")).distinct()
    origin.unionByName(dest).distinct()
      .withColumn("created_at", clock)
      .withColumn("updated_at", clock)
  }

  /** dim_route: A1 rollup with decimal(10,2) averages and popularity
    * tiers (dimensions/dim_route.py:8-43).
    */
  def dimRoute(silver: DataFrame,
      clock: Column = current_timestamp()): DataFrame =
    silver.groupBy(
        col("ROUTE_CODE"), col("ROUTE_NAME"),
        col("ORIGIN_AIRPORT_CODE"), col("ORIGIN_AIRPORT_NAME"),
        col("DEST_AIRPORT_CODE"), col("DEST_AIRPORT_NAME"))
      .agg(
        avg("DISTANCE_KM").as("AVG_DISTANCE_KM"),
        avg("AIR_TIME_MINUTES").as("AVG_AIR_TIME_MINUTES"),
        count(lit(1)).as("TOTAL_FLIGHTS"))
      .select(
        col("ROUTE_CODE"), col("ROUTE_NAME"),
        col("ORIGIN_AIRPORT_CODE"), col("ORIGIN_AIRPORT_NAME"),
        col("DEST_AIRPORT_CODE"), col("DEST_AIRPORT_NAME"),
        col("AVG_DISTANCE_KM").cast(DecimalType(10, 2)).as("DISTANCE_KM"),
        col("AVG_AIR_TIME_MINUTES").cast(DecimalType(10, 2))
          .as("EXPECTED_AIR_TIME_MINUTES"),
        col("TOTAL_FLIGHTS"),
        when(col("TOTAL_FLIGHTS") >= 1000, "Very Popular")
          .when(col("TOTAL_FLIGHTS") >= 500, "Popular")
          .when(col("TOTAL_FLIGHTS") >= 100, "Moderate")
          .otherwise("Low Frequency").as("ROUTE_POPULARITY"),
        clock.as("created_at"),
        clock.as("updated_at"))
}
