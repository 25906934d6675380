package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gold pre-aggregated marts (A3-A7, J9-J13): daily airline
  * performance, daily airport performance (full-outer dep ⟗ arr), and
  * monthly route performance — ported from the reference's
  * spark_jobs/gold_marts/aggregates package.
  *
  * Semantics kept deliberately:
  *  - KPI ratios divide by (TOTAL − CANCELLED); when every flight is
  *    cancelled that's ÷0 → NULL (Spark non-ANSI), not NaN;
  *  - conditional averages skip cancelled flights via avg(when(...))
  *    — avg ignores the NULLs the `when` produces;
  *  - the airport mart's full outer join resolves keys with
  *    when/otherwise coalescing (J12).
  *
  * Scale notes: dims are broadcast (they are small); each mart is one
  * hash aggregation whose only shuffle is its own group-by key. The
  * airport mart computes departures and arrivals as two aggs over the
  * same fact scan, then a full-outer join on the (date, airport) key.
  */
object Marts {

  /** Every mart over `fact` as (table name, rows, partition columns) —
    * the one list the full build and the incremental refresh write.
    */
  def all(fact: DataFrame, dims: GoldDims.Tables)
      : Seq[(String, DataFrame, Seq[String])] = Seq(
    ("daily_airline_performance",
      dailyAirlinePerformance(fact, dims.date, dims.airline), Seq("YEAR", "MONTH")),
    ("daily_airport_performance",
      dailyAirportPerformance(fact, dims.date, dims.airport), Seq("FLIGHT_DATE")),
    ("route_performance",
      routePerformance(fact, dims.date, dims.route, dims.airline), Seq("YEAR", "MONTH")))

  /** A3/A4 + J9 (aggregates/daily_airline_performance.py:9-74). */
  def dailyAirlinePerformance(fact: DataFrame, dimDate: DataFrame,
      dimAirline: DataFrame): DataFrame = {
    val joined = fact.as("f")
      .join(broadcast(dimDate.as("dd")), col("f.DATE_KEY") === col("dd.DATE_KEY"))
      .join(broadcast(dimAirline.as("da")),
        col("f.AIRLINE_CODE") === col("da.AIRLINE_CODE"))
    val agg = joined.groupBy(
        col("dd.FULL_DATE").as("FLIGHT_DATE"),
        col("dd.YEAR"), col("dd.MONTH"), col("dd.DAY_OF_WEEK_NAME"),
        col("dd.IS_WEEKEND"),
        col("da.AIRLINE_CODE"), col("da.AIRLINE_NAME"))
      .agg(
        count(lit(1)).as("TOTAL_FLIGHTS"),
        sum(when(col("f.IS_CANCELLED"), 1).otherwise(0)).as("CANCELLED_FLIGHTS"),
        sum(when(col("f.IS_DIVERTED"), 1).otherwise(0)).as("DIVERTED_FLIGHTS"),
        sum(when(col("f.IS_DELAYED"), 1).otherwise(0)).as("DELAYED_FLIGHTS"),
        sum(when(col("f.IS_ONTIME"), 1).otherwise(0)).as("ONTIME_FLIGHTS"),
        avg(when(!col("f.IS_CANCELLED"), col("f.DEPARTURE_DELAY")))
          .as("AVG_DEPARTURE_DELAY"),
        avg(when(!col("f.IS_CANCELLED"), col("f.ARRIVAL_DELAY")))
          .as("AVG_ARRIVAL_DELAY"),
        max(col("f.DEPARTURE_DELAY")).as("MAX_DEPARTURE_DELAY"),
        max(col("f.ARRIVAL_DELAY")).as("MAX_ARRIVAL_DELAY"),
        avg(col("f.AIR_TIME_MINUTES")).as("AVG_AIR_TIME"),
        avg(col("f.DISTANCE_KM")).as("AVG_DISTANCE"),
        avg(col("f.SPEED_KM_H")).as("AVG_SPEED"),
        avg(col("f.DATA_QUALITY_SCORE")).as("AVG_DATA_QUALITY_SCORE"))
    agg.select(col("*"),
      round((col("TOTAL_FLIGHTS") - col("CANCELLED_FLIGHTS"))
        / col("TOTAL_FLIGHTS") * 100, 2).as("COMPLETION_RATE"),
      round(col("CANCELLED_FLIGHTS") / col("TOTAL_FLIGHTS") * 100, 2)
        .as("CANCELLATION_RATE"),
      round(col("ONTIME_FLIGHTS")
        / (col("TOTAL_FLIGHTS") - col("CANCELLED_FLIGHTS")) * 100, 2)
        .as("ON_TIME_PERFORMANCE"),
      round(col("DELAYED_FLIGHTS")
        / (col("TOTAL_FLIGHTS") - col("CANCELLED_FLIGHTS")) * 100, 2)
        .as("DELAY_RATE"))
  }

  /** A5/A6 + J10-J12 (aggregates/daily_airport_performance.py:7-70). */
  def dailyAirportPerformance(fact: DataFrame, dimDate: DataFrame,
      dimAirport: DataFrame): DataFrame = {
    def side(fkCol: String): DataFrame => DataFrame = df =>
      df.as("f")
        .join(broadcast(dimDate.as("dd")), col("f.DATE_KEY") === col("dd.DATE_KEY"))
        .join(broadcast(dimAirport.as("da")), col(s"f.$fkCol") === col("da.AIRPORT_CODE"))
        .groupBy(col("dd.FULL_DATE").as("FLIGHT_DATE"),
          col("da.AIRPORT_CODE"), col("da.AIRPORT_NAME"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("f.IS_CANCELLED"), 1).otherwise(0)).as("cancelled"),
          sum(when(col("f.IS_DIVERTED"), 1).otherwise(0)).as("diverted"),
          avg(when(!col("f.IS_CANCELLED"), col("f.DEPARTURE_DELAY"))).as("avg_dep_delay"),
          avg(when(!col("f.IS_CANCELLED"), col("f.ARRIVAL_DELAY"))).as("avg_arr_delay"),
          sum(when(col("f.DEPARTURE_DELAY") > 0, 1).otherwise(0)).as("delayed_dep"),
          sum(when(col("f.ARRIVAL_DELAY") > 0, 1).otherwise(0)).as("delayed_arr"))

    val departures = side("ORIGIN_AIRPORT_CODE")(fact)
      .select(col("FLIGHT_DATE"), col("AIRPORT_CODE"), col("AIRPORT_NAME"),
        col("n").as("TOTAL_DEPARTURES"), col("cancelled").as("CANCELLED_DEPARTURES"),
        col("avg_dep_delay").as("AVG_DEPARTURE_DELAY"),
        col("delayed_dep").as("DELAYED_DEPARTURES"))
    val arrivals = side("DEST_AIRPORT_CODE")(fact)
      .select(col("FLIGHT_DATE"), col("AIRPORT_CODE"), col("AIRPORT_NAME"),
        col("n").as("TOTAL_ARRIVALS"), col("diverted").as("DIVERTED_ARRIVALS"),
        col("avg_arr_delay").as("AVG_ARRIVAL_DELAY"),
        col("delayed_arr").as("DELAYED_ARRIVALS"))

    departures.as("dep")
      .join(arrivals.as("arr"),
        col("dep.FLIGHT_DATE") === col("arr.FLIGHT_DATE") &&
        col("dep.AIRPORT_CODE") === col("arr.AIRPORT_CODE"),
        "outer")
      .select(
        when(col("dep.FLIGHT_DATE").isNotNull, col("dep.FLIGHT_DATE"))
          .otherwise(col("arr.FLIGHT_DATE")).as("FLIGHT_DATE"),
        when(col("dep.AIRPORT_CODE").isNotNull, col("dep.AIRPORT_CODE"))
          .otherwise(col("arr.AIRPORT_CODE")).as("AIRPORT_CODE"),
        when(col("dep.AIRPORT_NAME").isNotNull, col("dep.AIRPORT_NAME"))
          .otherwise(col("arr.AIRPORT_NAME")).as("AIRPORT_NAME"),
        col("dep.TOTAL_DEPARTURES"), col("dep.CANCELLED_DEPARTURES"),
        col("dep.AVG_DEPARTURE_DELAY"), col("dep.DELAYED_DEPARTURES"),
        col("arr.TOTAL_ARRIVALS"), col("arr.DIVERTED_ARRIVALS"),
        col("arr.AVG_ARRIVAL_DELAY"), col("arr.DELAYED_ARRIVALS"))
  }

  /** A7 + J13 (aggregates/route_performance.py:7-38). */
  def routePerformance(fact: DataFrame, dimDate: DataFrame,
      dimRoute: DataFrame, dimAirline: DataFrame): DataFrame =
    fact.as("f")
      .join(broadcast(dimDate.as("dd")), col("f.DATE_KEY") === col("dd.DATE_KEY"))
      .join(broadcast(dimRoute.as("dr")), col("f.ROUTE_CODE") === col("dr.ROUTE_CODE"))
      .join(broadcast(dimAirline.as("da")),
        col("f.AIRLINE_CODE") === col("da.AIRLINE_CODE"))
      .groupBy(
        col("dd.YEAR"), col("dd.MONTH"),
        col("dr.ROUTE_CODE"), col("dr.ROUTE_NAME"),
        col("dr.ORIGIN_AIRPORT_CODE"), col("dr.DEST_AIRPORT_CODE"),
        col("da.AIRLINE_CODE"), col("da.AIRLINE_NAME"))
      .agg(
        count(lit(1)).as("FLIGHT_FREQUENCY"),
        avg(col("f.DEPARTURE_DELAY")).as("AVG_DEPARTURE_DELAY"),
        avg(col("f.ARRIVAL_DELAY")).as("AVG_ARRIVAL_DELAY"),
        avg(col("f.AIR_TIME_MINUTES")).as("AVG_AIR_TIME"),
        sum(when(col("f.IS_CANCELLED"), 1).otherwise(0)).as("CANCELLATIONS"),
        sum(when(col("f.IS_ONTIME"), 1).otherwise(0)).as("ONTIME_FLIGHTS"))
      .select(col("*"),
        round(col("ONTIME_FLIGHTS")
          / (col("FLIGHT_FREQUENCY") - col("CANCELLATIONS")) * 100, 2)
          .as("ONTIME_PERFORMANCE_PCT"))
}
