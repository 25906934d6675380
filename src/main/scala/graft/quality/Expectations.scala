package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Declarative data-quality checks — the §2.12 expectation algebra of
  * the reference's Great Expectations suites
  * (expectations/bronze|silver|gold_expectations.py), re-implemented
  * as plain Spark aggregations with `mostly` thresholds.
  *
  * Scale design: ALL data-dependent checks in a suite compile into ONE
  * aggregation query over the table (the reference runs one Spark job
  * per expectation — ≥50 scans for the silver suite), with partial
  * aggregation map-side. Schema checks (columnExists / ofType)
  * evaluate driver-side for free.
  *
  * What a suite costs in Spark jobs is more than one: the monthly DAG
  * measures ~3.6 jobs per suite (`quality.jobs_per_suite` 3.58 in the
  * lakehouse benchmark's trace). Reading a parquet table first runs a
  * schema job over its footers; adaptive execution then runs the
  * aggregation's shuffle-map stage and its final stage as separate
  * jobs; and a `unique` check's countDistinct adds one more exchange
  * (and job) for the distinct keys. The table data itself is scanned
  * once per suite.
  */
object Expectations {

  final case class ExpectationResult(name: String, success: Boolean,
      observed: String)

  final case class ValidationReport(results: Seq[ExpectationResult]) {
    def total: Int = results.size
    def passed: Int = results.count(_.success)
    def failed: Int = total - passed
    def successRate: Double = if (total == 0) 100.0 else passed * 100.0 / total
    def success: Boolean = failed == 0
    def summary: String =
      f"$passed/$total checks passed ($successRate%.1f%%)" +
        results.filterNot(_.success)
          .map(r => s"\n  FAIL ${r.name}: ${r.observed}").mkString
  }

  /** One expectation: either schema-only (evaluated on the driver) or
    * aggregate-backed (contributes columns to the single agg pass).
    */
  sealed trait Expectation { def name: String }

  private final case class SchemaCheck(name: String,
      eval: DataFrame => ExpectationResult) extends Expectation

  /** aggs are evaluated once; `judge` receives their values. */
  private final case class AggCheck(name: String, aggs: Seq[Column],
      judge: Seq[Any] => (Boolean, String)) extends Expectation

  // ---- constructors (§2.12 check classes) ---------------------------

  def rowCountBetween(min: Long, max: Long = Long.MaxValue): Expectation =
    AggCheck(s"row_count_between($min,${if (max == Long.MaxValue) "inf" else max})",
      Seq(count(lit(1))),
      { case Seq(n: Long) => (n >= min && n <= max, s"rows=$n") })

  def columnExists(cols: String*): Expectation =
    SchemaCheck(s"columns_exist(${cols.mkString(",")})", df => {
      val missing = cols.filterNot(df.columns.contains)
      ExpectationResult(s"columns_exist(${cols.mkString(",")})",
        missing.isEmpty,
        if (missing.isEmpty) "all present" else s"missing=${missing.mkString(",")}")
    })

  def ofType(colName: String, tpe: DataType): Expectation =
    SchemaCheck(s"column_of_type($colName,${tpe.simpleString})", df => {
      val ok = df.schema.fields.find(_.name == colName).exists(_.dataType == tpe)
      ExpectationResult(s"column_of_type($colName,${tpe.simpleString})", ok,
        df.schema.fields.find(_.name == colName)
          .map(f => s"actual=${f.dataType.simpleString}").getOrElse("column missing"))
    })

  /** Fraction-of-rows checks share this ratio plumbing. */
  private def ratioCheck(name: String, good: Column, mostly: Double): Expectation =
    AggCheck(name,
      Seq(sum(when(good, 1L).otherwise(0L)), count(lit(1))),
      { case Seq(g, n: Long) =>
        val goodN = Option(g).map(_.asInstanceOf[Long]).getOrElse(0L)
        val ratio = if (n == 0) 1.0 else goodN.toDouble / n
        (ratio >= mostly, f"ratio=$ratio%.4f (n=$n)")
      })

  def notNull(c: String, mostly: Double = 1.0): Expectation =
    ratioCheck(s"not_null($c,mostly=$mostly)", col(c).isNotNull, mostly)

  /** Range check over NON-NULL values (GE semantics: nulls don't count
    * against between).
    */
  def between(c: String, lo: Double, hi: Double,
      mostly: Double = 1.0): Expectation =
    ratioCheck(s"between($c,$lo,$hi,mostly=$mostly)",
      col(c).isNull || col(c).between(lo, hi), mostly)

  def lengthBetween(c: String, lo: Int, hi: Int,
      mostly: Double = 1.0): Expectation =
    ratioCheck(s"length_between($c,$lo,$hi,mostly=$mostly)",
      col(c).isNull || length(col(c)).between(lo, hi), mostly)

  def inSet(c: String, values: Seq[Any], mostly: Double = 1.0): Expectation =
    ratioCheck(s"in_set($c,mostly=$mostly)",
      col(c).isNull || col(c).isin(values: _*), mostly)

  /** Arbitrary row predicate with mostly threshold. */
  def satisfies(name: String, predicate: Column,
      mostly: Double = 1.0): Expectation =
    ratioCheck(s"satisfies($name,mostly=$mostly)", predicate, mostly)

  /** Primary-key uniqueness: count == countDistinct (null-free). */
  def unique(c: String): Expectation =
    AggCheck(s"unique($c)",
      Seq(count(col(c)), countDistinct(col(c)), count(lit(1))),
      { case Seq(nonNull: Long, distinct: Long, n: Long) =>
        (nonNull == distinct && nonNull == n,
          s"rows=$n nonNull=$nonNull distinct=$distinct")
      })

  // ---- runner -------------------------------------------------------

  /** Run a suite: one aggregation query for every data check + free
    * schema checks.
    */
  def validate(df: DataFrame, expectations: Seq[Expectation]): ValidationReport = {
    val aggChecks = expectations.collect { case a: AggCheck => a }
    val aggValues: Map[String, Seq[Any]] =
      if (aggChecks.isEmpty) Map.empty
      else {
        val allAggs = aggChecks.flatMap(_.aggs)
        val row: Row = df.agg(allAggs.head, allAggs.tail: _*).head()
        val flat = (0 until row.length).map(i =>
          if (row.isNullAt(i)) null else row.get(i))
        var offset = 0
        aggChecks.map { a =>
          val vals = flat.slice(offset, offset + a.aggs.size)
          offset += a.aggs.size
          a.name -> (vals: Seq[Any])
        }.toMap
      }
    val results = expectations.map {
      case s: SchemaCheck => s.eval(df)
      case a: AggCheck =>
        val (ok, observed) = a.judge(aggValues(a.name))
        ExpectationResult(a.name, ok, observed)
    }
    ValidationReport(results)
  }
}
