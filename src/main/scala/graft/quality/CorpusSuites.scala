package graft.quality

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Expectations._

/** Data-quality expectation suites for the TRAINING-CORPUS tables —
  * the §2.12 expectation algebra applied to the LLM-pipeline side of
  * the engine. A corpus landing (documents) and an embedding store
  * (embeddings) carry contracts exactly the way flight marts do:
  * schema, key uniqueness, domain membership, payload invariants.
  * Breaking any of these upstream silently corrupts every downstream
  * operator (dedup keys on doc_id; ANN assumes fixed finite dims), so
  * the suites run where the flight suites do — as pipeline gates.
  *
  * Same scale property as FlightSuites: each suite compiles into ONE
  * aggregation query over its table (plus free driver-side schema
  * checks) — a 100 TB corpus audit scans the corpus once, in the few
  * Spark jobs Expectations documents.
  *
  * Thresholds are sized for the synthetic corpus; production callers
  * tune the `mostly` knobs (e.g. lang coverage on a real crawl).
  */
object CorpusSuites {

  val langDomain: Seq[String] = Seq("en", "es", "fr", "de", "zh")

  /** Corpus landing contract: keyed, non-empty text, consistent
    * metadata (n_chars IS the text length — a drifted char count
    * breaks every length-based quality filter downstream).
    */
  val documents: Seq[Expectation] = Seq(
    rowCountBetween(1),
    columnExists("doc_id", "text", "lang", "source", "n_chars"),
    ofType("doc_id", LongType),
    unique("doc_id"),
    notNull("text"),
    notNull("source"),
    inSet("lang", langDomain),
    lengthBetween("text", 1, 100000),
    satisfies("n_chars_matches_text",
      col("n_chars") === length(col("text"))))

  /** Embedding-store contract: keyed, fixed-dimension, finite values
    * (a single NaN poisons every dot-product fold it touches), labels
    * in the supervision domain.
    */
  def embeddings(dims: Int = 64): Seq[Expectation] = Seq(
    rowCountBetween(1),
    columnExists("vec_id", "embedding", "label"),
    unique("vec_id"),
    notNull("embedding"),
    satisfies(s"embedding_dim_$dims", size(col("embedding")) === dims),
    satisfies("embedding_all_finite",
      !exists(col("embedding"),
        x => x.isNull || isnan(x) || abs(x) === Double.PositiveInfinity)),
    between("label", 0, 9))
}
