package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-parity helpers shared by the query registry: Spark-side column
  * builders and the DuckDB SQL fragments that reproduce them bit-for-bit
  * (parity rules in SparkEntry's Scaladoc).
  */
private[graft] object Parity {

  /** DuckDB form of `TextAnalysis.normalize`: lowercase, trim, collapse
    * whitespace runs to one space.
    */
  val normSql = "regexp_replace(lower(trim(text)),'\\s+',' ','g')"

  /** k-word shingle list comprehension with the short-doc fallback used by
    * the codegen'd WordKGrams expression ([norm] when fewer than k words).
    */
  def shinglesSql(k: Int) =
    s"CASE WHEN len(toks)>=$k THEN [array_to_string(toks[i:i+${k - 1}],' ') for i in range(1,len(toks)-${k - 2})] ELSE [norm] END"

  /** Exact-decimal money arithmetic: the fixtures' money columns are
    * 2-decimal values, so aggregating as DECIMAL is exact and
    * order-independent — a plain double sum can flip a round() boundary
    * depending on partition/merge order (observed: .595 rounding .59 vs
    * .60 between engines). Matching oracle form:
    * CAST(round(sum(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE).
    */
  def dec2(c: Column) = c.cast("decimal(18,2)")

  /** A date literal like "1997-01-01" as a (UTC session) timestamp. */
  def tsLit(date: String) = to_timestamp(lit(date))

  /** TPC-H discounted revenue, exact in DECIMAL, and its oracle twin. */
  def revenue = sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
  val revenueSql =
    "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
}
