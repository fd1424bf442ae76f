package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One registered engine capability: a Spark query builder plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against (SURVEY.md §5). `oracle == None` → the
  * driver records a weaker rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Shared expression helpers that keep Spark results bit-identical to the
  * DuckDB oracle (SURVEY.md §7 hard parts):
  *
  *  - double summation order differs between engines, so every SUM over a
  *    double column goes through an exact DECIMAL accumulator and is cast
  *    back to double — `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)` on
  *    both sides. Decimal addition is exact, so accumulation order is
  *    irrelevant and the final double is identical.
  *  - a double product (e.g. price * (1-discount)) is computed in IEEE
  *    double on both engines (identical), then decimal-cast; binary doubles
  *    never land exactly on a decimal rounding midpoint, so the rounding
  *    mode difference between engines cannot surface.
  *  - AVG is never used directly (Spark yields DECIMAL, DuckDB DOUBLE);
  *    it is always written as exact-SUM / COUNT in both engines.
  */
object Qdsl {
  val D2: DecimalType = DecimalType(18, 2)
  val D6: DecimalType = DecimalType(18, 6)

  /** Order-insensitive exact sum of a money-like double, as double. */
  def dsum(c: Column): Column = sum(c.cast(D2)).cast(DoubleType)

  /** Exact 2-decimal view of a money column. The driver data is exact at
    * 2 decimals (verified for every double column), so this cast recovers
    * the true decimal identically in Spark and DuckDB; all further
    * arithmetic on `d2` columns is exact decimal math, immune to the
    * engines' differing double→decimal rounding of computed products.
    */
  def d2(c: Column): Column = c.cast(D2)

  /** Same at 6-decimal scale (rates, small measures). */
  def dsum6(c: Column): Column = sum(c.cast(D6)).cast(DoubleType)

  /** Exact mean: decimal sum / count, evaluated as double / long. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))
  def davg6(c: Column): Column = dsum6(c) / count(lit(1))

  /** The corpus's naive whitespace tokenizer as Spark SQL text: tokens of
    * lowercased `text` split on single spaces (the reference's word_count
    * split, categorizer.py:137 `split(value," ")`), empty tokens kept.
    * The oracle twin is [[oracleToksSql]]. */
  val toksSql = "split(lower(text), ' ')"

  /** [[toksSql]] as DuckDB SQL, for the oracle queries. */
  val oracleToksSql = "string_split(lower(text), ' ')"
}
