package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One named query of the engine's public surface.
  *
  * @param name    stable key, appears in CORRECTNESS_r{N}.json
  * @param build   Spark-side implementation; (session, sfDir) => result
  * @param oracle  equivalent ANSI SQL runnable by DuckDB over the same
  *                parquet tables; None for non-SQL-expressible operators
  *                (those get a weaker rows-only check).
  */
final case class GraftQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object GraftQuery {

  /** Cross-engine-deterministic double aggregation.
    *
    * Raw doubles summed in different orders differ in the last ulp between
    * Spark and DuckDB. Casting to decimal first makes the arithmetic exact
    * and order-independent in BOTH engines: no IEEE-754 double is exactly
    * on a decimal rounding half-boundary (x.5·10^-s is never a dyadic
    * rational), so double->decimal(18,6) rounds identically everywhere,
    * and decimal sums/products are exact. Cast back to double at the end
    * for a compact, engine-identical result.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Narrow decimal for small-magnitude factors (discount/tax rates) so
    * chained decimal products stay under precision 38 without rescaling. */
  def decS(c: Column): Column = c.cast(DecimalType(8, 6))

  /** Oracle-SQL spelling of [[dec]]. */
  def sqlDec(e: String): String = s"CAST($e AS DECIMAL(18,6))"
}
