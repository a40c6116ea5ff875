package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{conv, md5, substring}
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

  /** The md5 bucket every deterministic split and sample keys on: the
    * first four hex digits of md5(key as a string), read as a long in
    * [0, 65536). */
  private[queries] def md5Bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10).cast("long")

  /** Oracle-SQL spelling of [[md5Bucket]] over the column `key`. */
  private[queries] def sqlMd5Bucket(key: String): String =
    s"('0x' || substring(md5(CAST($key AS VARCHAR)), 1, 4))::INT"
}
