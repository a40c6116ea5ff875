package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Tables are read straight from parquet so Catalyst keeps full pushdown:
  * filters and column pruning reach the parquet scan (`PushedFilters` /
  * `ReadSchema` in `.explain`), and partition-level parallelism follows
  * `spark.sql.files.maxPartitionBytes`. At 100 TB these would be the same
  * calls against a partitioned table root; nothing here assumes local mode.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // The events table's `ts` column has shifted physical type across
    // testdata generations: parquet TIMESTAMP(NANOS) (rejected by Spark at
    // schema inference without nanosAsLong), and more recently
    // timestamp[us] (Spark TIMESTAMP_NTZ). The engine's contract is
    // `ts: BIGINT` epoch NANOS — normalize whatever arrives to that, so
    // every downstream `ts div N` expression keeps working. TIMESTAMP_NTZ
    // is interpreted as UTC wall-clock (sessions here pin
    // spark.sql.session.timeZone=UTC), matching DuckDB's epoch_ns(ts)
    // reading of the same naive parquet values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** Restore the `ts: BIGINT` epoch-nanos contract on a DataFrame whose
    * `ts` arrived timestamp-typed. Shared by the batch loader above and
    * the streaming source (`StreamingOps.eventsStream`), which reads the
    * same file with its RAW schema — normalizing only one of the two
    * silently reads raw micros as "nanos" on the other.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case _ => df
    }
}
