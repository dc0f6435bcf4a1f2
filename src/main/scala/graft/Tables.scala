package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading helpers for the driver-provided testdata layout
  * (TESTDATA.md: one `<name>.parquet` per table under a scale-factor dir).
  */
object Tables {
  /** Table `name` of the catalog in `dir`, its schema read from one footer
    * on the driver, like every [[graft.sources.ParquetSide]] table.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.ParquetSide.read(s, s"$dir/$name.parquet")

  /** `events.parquet` has carried two `ts` encodings across driver drops:
    * TIMESTAMP(NANOS) (which Spark's Parquet reader only accepts as a
    * nanos-since-epoch Long under the legacy flag) and TIMESTAMP(MICROS)
    * (read natively, as NTZ when isAdjustedToUTC=false). Normalize either
    * to a session-TZ TimestampType column — identical instants under the
    * UTC session timezone every entrypoint sets. The legacy flag applies to
    * this read only, so later reads in the session resolve as before.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = graft.sources.ParquetSide.read(s, s"$dir/events.parquet", nanosAsLong = true)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
