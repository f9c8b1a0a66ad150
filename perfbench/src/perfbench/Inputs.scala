package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded rows of the sync workload's source table. Every value is a hash
  * of (seed, salt, row key), so the same seed gives the same rows whatever
  * the partitioning.
  */
object Inputs {

  /** Uniform double in [0, 1) from the 53 high bits of a 64-bit hash. */
  def uniform(seed: Long, salt: Int, keys: Column*): Column =
    shiftrightunsigned(xxhash64(lit(seed) +: lit(salt) +: keys: _*), 11).cast(DoubleType) *
      lit(math.pow(2, -53))

  /** Integer in [0, n). */
  def below(n: Long, seed: Long, salt: Int, keys: Column*): Column =
    floor(uniform(seed, salt, keys: _*) * lit(n)).cast(LongType)

  def pick(values: Seq[String], seed: Long, salt: Int, keys: Column*): Column =
    element_at(typedLit(values), (below(values.size.toLong, seed, salt, keys: _*) + 1).cast(IntegerType))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  // ---------------------------------------------------------------- sync
  val cities: Seq[String] = Seq("Austin", "Berlin", "Chennai", "Dublin", "Lagos", "Lima", "Osaka", "Oslo")

  def day(offset: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(offset.toLong).toString

  /** Rows of the reference's sensor table (FIXTURES.md §A), ids
    * `r<firstId>` .. `r<firstId + n - 1>`, spread round-robin over `days`
    * (the `date` partition column).
    */
  def sensorRows(spark: SparkSession, seed: Long, firstId: Long, n: Long, days: Seq[String]): DataFrame = {
    val id = col("id")
    val date = element_at(typedLit(days), (pmod(id - lit(firstId), lit(days.size.toLong)) + 1).cast(IntegerType))
    val ts = unix_seconds(to_timestamp(date)) + below(86400, seed, 11, id)
    spark.range(firstId, firstId + n).select(
      concat(lit("r"), id.cast(StringType)).as("id"),
      date_format(to_date(date), "MMMM").as("month"),
      month(to_date(date)).as("month_num"),
      below(1000, seed, 12, id).cast(IntegerType).as("value"),
      round(uniform(seed, 13, id) * 45 - 5, 2).as("temperature"),
      round(uniform(seed, 14, id) * 100, 2).as("humidity"),
      ts.as("ts"),
      pick(cities, seed, 15, id).as("city"),
      date.as("date"),
      (ts * 1000000000L).cast(StringType).as("date_timestamp_ns"),
      date_format(timestamp_seconds(ts), "yyyy-MM-dd HH:mm:ss").as("date_timestamp_converted"))
  }
}
