package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import scala.collection.concurrent.TrieMap
import scala.util.Try

/** Table readers for the parquet testdata: table `name`
  * is `$dir/$name.parquet`.
  *
  * Schema cache. Inferring a parquet schema runs a Spark job (a footer
  * read), so only the first read of a file infers; it keeps the schema,
  * and every later read is `spark.read.schema(cached).parquet(path)`,
  * which starts no job. This is
  * metadata only: every read still scans its data when it runs, and no
  * DataFrame or result is kept. The key is
  *   - the session reference (SparkSession keeps reference equality, as in
  *     `queries.SessionMemo`), so `newSession()` infers again;
  *   - the qualified path, the file length and the mtime, so a rewritten
  *     file is inferred again (a rewrite of equal length within the same
  *     mtime tick is not seen);
  *   - the session's values of the settings that change what parquet
  *     inference yields (`inferenceConfs`), since `events` sets one of them.
  * A path that is not a regular file (a Spark-written or partitioned
  * directory) keeps the inferring read, so partition discovery is
  * unchanged; a missing file fails at read time, as an uncached read does.
  *
  * `events.ts` has been written by the driver as parquet TIMESTAMP(NANOS)
  * in some rounds and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others,
  * so the reader dispatches on the type that actually arrives:
  *   - NANOS: Spark rejects it by default (PARQUET_TYPE_ILLEGAL); we read
  *     nanos as LONG via the legacy conf and convert to a microsecond
  *     TIMESTAMP with integer division — exactly the truncation DuckDB
  *     applies when it loads nanosecond timestamps into its native
  *     microsecond TIMESTAMP, so oracle comparisons stay bit-identical.
  *     (Float division would corrupt: epoch nanos ~1.7e18 exceeds the
  *     2^53 double mantissa.)
  *   - MICROS (not UTC-adjusted): arrives as TIMESTAMP_NTZ; cast to the
  *     session-local TIMESTAMP, which under the UTC session timezone every
  *     entry point sets is the same instant DuckDB's naive TIMESTAMP read
  *     yields.
  */
object Tables {

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private final case class Key(spark: SparkSession, path: String, length: Long, mtime: Long,
                               confs: Seq[Option[String]])

  private val schemas = TrieMap.empty[Key, StructType]

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = fileKey(spark, path)
    key.flatMap(schemas.get) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.putIfAbsent(_, df.schema))
        df
    }
  }

  /** The cache key of `path` when it is a regular file; None otherwise. */
  private def fileKey(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    Try(fs.getFileStatus(p)).toOption.filter(_.isFile).map(st =>
      Key(spark, fs.makeQualified(p).toString, st.getLen, st.getModificationTime,
        inferenceConfs.map(spark.conf.getOption)))
  }
}
