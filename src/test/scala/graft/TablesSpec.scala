package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `Tables` schema cache: a repeated read of an unchanged file
  * starts no Spark job, while a rewritten file, a new session, a changed
  * inference setting and a directory path all infer again.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private val Tag = "graft.tables.spec"

  /** Spark jobs started by this thread while `body` runs. Listener events
    * arrive asynchronously, so the count is bracketed by two marker jobs:
    * once the end marker is seen, every job the body started has been.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(seen.put)
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(Tag, m); sc.parallelize(Seq(1), 1).count()
    }
    def awaitMarker(m: String): Int = {
      var n = 0
      var e = seen.poll(60, TimeUnit.SECONDS)
      while (e != m) { assert(e != null, s"marker $m never arrived"); n += 1; e = seen.poll(60, TimeUnit.SECONDS) }
      n
    }
    sc.addSparkListener(listener)
    try {
      marker("start"); awaitMarker("start")
      sc.setLocalProperty(Tag, "body")
      val a = body
      marker("end")
      (a, awaitMarker("end"))
    } finally { sc.setLocalProperty(Tag, null); sc.removeSparkListener(listener) }
  }

  /** Writes `df` as the single parquet file `$dir/$name.parquet`. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory(dir, "w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private lazy val base = Files.createTempDirectory("graft-tables-spec")
  private def tableDir(): Path = Files.createTempDirectory(base, "t")

  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)

  test("a second read of an unchanged file starts no job and has an equal schema") {
    val dir = tableDir()
    writeTable(spark.range(5).toDF("a"), dir, "t")
    val (first, firstJobs) = jobsDuring(Tables.read(spark, dir.toString, "t"))
    val (second, secondJobs) = jobsDuring(Tables.read(spark, dir.toString, "t"))
    assert(firstJobs >= 1, "the first read must infer the schema")
    assert(secondJobs == 0, "a cached read must start no Spark job")
    assert(second.schema == first.schema)
    assert(second.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }

  test("a rewritten file is inferred again and shows the added column") {
    val dir = tableDir()
    writeTable(spark.range(5).toDF("a"), dir, "t")
    Tables.read(spark, dir.toString, "t")
    writeTable(spark.range(5).selectExpr("id AS a", "id * 2 AS b"), dir, "t")
    val (df, jobs) = jobsDuring(Tables.read(spark, dir.toString, "t"))
    assert(jobs >= 1, "a changed length and mtime must infer again")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.selectExpr("sum(b)").head().getLong(0) == 20L)
  }

  test("a new session is a new key and infers again") {
    val dir = tableDir()
    writeTable(spark.range(5).toDF("a"), dir, "t")
    Tables.read(spark, dir.toString, "t")
    val child: SparkSession = spark.newSession()
    val (df, jobs) = jobsDuring(Tables.read(child, dir.toString, "t"))
    assert(jobs >= 1, "a child session must not hit its parent's entry")
    assert(df.columns.toSeq == Seq("a"))
    assert(jobsDuring(Tables.read(child, dir.toString, "t"))._2 == 0)
  }

  /** Writes `$dir/$name.parquet` with one TIMESTAMP(NANOS) column `ts`,
    * which Spark itself cannot write.
    */
  private def writeNanos(dir: Path, name: String, nanos: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve(s"$name.parquet").toString), new Configuration())
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", nanos)) finally w.close()
  }

  test("a changed parquet-inference setting infers again") {
    val dir = tableDir()
    writeNanos(dir, "t", 1L)
    val child = spark.newSession()
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Tables.read(child, dir.toString, "t").schema("ts").dataType == LongType)
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[Exception](Tables.read(child, dir.toString, "t"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("PARQUET_TYPE_ILLEGAL")), e)
  }

  test("events: TIMESTAMP(NANOS) ts reads as microseconds, truncated, on a cached read too") {
    val dir = tableDir()
    writeNanos(dir, "events", 1700000000123456789L)
    val child = spark.newSession()
    Seq(1, 2).foreach { _ =>
      val ev = Tables.events(child, dir.toString)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) == 1700000000123456L)
    }
  }

  test("a directory keeps the inferring read and discovers its partition column") {
    val dir = tableDir()
    spark.range(6).selectExpr("id AS a", "id % 2 AS k")
      .write.partitionBy("k").parquet(dir.resolve("p.parquet").toString)
    Tables.read(spark, dir.toString, "p")
    val (df, jobs) = jobsDuring(Tables.read(spark, dir.toString, "p"))
    assert(jobs >= 1, "a directory must not be served from the cache")
    assert(df.columns.toSet == Set("a", "k"))
    assert(df.filter("k = 1").count() == 3)
  }

  test("a missing file still fails at read time") {
    val dir = tableDir()
    intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, dir.toString, "absent"))
  }
}
