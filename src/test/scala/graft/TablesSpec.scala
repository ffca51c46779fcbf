package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the schema cache behind [[Tables.load]]: a table's parquet
  * schema is inferred once, later loads start no job, and a rewrite or
  * a parquet conf change infers again.
  */
class TablesSpec extends AnyFunSuite {
  /** The sf0.01 tables committed with the benchmark: all ten tables. */
  private val sfDir = "perfbench/data/sf0.01"

  /** Jobs `body` starts, counted by a listener between two marker
    * jobs. The bus delivers events in order, so jobs seen after the
    * first marker were not started before `body`, and once the second
    * marker is seen every job `body` started has been counted.
    */
  private def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val (open, close) = ("tables-spec-open", "tables-spec-close")
    val seen = mutable.ArrayBuffer[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
    }
    val sc = spark.sparkContext
    def marker(desc: String): Unit = {
      sc.setJobDescription(desc)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker(open)
      body
      marker(close)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.synchronized(seen.contains(close)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.synchronized {
        assert(seen.contains(close), "listener never saw the closing marker job")
        seen.indexOf(close) - seen.indexOf(open) - 1
      }
    } finally sc.removeSparkListener(l)
  }

  private def tmpDir(): String =
    Files.createTempDirectory("graft-tables").toString

  test("load returns the schema spark.read.parquet infers, for every table") {
    val spark = TestSpark.spark
    assert(Tables.names.size == 10)
    Tables.names.foreach { n =>
      val direct = spark.read.parquet(s"$sfDir/$n.parquet").schema
      assert(Tables.load(spark, sfDir, n).schema == direct, n)
      assert(Tables.load(spark, sfDir, n).schema == direct, s"$n, cached")
    }
  }

  test("a second load of the same table starts no job") {
    val spark = TestSpark.spark
    val d = tmpDir()
    spark.range(100).toDF("a").write.parquet(s"$d/t.parquet")
    assert(jobsOf(spark)(Tables.load(spark, d, "t").schema) >= 1,
      "the first load infers the schema with a job")
    assert(jobsOf(spark)(Tables.load(spark, d, "t").schema) == 0)
  }

  test("a rewrite with a different schema returns the new schema") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = tmpDir()
    Seq(1, 2).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").schema.fieldNames.toSeq == Seq("a"))
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$d/t.parquet")
    val df = Tables.load(spark, d, "t")
    assert(df.schema == spark.read.parquet(s"$d/t.parquet").schema)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x")))
  }

  test("changing a spark.sql.parquet conf forces inference again") {
    val spark = TestSpark.spark
    // an un-annotated binary column and no Spark schema in the footer
    // (a Spark-written file would pin BinaryType through its metadata)
    val d = tmpDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$d/t.parquet/part-0.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "ab"))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "false")
      assert(Tables.load(spark, d, "t").schema("b").dataType == BinaryType)
      spark.conf.set(conf, "true")
      assert(jobsOf(spark)(Tables.load(spark, d, "t")) >= 1,
        "the conf change infers again")
      val df = Tables.load(spark, d, "t")
      assert(df.schema("b").dataType == StringType)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("ab"))
    } finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("a missing path throws Spark's PATH_NOT_FOUND AnalysisException") {
    val spark = TestSpark.spark
    val d = tmpDir()
    val direct = intercept[AnalysisException](spark.read.parquet(s"$d/nope.parquet"))
    val viaLoad = intercept[AnalysisException](Tables.load(spark, d, "nope"))
    assert(viaLoad.getCondition == "PATH_NOT_FOUND")
    assert(viaLoad.getMessage == direct.getMessage)
  }
}
