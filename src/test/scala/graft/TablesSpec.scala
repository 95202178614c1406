package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The [[Tables.load]] schema cache: a repeated read skips Spark's
  * footer job; a rewrite, a parquet conf or a failed read never
  * serves a stale or failed schema. RelationalSpec checks that cold
  * and cached reads plan the same scans.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Jobs launched by `body`. Listener delivery is asynchronous, so a
    * marker job is run after `body` and counting stops once the
    * listener has seen it: the bus delivers events in order.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val marker = s"tables-spec-marker-${System.nanoTime()}"
    @volatile var sawMarker = false
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker)
          sawMarker = true
        else if (!sawMarker) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sawMarker && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawMarker, "listener never saw the marker job")
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a repeated read reuses the inferred schema: 0 jobs, same schema and rows") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-tables").toString
    (1 to 1000).map(i => (i.toLong, i % 7, s"c$i"))
      .toDF("l_orderkey", "l_linenumber", "l_comment")
      .write.parquet(s"$d/lineitem.parquet")
    val (first, coldJobs) = jobsOf(Tables.lineitem(spark, d))
    assert(coldJobs > 0, "the cold read should infer the schema with a job")
    val (second, warmJobs) = jobsOf(Tables.lineitem(spark, d))
    assert(warmJobs == 0)
    assert(second.schema == first.schema)
    assert(Tables.cachedSchema(spark, d, "lineitem").contains(first.schema))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(second) == rows(first))
  }

  test("rewriting a table with a new schema is a miss") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-tables-rw").toString
    val path = s"$d/t.parquet"
    Seq((1L, 2L)).toDF("a", "b").write.parquet(path)
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a", "b"))
    Seq((1L, "x", 3.0)).toDF("a", "c", "e").write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, d, "t")
    assert(df.columns.toSeq == Seq("a", "c", "e"))
    assert(df.collect().map(_.toString).toSeq == Seq("[1,x,3.0]"))
  }

  test("explicitly set parquet confs are part of the key") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet writer: Spark's own files carry their Spark schema
    // in the footer, which inference prefers over binaryAsString
    val d = Files.createTempDirectory("graft-tables-conf").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$d/bin.parquet/part-0.parquet"), hconf))
      .withType(schema).withConf(hconf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(conf, "false")
      assert(Tables.load(spark, d, "bin").schema("b").dataType == BinaryType)
      spark.conf.set(conf, "true")
      val asString = Tables.load(spark, d, "bin")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.collect()(0).getString(0) == "hi")
      spark.conf.set(conf, "false")
      assert(Tables.load(spark, d, "bin").schema("b").dataType == BinaryType)
    } finally spark.conf.unset(conf)
  }

  test("failed reads raise Spark's own error and cache nothing") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-tables-fail").toString
    val missing = intercept[AnalysisException](Tables.load(spark, d, "nope"))
    assert(missing.getCondition == "PATH_NOT_FOUND")
    assert(Tables.cachedSchema(spark, d, "nope").isEmpty)
    // an empty directory lists, but has no schema to infer
    Files.createDirectory(java.nio.file.Paths.get(s"$d/empty.parquet"))
    intercept[AnalysisException](Tables.load(spark, d, "empty"))
    assert(Tables.cachedSchema(spark, d, "empty").isEmpty)
    // once the data lands, the same path reads normally
    Seq(1L).toDF("x").write.mode("overwrite").parquet(s"$d/empty.parquet")
    assert(Tables.load(spark, d, "empty").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
