package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-file-version schema memo behind [[Tables.t]]: a repeat read
  * starts no Spark job and returns what a plain `spark.read.parquet`
  * returns; a rewrite at the same path or a flip of a schema conf is
  * inferred again; `Graft.clearCaches` leaves the memo in place. */
class TablesSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  private val Tag = "graft.tablesSpec"

  /** `body`'s result and the number of Spark jobs it started, counted by
    * a listener. The listener bus is asynchronous, so a marker job runs
    * after `body`: events arrive in order, and once the marker's start is
    * seen every job `body` started has been counted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    def tagged[A](tag: String)(a: => A): A = {
      sc.setLocalProperty(Tag, tag)
      try a finally sc.setLocalProperty(Tag, null)
    }
    try {
      val out = tagged("body")(body)
      tagged("marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("marker"), "the listener never saw the marker job")
      (out, seen.toArray.count(_ == "body"))
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a memo hit starts no job and reads what a plain read does") {
    val dir = tmp()
    val meta = new MetadataBuilder().putString("comment", "hit id").build()
    spark.range(200)
      .select(col("id"), col("id").cast("string").as("s", meta))
      .write.parquet(s"$dir/t.parquet")
    // the miss infers, which is a job: the count below can see one
    val (_, missJobs) = jobsOf(Tables.t(spark, dir, "t").schema)
    assert(missJobs >= 1, "the first read must infer the schema")
    val (hit, hitJobs) = jobsOf {
      val df = Tables.t(spark, dir, "t")
      df.schema
      df
    }
    assert(hitJobs === 0, "a memo hit must not start a Spark job")
    val plain = spark.read.parquet(s"$dir/t.parquet")
    assert(hit.schema === plain.schema)
    assert(hit.schema("s").metadata.getString("comment") === "hit id")
    assert(rows(hit) === rows(plain))
  }

  test("a rewrite at the same path with a different schema reads the new schema") {
    val dir = tmp()
    val path = s"$dir/t.parquet"
    spark.range(10).toDF("id").write.parquet(path)
    assert(Tables.t(spark, dir, "t").schema.fieldNames.toSeq === Seq("id"))
    spark.range(10).select(col("id"), lit("x").as("extra"))
      .write.mode("overwrite").parquet(path)
    val df = Tables.t(spark, dir, "t")
    assert(df.schema === spark.read.parquet(path).schema)
    assert(df.schema.fieldNames.toSeq === Seq("id", "extra"))
    assert(rows(df) === rows(spark.read.parquet(path)))
  }

  test("flipping spark.sql.parquet.binaryAsString changes the inferred schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // an unannotated BINARY column from a non-Spark writer: Spark-written
    // files carry their Spark schema, which inference prefers over the conf
    val dir = tmp()
    val file = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq("a", "b").foreach(v => writer.write(groups.newGroup().append("b", v)))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    def bType(asString: Boolean): DataType = {
      spark.conf.set(key, asString.toString)
      Tables.t(spark, dir, "t").schema("b").dataType
    }
    try {
      assert(bType(asString = false) === BinaryType)
      assert(bType(asString = true) === StringType)
      assert(Tables.t(spark, dir, "t").collect().map(_.getString(0)).sorted
        .toSeq === Seq("a", "b"))
      assert(bType(asString = false) === BinaryType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the memo entry survives Graft.clearCaches") {
    val dir = tmp()
    spark.range(10).toDF("id").write.parquet(s"$dir/t.parquet")
    Tables.t(spark, dir, "t")
    Graft.clearCaches(spark)
    val (_, jobs) = jobsOf(Tables.t(spark, dir, "t").schema)
    assert(jobs === 0, "clearCaches must not evict the schema memo")
  }
}
