package graft

import org.apache.spark.sql.functions._

/** Direct coverage of [[Tables.spread]] / [[Tables.rowGroups]] — the
  * corpus splittability guard. Until r15 this logic was proven only by
  * sf10 probes (VERDICT r14 #3): the r14 defect it fixes (a 66 MB
  * single-row-group file planning 17 byte-range splits, 16 empty, so
  * every map phase ran one task) is pinned here at unit scale, along
  * with the ADVICE-r14 refinements: the split-count bound (planner
  * packing), the overflow-safe fallback sentinel, and the short-circuit
  * footer sweep, and the file-version key of both probe memos (a rewrite
  * at the same path is probed again).
  *
  * The shared test session is local[4], so target = defaultParallelism
  * = 4 and the repartition threshold is "effective parallelism < 2".
  * (Named SpreadGuardSpec since r16 — it shared the simple name
  * ScaleGuardSpec with graft.ops.ScaleGuardSpec, the df-cap guards,
  * which made test reports ambiguous.)
  */
class SpreadGuardSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sg_$tag").toString

  /** ~1.6 MB of incompressible single-row-group parquet. */
  private def writeOneRowGroup(path: String): Unit =
    spark.range(50000)
      .select(md5(col("id").cast("string")).as("s"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Runs `body` under the given split confs, then restores whatever the
    * shared session had — the TRUE prior state, not hardcoded Spark
    * defaults (ADVICE r15). */
  private def withSplitConfs[T](maxPartitionBytes: String,
      openCostInBytes: String)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.zip(Seq(maxPartitionBytes, openCostInBytes))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("r14 defect shape: single row group + many planned splits still spreads") {
    val dir = tmp("onerg")
    writeOneRowGroup(dir)
    // shrink maxSplitBytes so the planner cuts MANY byte-range splits
    // of the one-row-group file — the exact sf10 lying-proxy shape: the
    // old split-count test read "healthy" while every split but one was
    // empty. The footer count must win.
    withSplitConfs("16384", "0") {
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions >= 2,
        "precondition: the planner must cut multiple splits")
      assert(Tables.rowGroups(spark, dir) === 1)
      val out = Tables.spread(spark, df, dir)
      assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    }
  }

  test("a rewrite at the same path re-probes row groups: one to several") {
    val dir = tmp("rewrite_rg")
    withSplitConfs("16384", "0") {
      writeOneRowGroup(dir)
      val one = spark.read.parquet(dir)
      assert(!(Tables.spread(spark, one, dir) eq one),
        "one row group must be spread")
      // same path, same data, now cut into many row groups: the decision
      // must follow the new file, not the count probed from the old one
      spark.range(50000)
        .select(md5(col("id").cast("string")).as("s"))
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", "65536")
        .parquet(dir)
      assert(Tables.rowGroups(spark, dir) >= 2)
      val many = spark.read.parquet(dir)
      assert(many.rdd.getNumPartitions >= 2,
        "precondition: the planner must cut multiple splits")
      assert(Tables.spread(spark, many, dir) eq many,
        "many row groups and many splits must be returned untouched")
    }
  }

  test("a rewrite at the same path re-probes planned splits: many to one") {
    val dir = tmp("rewrite_splits")
    def write(rows: Long, blockSize: String): Unit =
      spark.range(rows).select(md5(col("id").cast("string")).as("s"))
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockSize).parquet(dir)
    withSplitConfs("65536", "4194304") {
      write(50000, "65536")
      val big = spark.read.parquet(dir)
      assert(big.rdd.getNumPartitions >= 2 && Tables.rowGroups(spark, dir) >= 2)
      assert(Tables.spread(spark, big, dir) eq big)
      // a small rewrite fits one split (still several row groups): the
      // old file's split count must not keep it unspread
      write(1000, "4096")
      val small = spark.read.parquet(dir)
      assert(small.rdd.getNumPartitions === 1)
      assert(Tables.rowGroups(spark, dir) >= 2)
      assert(Tables.spread(spark, small, dir).rdd.getNumPartitions ===
        spark.sparkContext.defaultParallelism)
    }
  }

  test("ADVICE r14: planned split count bounds from above even when row groups are plentiful") {
    val dir = tmp("packed")
    // 8 files = 8 row groups — the OLD row-group-only test would skip.
    spark.range(8000).select(md5(col("id").cast("string")).as("s"))
      .repartition(8).write.mode("overwrite").parquet(dir)
    assert(Tables.rowGroups(spark, dir) >= 2)
    // a plan that collapsed to 1 task (here: explicit coalesce standing
    // in for planner packing of small files) must still be spread
    val df = spark.read.parquet(dir).coalesce(1)
    val out = Tables.spread(spark, df, dir)
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }

  test("healthy layout is returned untouched (no gratuitous exchange)") {
    val dir = tmp("healthy")
    spark.range(8000).select(md5(col("id").cast("string")).as("s"))
      .repartition(8).write.mode("overwrite").parquet(dir)
    // read with enough planned splits AND enough row groups
    val df = spark.read.parquet(dir).repartition(4)
    val out = Tables.spread(spark, df, dir)
    assert(out eq df, "spread must be the identity when both bounds pass")
  }

  test("footer-read failure falls back to the planned count without overflowing") {
    val dir = tmp("garbage")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "x.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // input has healthy planned parallelism (6 >= target/2), so only
    // the footer signal could force a repartition — and it is
    // unreadable. The Int.MaxValue sentinel must read as "trust the
    // planner" (old bug: Int.MaxValue * 2 == -2 forced the repartition,
    // the exact opposite).
    val df = spark.range(1000).toDF("id").repartition(6)
    val out = Tables.spread(spark, df, dir)
    assert(out eq df,
      "unreadable footer + healthy planned count must skip the repartition")
  }

  test("rowGroups counts across files and honors the short-circuit") {
    val dir = tmp("count")
    spark.range(3000).select(md5(col("id").cast("string")).as("s"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    assert(Tables.rowGroups(spark, dir) === 3)
    // stopAt truncates the sweep: with 1-row-group files the running
    // count crosses stopAt=1 after the first footer and stops there
    assert(Tables.rowGroups(spark, dir, stopAt = 1) === 1)
  }

  test("rowGroups sees multiple row groups inside one file") {
    val dir = tmp("multirg")
    spark.range(20000)
      .select(md5(col("id").cast("string")).as("s"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "4096")
      .parquet(dir)
    assert(Tables.rowGroups(spark, dir) >= 2)
  }
}
