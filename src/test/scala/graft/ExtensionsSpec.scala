package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** The SQL surface of the custom expressions: every registered function
  * must be callable from `spark.sql` and agree with its Column-API
  * spelling. */
class ExtensionsSpec extends SparkSpec {

  private lazy val ready: Unit = {
    GraftExtensions.registerAll(spark)
    val s = spark
    import s.implicits._
    Seq(
      (Array(1.0, 0.0, 2.0), Array(0.5, 1.0, -1.0), "a b c a b"),
      (Array(0.0, 3.0, 4.0), Array(1.0, 1.0, 1.0), "x y"))
      .toDF("va", "vb", "text")
      .createOrReplaceTempView("ext_t")
  }

  test("extension class injects every declared function") {
    // smoke: applying to a fresh extensions object must register cleanly
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftExtensions.builders.map(_._1).distinct.size ===
      GraftExtensions.builders.size)
  }

  test("vector functions work from SQL and match the Column API") {
    ready
    val sql = spark.sql(
      "SELECT graft_cosine(va, vb) AS c, graft_dot(va, vb) AS d FROM ext_t")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val api = spark.table("ext_t")
      .select(
        graft.ops.Similarity.cosine(col("va"), col("vb")).as("c"),
        graft.functions.VectorFunctions.dot(col("va"), col("vb")).as("d"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(sql.toSeq === api.toSeq)
  }

  test("graft_bloom / graft_bloom_contains work from SQL") {
    ready
    val r = spark.sql(
      """WITH sk AS (SELECT graft_bloom(text) AS bf FROM ext_t)
         SELECT graft_bloom_contains(bf, 'a b c a b'),
                graft_bloom_contains(bf, 'definitely absent')
         FROM sk""").head()
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
  }

  test("graft_zvalue works from SQL, interleaves bits, rejects negatives") {
    ready
    // 3 = 0b11 -> even positions 0b0101 = 5; y doubles into odd positions
    val r = spark.sql(
      "SELECT graft_zvalue(3, 0), graft_zvalue(0, 3), graft_zvalue(3, 3)")
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 10L, 15L)))
    // full 32-bit inputs fill all 64 output bits — nothing truncated
    assert(graft.functions.ZValue.interleave(0xffffffffL, 0xffffffffL)
      === -1L)
    intercept[Exception] {
      spark.sql("SELECT graft_zvalue(-1, 2)").collect()
    }
    // >= 2^32 would alias onto the low 32 bits (far-apart rows sharing
    // z-keys) — must throw, not silently truncate
    intercept[Exception] {
      graft.functions.ZValue.interleave(1L << 32, 0L)
    }
  }

  test("text sketch functions work from SQL") {
    ready
    val row = spark.sql(
      """SELECT graft_shingles(text) AS sh,
                graft_minhash(graft_shingles(text)) AS mh,
                graft_simhash(split(text, ' ')) AS sim,
                winnow_fingerprints(text, 3, 4) AS wf
         FROM ext_t WHERE text = 'a b c a b'""").head()
    assert(row.getSeq[String](0) === Seq("a b", "b c", "c a"))
    assert(row.getSeq[String](1).length === 8)
    assert(row.getSeq[String](1).forall(_.matches("[0-9a-f]{8}")))
    // simhash is a deterministic long; winnow yields at least one print
    assert(row.getLong(2) === graft.functions.SimHashSig.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array("a", "b", "c", "a", "b")
          .map(org.apache.spark.unsafe.types.UTF8String.fromString))))
    assert(row.getSeq[Long](3).nonEmpty)
  }

  test("aggregate functions work from SQL") {
    ready
    val h = spark.sql(
      "SELECT graft_histogram(va[0], 1.0) AS h FROM ext_t").head().getMap[Long, Long](0)
    assert(h === Map(1L -> 1L, 0L -> 1L))
    val avg = spark.sql(
      "SELECT graft_vec_avg(va) AS m FROM ext_t").head().getSeq[Double](0)
    assert(avg === Seq(0.5, 1.5, 3.0))
  }

  test("the codegen cache holds a cycle of queries past Spark's default 100 classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each literal is inlined into its query's generated code, so each i
    // is a class of its own, compiled once on the driver and once on a
    // task thread (another class loader, another cache key): 128 keys
    def cycle(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 64).foreach(i => spark.range(10).select(col("id") + i).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = cycle()
    assert(first > 100, s"the cycle compiled only $first classes")
    assert(cycle() === 0L)
    assert(spark.conf.get(GraftConf.CodegenCacheKey) ===
      GraftConf.CodegenCacheEntries.toString)
  }
}
