package graft

import graft.model.TdcHit
import graft.stream.{Replay, Sources}
import graft.time.OrbitTime

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Golden-fixture tests for the TDC domain layer (SURVEY.md §5.2.5): a
  * deterministic 61-hit synthetic sample with the reference CSV's schema
  * and value domains (FIXTURES.md §A) — same shape, synthesized values.
  */
class TdcSpec extends SparkSpec {
  import OrbitTime._

  /** The shared 61-hit golden fixture — also the frame behind the
    * declared `q_tdc_occupancy` query (graft.ops.Tdc). */
  private val fixture: Seq[TdcHit] = graft.model.TdcFixture.hits

  private lazy val hits = {
    val s = spark
    import s.implicits._
    fixture.toDF()
  }

  test("CSV scan with explicit schema round-trips all 61 hits") {
    val dir = Files.createTempDirectory("tdc_csv").toString
    hits.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val back = Sources.hitsFromCsv(spark, dir)
    assert(back.schema === TdcHit.schema)
    assert(back.count() === 61)
    assert(back.agg(sum("ORBIT_CNT")).head().getLong(0) ===
      fixture.map(_.ORBIT_CNT).sum)
  }

  test("JSON transport round-trip (producer encode -> schema-checked decode)") {
    val back = Replay.roundTrip(hits)
    assert(back.count() === 61)
    // exact row-set equality through the JSON hop
    assert(back.exceptAll(hits).count() === 0)
    assert(hits.exceptAll(back).count() === 0)
  }

  test("malformed records are dropped by the decoder, not propagated") {
    val s = spark
    import s.implicits._
    val mixed = Seq(
      """{"HEAD":2,"FPGA":0,"TDC_CHANNEL":5,"ORBIT_CNT":7,"BX_COUNTER":1,"TDC_MEAS":3}""",
      """not json at all""").toDF("value")
    assert(Sources.decodeHits(mixed).count() === 1)
    assert(Sources.decodeHits(mixed, dropMalformed = false).count() === 2)
  }

  test("occupancy counts: every (FPGA, channel) count sums back to 61") {
    val occ = hits.groupBy("FPGA", "TDC_CHANNEL").agg(count(lit(1)).as("n"))
    assert(occ.agg(sum("n")).head().getLong(0) === 61)
    assert(occ.filter(col("FPGA") === 0).count() === 31) // even i of 0..60
  }

  test("q_tdc_occupancy matches the fixture computed in plain Scala") {
    val got = graft.ops.Tdc.qTdcOccupancy.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = fixture.groupBy(h => (h.FPGA, h.TDC_CHANNEL)).map {
      case (k, hs) =>
        val ts = hs.map(h =>
          (h.ORBIT_CNT * BxPerOrbit + h.BX_COUNTER) * TdcPerBx + h.TDC_MEAS)
        k -> (hs.size.toLong, ts.min, ts.max)
    }
    assert(got === want)
    assert(got.values.map(_._1).sum === 61L)
  }

  test("reference golden capture runs through EP2 (CSV -> JSON -> decode -> occupancy)") {
    // The REAL golden sample (reference code/test/test_data.csv, the 61
    // TDC hits the reference's simulate_stream.py replays), not the
    // synthetic twin: scan with the explicit schema (R17), produce the
    // JSON transport frame and decode it back (R18-R19 + R9), then
    // aggregate — pinning the whole producer->decode path on the true
    // capture. Expected values hand-computed from the file.
    val goldenPath = "/root/reference/code/test/test_data.csv"
    assume(new java.io.File(goldenPath).canRead, "reference checkout absent")
    val decoded = Replay.roundTrip(Sources.hitsFromCsv(spark, goldenPath))
    val stats = decoded.agg(
      count(lit(1)).as("n"),
      countDistinct(col("ORBIT_CNT")).as("orbits"),
      (max("ORBIT_CNT") - min("ORBIT_CNT")).as("span"),
      countDistinct(col("TDC_CHANNEL")).as("channels"),
      min("ORBIT_CNT").as("o_min")).head()
    assert(stats.getLong(0) === 61L)
    assert(stats.getLong(1) === 34L)   // distinct orbits
    assert(stats.getLong(2) === 451L)  // orbit span
    assert(stats.getLong(3) === 47L)   // distinct wire channels
    assert(stats.getLong(4) === 2252311494L)
    assert(decoded.filter(col("HEAD") =!= 2).count() === 0L)
    val perFpga = decoded.groupBy("FPGA").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perFpga === Map(0 -> 31L, 1 -> 30L))
    val occ = decoded.groupBy("FPGA", "TDC_CHANNEL").agg(count(lit(1)).as("n"))
    assert(occ.count() === 50L)
    val hottest = occ.orderBy(col("n").desc, col("FPGA"), col("TDC_CHANNEL"))
      .head()
    assert((hottest.getInt(0), hottest.getInt(1), hottest.getLong(2)) ===
      ((0, 11, 3L)))
  }

  test("orbit-time decomposition round-trips (property)") {
    val gen = for {
      orbit <- Gen.choose(0L, 3000000000L)
      bx <- Gen.choose(0, 3563)
      tdc <- Gen.choose(0, 29)
    } yield (orbit, bx, tdc)
    val seen = scala.collection.mutable.ArrayBuffer((0L, 0, 0),
      (3000000000L, 3563, 29))
    val prop = Prop.forAll(gen) { case (orbit, bx, tdc) =>
      seen += ((orbit, bx, tdc))
      val counts = (orbit * BxPerOrbit + bx) * TdcPerBx + tdc
      counts / TdcPerBx / BxPerOrbit == orbit &&
        counts / TdcPerBx % BxPerOrbit == bx &&
        counts % TdcPerBx == tdc
    }
    assert(ScTest.check(ScTest.Parameters.default, prop).passed)
    // the engine's columns decompose the same counts, in one job
    val s = spark
    import s.implicits._
    val got = seen.toSeq
      .map { case (o, b, t) => (o * BxPerOrbit + b) * TdcPerBx + t }
      .toDF("c")
      .select(orbitFromCounts(col("c")), bxFromCounts(col("c")).cast("int"),
        tdcFromCounts(col("c")).cast("int"))
      .as[(Long, Int, Int)].collect()
    assert(got.sorted.toSeq === seen.sorted.toSeq)
  }

  test("tdcCounts column expression matches the scalar formula") {
    val s = spark
    import s.implicits._
    val got = hits
      .select(tdcCounts(col("ORBIT_CNT"), col("BX_COUNTER"), col("TDC_MEAS"))
        .as("t"))
      .as[Long].collect().sorted
    val want = fixture
      .map(h => (h.ORBIT_CNT * BxPerOrbit + h.BX_COUNTER) * TdcPerBx + h.TDC_MEAS)
      .sorted
    assert(got.toSeq === want)
  }

  test("orbitTimestamp is monotone in orbit and ~88.9 us per orbit") {
    val s = spark
    import s.implicits._
    val ts = Seq(0L, 1L, 1000L).toDF("orbit")
      .select(unix_micros(orbitTimestamp(col("orbit"))).as("us"))
      .as[Long].collect()
    assert(ts(0) === 0L)
    assert(ts(1) === 89L)   // floor(3564*25/1000)
    assert(ts(2) === 89100L)
  }
}
