package graft.time

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The hierarchical LHC clock implied by the TDC schema (SURVEY.md §1.3).
  *
  * The reference never interprets its own time columns — the hierarchy
  * (ORBIT_CNT ⊃ BX_COUNTER ⊃ TDC_MEAS) exists only in the data. The engine
  * exposes it as plain column arithmetic: whole-stage-codegen'd, no UDFs.
  *
  * Public LHC constants: 1 orbit = 3564 bunch crossings; 1 bunch crossing
  * = 25 ns; TDC fine time = 25/30 ns per count.
  */
object OrbitTime {
  val BxPerOrbit = 3564L
  val NsPerBx = 25L
  val TdcPerBx = 30L

  /** Absolute time in integer TDC counts (1 count = 25/30 ns) — exact
    * 64-bit arithmetic, the canonical sort/join key for hit time.
    * t_tdc = (ORBIT_CNT*3564 + BX_COUNTER)*30 + TDC_MEAS. */
  def tdcCounts(orbit: Column, bx: Column, tdc: Column): Column =
    (orbit.cast("long") * BxPerOrbit + bx.cast("long")) * TdcPerBx +
      tdc.cast("long")

  /** Absolute time in nanoseconds (double — only for display/physics;
    * use [[tdcCounts]] where exactness matters). */
  def tNs(orbit: Column, bx: Column, tdc: Column): Column =
    tdcCounts(orbit, bx, tdc) * lit(25.0 / 30.0)

  /** Inverse of [[tdcCounts]]: decompose counts back to (orbit, bx, tdc)
    * — exact integer floor-division all the way down (a double division
    * here would go fractional and lose exactness above 2^53 counts, which
    * real runs reach). */
  def orbitFromCounts(counts: Column): Column =
    floorDiv(floorDiv(counts, lit(TdcPerBx)), lit(BxPerOrbit))

  def bxFromCounts(counts: Column): Column =
    pmod(floorDiv(counts, lit(TdcPerBx)), lit(BxPerOrbit))

  def tdcFromCounts(counts: Column): Column = pmod(counts, lit(TdcPerBx))

  private def floorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Event-time timestamp for watermarking: orbit-resolution wall time
    * anchored at an arbitrary run epoch. One orbit ≈ 88.9 µs, so the
    * microsecond timestamp loses nothing above bx resolution. */
  def orbitTimestamp(orbit: Column, runEpochMicros: Long = 0L): Column =
    timestamp_micros(
      lit(runEpochMicros) +
        ((orbit.cast("long") * BxPerOrbit * NsPerBx) / lit(1000L)).cast("long"))
}
