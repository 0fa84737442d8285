package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional name filter, same parse and contract as Bench: re-dump a
    // single query into an existing outDir when iterating.
    val only = Bench.onlyFromEnv()
    val spark =
      GraftConf.builder(GraftConf.cpusFromEnv(defaultCpus = 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // Per-query cache eviction, same discipline as Bench (r15): a
        // full-surface dump accumulates every query's persisted frames
        // (band/posting/index caches) in one session — harmless at
        // sf0.01, but at sf10 ~150 queries of leftovers squeezed the
        // heap until winnow's spill-heavy stages OOM'd the JVM (exit
        // 52) and killed the 17 queries behind it. Eviction keeps each
        // dump's memory footprint its OWN footprint at any scale.
        graft.Graft.clearCaches(spark)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Bench.jsonLine(
      JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
    spark.stop()
  }
}
