package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan auditor: prints the formatted physical plan for each declared
  * query (or the names passed as args) so scan pruning, pushdown, join
  * strategy and codegen spans can be reviewed. Dev tool, outside the
  * SparkEntry contract.
  *
  * Besides the declared query names it takes the INTERNAL stage frames
  * in [[frames]]: a declared query that truncates its plan behind a
  * localCheckpoint (it shows as `Scan ExistingRDD`) hides its heavy
  * stage, and naming the frame prints that stage's plan instead.
  *
  * Usage: runMain graft.Explain [query|frame ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001), SPARK_GRAFT_CPUS (default 4).
  */
object Explain {
  private val frames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "winnow_pairs_agg" -> ((s, d) =>
      ops.TextOps.winnowPairsAgg(s, d, ops.Dedup.MaxPostingDf)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark =
      GraftConf.builder(GraftConf.cpusFromEnv(defaultCpus = 4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      val fn = frames.getOrElse(n, SparkEntry.queries(n))
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
