package graft

import graft.functions._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * Configure at session build (`spark.sql.extensions=graft.GraftExtensions`)
  * for a catalog-level install, or call [[GraftExtensions.registerAll]] on
  * a live session for the temp-function equivalent. Either way,
  * `spark.sql("SELECT graft_cosine(a, b) ...")` works — the preference
  * order the design follows is built-in function > custom Expression >
  * UDF, and this class is what makes the middle tier first-class.
  *
  * The session-build install also sets two things on the running
  * SparkContext, for every session that lists this extension (the
  * engine's own and any other):
  *  - its `file:` FileContext maps to [[graft.stream.LocalCheckpointFs]],
  *    so streaming checkpoints write without forking `chmod`/`readlink`;
  *  - `spark.sql.codegen.cache.maxEntries` is [[GraftConf.CodegenCacheEntries]]
  *    unless the application set it, so a generated class is compiled
  *    once, not on every query. The extension runs before the session's
  *    shared state exists, so the value reaches the static SQL conf.
  *    Spark sizes its JVM-wide cache of compiled classes once, from
  *    `SQLConf.get` at the JVM's first codegen: a JVM that generated code
  *    before its first session with this extension keeps the old size.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Bridge.activeContext.foreach { sc =>
      graft.stream.LocalCheckpointFs.install(sc.hadoopConfiguration)
      Bridge.sparkConf(sc).setIfMissing(GraftConf.CodegenCacheKey,
        GraftConf.CodegenCacheEntries.toString)
    }
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
  }
}

object GraftExtensions {

  private def foldedDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be numeric, got $other")
    }
  }

  private def foldedInt(e: Expression, what: String): Int =
    foldedDouble(e, what).toInt

  /** name -> SQL builder for every custom expression in the engine. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (es => CosineSim(es.head, es(1))),
    "graft_dot" -> (es => DotProduct(es.head, es(1))),
    "graft_shingles" -> (es => WordShingles(es.head)),
    "graft_minhash" -> (es => MinHashSig(es.head)),
    "graft_simhash" -> (es => SimHashSig(es.head)),
    "graft_quantize" -> (es => QuantizeStats(es.head)),
    "graft_zvalue" -> (es => ZValue(es.head, es(1))),
    "graft_cms" -> (es => CountMinAgg(es.head)),
    "graft_cms_est" -> (es => CmsEstimate(es.head, es(1))),
    "graft_bloom" -> (es => BloomAgg(es.head)),
    "graft_bloom_contains" -> (es => BloomMightContain(es.head, es(1))),
    // (k/numBits ride inside the sketch — no parameters to mismatch)
    "graft_vec_avg" -> (es => VectorAvgAgg(es.head)),
    "graft_histogram" -> (es =>
      HistogramAgg(es.head, foldedDouble(es(1), "histogram width"))),
    "winnow_fingerprints" -> {
      case Seq(c) => WinnowFingerprints(c, 16, 8)
      case Seq(c, k, w) =>
        WinnowFingerprints(c, foldedInt(k, "winnow k"), foldedInt(w, "winnow w"))
      case es => throw new IllegalArgumentException(
        s"winnow_fingerprints takes 1 or 3 arguments, got ${es.length}")
    })

  /** Post-hoc registration on a live session (temp functions). */
  def registerAll(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      Bridge.registerFunction(spark, name, b)
    }
}
