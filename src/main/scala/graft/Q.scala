package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query (SURVEY.md §2b).
  *
  * @param name   stable query name — the t2 API key
  * @param fn     Spark implementation: (session, sfDir) => result
  * @param oracle equivalent ANSI SQL runnable by DuckDB against the same
  *               parquet tables (bare table names); None for ops whose
  *               output is not SQL-expressible (driver falls back to a
  *               rows-only check; scalatest covers semantics instead).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The engine's session factory: the one place engine-wide session conf
  * is installed. Every main and the test session build through
  * [[builder]], so a plan pinned by a spec describes the engine the
  * bench runs. */
object GraftConf {
  /** `SPARK_GRAFT_CPUS` (default `defaultCpus`), validated strictly, so
    * a typo fails at startup instead of reaching the artifact line. */
  def cpusFromEnv(defaultCpus: Int, env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(
      Bench.parsePosInt("SPARK_GRAFT_CPUS", _))

  /** Every engine-wide session key on `cpus` cores, in install order.
    * The session shuffle width and AQE's initial reducer count are both
    * `cpus`; the pair stages provision their own width from a census
    * (`Dedup.pairStageParts`). */
  def engineConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.shuffle.sort.bypassMergeThreshold" -> BypassMergeThreshold,
    "spark.sql.optimizer.excludedRules" -> ExcludedRules,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // state-store maintenance runs on an async thread that can race
    // spark.stop() after the last streaming query and spew an
    // RpcEnvStoppedException stack into stdout, pushing Bench's JSON
    // line out of the 2000-char stdout tail that is parsed; the bench's
    // stream probes finish well inside 10 min, so maintenance simply
    // never fires mid-run
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "10min",
    "spark.ui.enabled" -> "false")

  /** A session builder carrying [[engineConf]]; callers chain their own
    * static confs (app name, warehouse dir) before `getOrCreate`. */
  def builder(cpus: Int): SparkSession.Builder =
    engineConf(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** `InferFiltersFromGenerate` clones the generator's whole child
    * expression into a `size(...) > 0` filter and pushes it below
    * exchanges. Every generator input here is a computed, provably
    * non-empty array (token lists, shingles, LSH bands), so the inferred
    * filter never prunes a row — it only re-runs the expensive lambda
    * chain a second time, on the narrow pre-shuffle side of the plan.
    * Excluding the rule removes that double evaluation. */
  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Shuffle-writer ceiling for the bypass-merge path (round 18).
    * Spark's default flips a combine-free exchange from the streaming
    * bypass writer to the buffering sort-based writer above 200 reduce
    * partitions; the census-provisioned pair-aggregation exchanges run
    * wider than that by design, and the sort-based writer's
    * serialize+radix-sort+merge added a measured 2.4 µs/row to the
    * winnow pair stage at sf3 (emission-stage executor time 409 s
    * bypass vs 1675 s sort-based, identical rows). The engine caps its
    * own provisioned widths at 1024 (Dedup.pairStageParts), so raising
    * the threshold to that cap bounds the bypass writer's cost at 1024
    * open-file buffers (~32 MB) per map task — the trade the default
    * guards against is M×R tiny blocks, and both M and R stay
    * engine-bounded here. Whole-surface A/B at sf1 (round 19,
    * `bench/bench_r19_sf1_bypass200.json`): 1024 beat the default 200
    * by 1.106× geomean over 171 entries. */
  val BypassMergeThreshold: String = "1024"

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * ([[CodegenCacheKey]], Spark's default 100). [[GraftExtensions]] sets
    * it on the SparkContext unless the application did; it takes effect
    * only if that happens before the JVM's first codegen.
    *
    * The cache is keyed on (context class loader, code). In local mode
    * the driver and the task threads load through different class
    * loaders, so one generated class takes two entries. A working set
    * past the cap, cycled query after query, defeats the LRU cache, and
    * Janino recompiles classes it has already compiled.
    *
    * Census (4 cores, sf0.1, one full-surface Bench pass on a fresh JVM,
    * `SPARK_GRAFT_PASSES=1`, cache unbounded): 2,270 compiles, each a
    * distinct key, 38.2 s of compile time inside the timed passes. The
    * cap is twice that, rounded up. The same pass at Spark's default
    * compiled 4,706 classes (56.2 s inside the timed passes). The cost
    * of keeping every class, measured on those two runs: committed
    * metaspace 184 -> 204 MiB, classes loaded at exit 32,507 -> 36,587,
    * peak RSS 3,751 -> 3,507 MiB (one run each: no RSS cost shows). */
  val CodegenCacheEntries: Int = 4600

  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
}

/** Parquet table loaders. One file per table under sfDir (TESTDATA.md).
  *
  * Table metadata is memoized per file version. A bare
  * `spark.read.parquet` infers the schema on every call, and that
  * inference is a Spark job (`ParquetFileFormat.inferSchema` →
  * `SchemaMergeUtils.mergeSchemasInParallel`: one stage, one task, a
  * footer read) that every query paid before its own plan ran, although
  * the footer had not changed since the previous query. [[t]] infers once
  * and reads later with `spark.read.schema(memo)`, which starts no job.
  * The planned-split and row-group probes behind [[spread]] are memoized
  * the same way.
  *
  * The memo key is the file version ([[FileVersion]]: the qualified path
  * plus every file under it with its length and modification time), and
  * for the schema also every session conf the parquet schema converter
  * reads ([[schemaConfs]]). Each memo keeps one entry per path (per path
  * and split confs for the probes): a rewrite at the same path replaces
  * the entry instead of being served the old file's schema or probe
  * counts.
  *
  * [[Graft.clearCaches]] leaves these memos in place. They hold metadata
  * only (a schema, two counts), never data, and each entry is checked
  * against the current file version on every read, so an entry cannot go
  * stale; evicting them there would put the inference job back on every
  * query that follows a cache clear, which the bench does before every
  * query. */
object Tables {
  /** `spark.read.parquet` of `$dir/$name.parquet`, with the schema
    * inferred once per file version and schema confs. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val v = fileVersion(s, path)
    val schema =
      schemas(v.path, (v, schemaConfs(s)))(s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** One version of the parquet data at a path: the qualified path and
    * (path, length, modification time) of every file under it, sorted.
    * A missing path has no files; reading it still fails in Spark, so
    * nothing is memoized for it. */
  private final case class FileVersion(
      path: String, files: Seq[(String, Long, Long)])

  private def fileVersion(s: SparkSession, path: String): FileVersion = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    // getFileStatus/listStatus only: the local filesystem forks a
    // process to load a file's permissions, which listFiles (its
    // LocatedFileStatus) does for every file
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val files =
      try walk(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Nil }
    FileVersion(root.toString, files.sorted)
  }

  /** Metadata memoized per key, valid for one version `S` of the key's
    * files: a lookup under a different version recomputes and replaces
    * the entry, so each key holds one entry however often its files are
    * rewritten. */
  private final class VersionMemo[K, S, V] {
    private val m = scala.collection.concurrent.TrieMap.empty[K, (S, V)]
    def apply(key: K, version: S)(compute: => V): V = m.get(key) match {
      case Some((v, x)) if v == version => x
      case _ =>
        val x = compute
        m.put(key, (version, x))
        x
    }
  }

  /** The session confs the parquet schema inference reads: the schema
    * converter's inputs, schema merging, and whether summary files are
    * trusted. Typed getters, so "TRUE" and "true" key alike. */
  private def schemaConfs(s: SparkSession): Seq[Boolean] = {
    val c = s.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.isParquetSchemaMergingEnabled,
      c.isParquetSchemaRespectSummaries, c.legacyParquetNanosAsLong,
      c.caseSensitiveAnalysis, c.parquetFieldIdReadEnabled,
      c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  private val schemas = new VersionMemo[String, (FileVersion, Seq[Boolean]),
    org.apache.spark.sql.types.StructType]

  /** Normalize events.ts to a session-timezone (UTC) microsecond
    * TimestampType regardless of how the fixture was written. The driver
    * has shipped events.parquet with two different physical encodings so
    * far — TIMESTAMP(NANOS) through round 5, TIMESTAMP_MICROS
    * (isAdjustedToUTC=false) from round 6 — so the loader adapts to the
    * schema it actually reads instead of assuming one:
    *
    *  - LongType: the file carries TIMESTAMP(NANOS), which Spark 4
    *    rejects by default (PARQUET_TYPE_ILLEGAL) and we read under
    *    `nanosAsLong` ([[GraftConf.engineConf]]) as raw nanoseconds.
    *    Truncate to µs in integer space (`div` — a double division loses
    *    precision above 2^53 ns),
    *    exactly what DuckDB's µs-native TIMESTAMP does on the same file.
    *  - TimestampNTZType: the file carries TIMESTAMP_MICROS with
    *    isAdjustedToUTC=false. Cast to TimestampType: every session here
    *    pins spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *    naive wall-clock as the same UTC instant DuckDB reads.
    *  - TimestampType (isAdjustedToUTC=true fixtures): already right.
    *
    * Shared by the batch reader below and Bench's streaming probes so
    * both paths carry identical event-time semantics. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    =
    normalizeEventTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, t(s, d, "documents"), s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, t(s, d, "embeddings"), s"$d/embeddings.parquet")

  /** The corpora feeding compute-heavy per-row work (shingling, hashing,
    * vector math) must be spread across the cluster even when the file
    * layout can't: parquet can never split INSIDE a row group, so a
    * single-row-group file scans as one non-empty task no matter how
    * many byte-range splits the planner cuts — and everything before the
    * first shuffle serializes on one core.
    *
    * Measured failure of the previous split-count test (r14, sf10): a
    * 66 MB single-row-group documents file under local[32] plans
    * 17 byte-range splits (maxSplitBytes = size/parallelism), 16 of them
    * EMPTY — the count looked healthy, the repartition was skipped, and
    * every interpreted-lambda map phase ran one task
    * (q_text_language_ngram: 691 s isolated). The honest splittability
    * signal is the ROW-GROUP count, a metadata-only footer read,
    * memoized per file version.
    *
    * The row-group count alone over-estimates too (ADVICE r14): the
    * planner PACKS many small row groups into one split when
    * maxSplitBytes exceeds row-group size, so a 20-row-group layout can
    * still plan only ~3 non-empty tasks. Effective scan parallelism is
    * bounded by BOTH counts, so the signal is their MIN: min(row
    * groups, planned splits). On a production corpus (thousands of
    * files × row groups) the footer sweep short-circuits at the
    * decision threshold — O(threshold) footer reads, not O(files);
    * locally the repartition is one narrow shuffle of a small table. */
  private val rowGroupCounts = new VersionMemo[(Int, String), FileVersion, Int]

  /** Total row groups across the parquet file(s) at `path`, stopping as
    * soon as the running count reaches `stopAt` (the answer past the
    * caller's threshold doesn't change the decision, so don't pay
    * O(files) footer I/O for it). Truncated results are therefore a
    * LOWER bound that is only exact below `stopAt`. */
  private[graft] def rowGroups(s: SparkSession, path: String,
      stopAt: Int = Int.MaxValue): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(p))
    var sum = 0
    val it = files.iterator
    while (it.hasNext && sum < stopAt) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(it.next(), conf))
      try sum += r.getFooter.getBlocks.size finally r.close()
    }
    sum
  }

  /** Planned-split probes, memoized per (split confs, path) and file
    * version (ADVICE r15/r16): the probe forces physical planning of the
    * scan (`df.rdd.getNumPartitions`), and [[spread]] runs on every
    * documents/embeddings table construction — at large file counts
    * that is repeated split-planning work for an answer that cannot
    * change under fixed inputs. The answer DOES depend on the
    * session-level `spark.sql.files.maxPartitionBytes` /
    * `openCostInBytes` confs (SpreadGuardSpec itself flips them around
    * its calls), so those join the key rather than living in a
    * docstring constraint. */
  private val plannedSplits = new VersionMemo[String, FileVersion, Int]

  /** Cache key for [[plannedSplits]]: the split-geometry confs that
    * feed `FilePartition.maxSplitBytes`, then the path. Byte confs are
    * normalized to numeric bytes (ADVICE r17: '128MB' vs '134217728'
    * fragmented the cache needlessly), and `minPartitionNum` — the one
    * other session-settable input to the split count — joins the key;
    * the remaining input, `defaultParallelism`, is fixed by the
    * session's master string for its lifetime. */
  private def splitKey(s: SparkSession, path: String): String = {
    val c = s.conf
    def bytes(k: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        c.get(k, dflt))
    bytes("spark.sql.files.maxPartitionBytes", "128MB") + ":" +
      bytes("spark.sql.files.openCostInBytes", "4MB") + ":" +
      s.sessionState.conf.filesMinPartitionNum.getOrElse(-1) + ":" + path
  }

  /** `df` MUST be the canonical scan of `path` (no coalesce/repartition
    * applied): the planned-split probe is memoized per path and file
    * version, so a transformed frame would poison the cache for later
    * callers. */
  private[graft] def spread(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val v = fileVersion(s, path)
    // planned byte-range splits: an upper bound on scan tasks; when it
    // is already under the threshold the repartition happens regardless
    // of row groups, so the footer sweep is skipped entirely
    val planned = plannedSplits(splitKey(s, v.path), v)(df.rdd.getNumPartitions)
    if (planned.toLong * 2 < target) return df.repartition(target)
    // the decision only needs "row groups < target/2?", so the footer
    // sweep may stop counting at the threshold; memoize per (threshold,
    // path) because a truncated count is not reusable under a larger
    // threshold
    val threshold = (target + 1) / 2
    val rgs = rowGroupCounts((threshold, v.path), v) {
      try rowGroups(s, path, stopAt = threshold)
      catch { case scala.util.control.NonFatal(e) =>
        // Logged, explicit fallback (no silent caps): without the footer
        // count, trust the planner's split count alone — planned splits
        // still bound parallelism from above, so a one-row-group giant
        // file degrades to the pre-r14 behavior instead of silently
        // serializing AND silently skipping the log.
        System.err.println(s"[graft] rowGroups($path) failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
          "falling back to the planned split count alone")
        Int.MaxValue }
    }
    // Long math — the Int.MaxValue fallback must not overflow the
    // comparison (Int.MaxValue * 2 == -2 would force a repartition,
    // the opposite of what the "trust the planner" sentinel means)
    if (rgs.toLong * 2 < target) df.repartition(target) else df
  }
}
