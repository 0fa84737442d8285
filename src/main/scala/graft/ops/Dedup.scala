package graft.ops

import graft.{Q, Tables => T}
import graft.util.Det.{r2, sqlR2}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Report.SortedOnce

/** Deduplication surface over `documents` (the training-data-pipeline
  * mandate): exact, MinHash+LSH banding, n-gram Jaccard, SimHash,
  * embedding-cosine near-dup.
  *
  * The MinHash/Jaccard pipelines use an engine-portable hash — md5 hex
  * strings with per-seed prefixes, min taken lexicographically — so the
  * DuckDB oracle can replicate signatures bit-for-bit. At cluster scale the
  * same plan shape holds: shingle explode is map-side, signatures are one
  * groupBy(doc), banding turns the quadratic pair search into an equi-join
  * on (band_no, band) — the standard LSH shuffle-join.
  */
object Dedup {

  /** Distinct word 2-gram shingles per document, via the one-pass
    * [[graft.functions.WordShingles]] expression (bit-identical to the
    * five-HOF built-in spelling the oracle uses, minus its interpreted
    * per-lambda overhead). */
  private def shingled(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("sh", graft.functions.WordShingles.shingles(col("text")))

  /** DuckDB mirror of [[shingled]] — the one oracle spelling of the
    * word 2-gram shingle law: CTEs `toks` and `sh(doc_id, carry, sh)`
    * over the `(doc_id, carry, text)` relation `src`, where `carry` is
    * one column passed through (a per-document attribute such as
    * `source` or `split`).
    *
    * `sh` is MATERIALIZED (here and in the frames below): DuckDB 1.x
    * inlines a plain CTE per REFERENCE — an oracle that reads the
    * posting frame three times re-derives the whole shingle explode
    * three times, which is exactly what made the original
    * band_sweep/minhash_quality spellings infeasible at sf3 (VERDICT
    * r11 §2; measured failures in SCALE.md round 11). Results are
    * unchanged; only the execution is pay-once. */
  private[ops] def shingleSqlCte(src: String, carry: String): String =
    s"""toks AS (SELECT doc_id, $carry, string_split(text, ' ') AS tk
                FROM $src),
       sh AS MATERIALIZED (SELECT DISTINCT doc_id, $carry,
              unnest(list_transform(
                range(1, greatest(len(tk) - 1, 1) + 1),
                i -> array_to_string(tk[i:i+1], ' '))) AS sh
              FROM toks)"""

  /** Planes in a [[graft.functions.MinHashSig]] signature: two md5s per
    * shingle, each split into four 32-bit planes. */
  private val MinHashPlanes = 8

  /** Bands of the declared MinHash-LSH layout (2 bands × 4 planes). */
  private val MinHashBands = 2

  /** The MinHash band law: signature column `sig` split into `nBands`
    * bands of `8 / nBands` consecutive planes, band b the concatenation
    * of its planes' hex. [[sigBandSql]] is the oracle's spelling. */
  private[ops] def sigBands(sig: Column, nBands: Int): Seq[Column] = {
    val rows = MinHashPlanes / nBands
    (0 until nBands).map(b => concat_ws("", slice(sig, b * rows + 1, rows)))
  }

  /** DuckDB mirror of band `b` of [[sigBands]], over the `h0`..`h7`
    * plane columns of [[minhashSqlCte]]'s `mh`. */
  private def sigBandSql(nBands: Int, b: Int): String = {
    val rows = MinHashPlanes / nBands
    (b * rows until (b + 1) * rows).map(i => s"h$i").mkString(" || ")
  }

  /** DuckDB mirror of [[graft.functions.MinHashSig]] and the declared
    * banding, over the `sh(doc_id, carry, sh)` relation `src`
    * ([[shingleSqlCte]]): `hx` (the two seeded md5s per shingle), `mh`
    * (the 8 planes `h0`..`h7` per document, min over fixed-width hex =
    * min over the 32-bit value) and `bands_all(doc_id, carry, band_no,
    * band)`, every band of every document before any cap. */
  private[ops] def minhashSqlCte(src: String, carry: String): String = {
    val planes = (0 until MinHashPlanes).map(i =>
      s"min(substring(m${i / 4}, ${i % 4 * 8 + 1}, 8)) AS h$i").mkString(", ")
    val bands = (0 until MinHashBands).map(b =>
      s"SELECT doc_id, $carry, $b AS band_no, ${sigBandSql(MinHashBands, b)} AS band FROM mh")
    s"""hx AS (SELECT doc_id, $carry, md5('0:' || sh) AS m0,
                     md5('1:' || sh) AS m1 FROM $src),
       mh AS MATERIALIZED (SELECT doc_id, $carry, $planes
              FROM hx GROUP BY doc_id, $carry),
       bands_all AS (${bands.mkString("\n         UNION ALL ")})"""
  }

  /** Document-frequency ceiling for posting lists (pair generation) and
    * fingerprint joins. A key shared by more than this many documents is
    * the dedup analogue of a stopword: it carries no similarity signal
    * (everything matches everything through it) while its pair expansion
    * is quadratic in df. Far above any real near-dup cluster; sf0.1 max
    * observed df is 33.
    *
    * The declared DuckDB oracles state the same cap in their QUALIFY
    * clause via this one constant, so engine and oracle can never
    * disagree about it (the former standalone big-sf replay tools that
    * duplicated the value are retired — round 12, VERDICT r11 §2). */
  val MaxPostingDf = 1000

  /** Raw-pair-rows-per-task budget for pair-enumeration stages
    * (VERDICT r17 #1 — the engine provisions its own hottest shuffle).
    *
    * A pair stage's map-side partial aggregation holds a hash map of
    * (a, b) keys; once the map outruns the task's execution-memory
    * share it falls back to sort-based aggregation and spills its
    * REMAINING input as uncompressed sorted runs — so fallback spill
    * ≈ (raw pairs per task − what the map absorbed) × row bytes.
    * Measured liveness boundary (SCALE.md r17): sf10's 2.97e9 raw
    * pairs over 32 tasks (~93M/task) completes with spill just inside
    * the 72 GB sandbox disk; sf20's 5.33e9 over 32 (~167M/task)
    * reproducibly fills it and dies ENOSPC, while 256-wide stages
    * complete with a ~65 GB peak. At 100 TB under-provisioned pair
    * reducers don't run slow — they run local disks out and fail.
    *
    * The budget is deliberately BELOW the sf10 just-fits point: 32M
    * raw pairs per task keeps per-task fallback spill bounded at
    * roughly a task-sized file rather than a disk-sized one, and the
    * engagement guard in [[pairStageParts]] (never below the session
    * default) keeps small scales on the exact certified plans. */
  val PairStageTargetRawPerTask: Long = 32L * 1000 * 1000

  /** Raw-pair-rows-per-task budget for the pair AGGREGATION stage
    * (round 18). Unlike the emission stage — whose tasks are state-free
    * once the raw pairs shuffle by the pair key — an aggregation task
    * holds a hash map over its distinct pairs (~32 B/entry for the
    * packed key), the distinct-to-raw ratio runs near 1 for winnow
    * pairs, and the exchange-free fused partial+final pair doubles the
    * map bytes. 1M raw rows/task keeps the two maps near 64 MB
    * combined — comfortably inside a task's execution-memory share at
    * 32 concurrent tasks on a 16 GB heap, and a conservative (smaller
    * maps, more tasks) choice on bigger executors. Measured at sf3
    * (r18, per-stage task metrics, bypass writer): 4M raw/task still
    * spilled 42 GB; 1M runs the whole pair pipeline spill-free at
    * 1005 s executor CPU vs 1618-1826 s for the r17 partial+final
    * shape. */
  val PairAggTargetRawPerTask: Long = 1L * 1000 * 1000

  /** Fd-safe width ceiling for a provisioned pair shuffle (r18). The
    * bypass-merge writer holds one open partition file per reduce
    * partition per RUNNING task, so a width w costs up to cores × w
    * descriptors at once — and the r17 flat 1024 backstop blew this
    * sandbox's 20k fd limit the first time the census asked for it
    * (sf10: 32 running writers × 1024 partition files + the JVM's own
    * descriptors → "Too many open files" in the emission stage).
    * Budget: half the process fd limit, divided by the machine's
    * concurrency; 1024 stays as the runaway-census backstop above it
    * and 64 as a floor so tiny-fd hosts still provision at all. */
  val PairStageMaxParts: Int = {
    val maxFd =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case u: com.sun.management.UnixOperatingSystemMXBean =>
          u.getMaxFileDescriptorCount
        case _ => Long.MaxValue
      }
    val cores = math.max(1, Runtime.getRuntime.availableProcessors)
    math.max(64L, math.min(1024L, maxFd / 2 / cores)).toInt
  }

  /** Reducer count for a pair-enumeration stage expected to carry
    * `rawPairs` rows (the exact Σ C(df,2) over the df-capped posting
    * census — the engine computes that census anyway for the hot-key
    * cap): the session default when the bound fits, else
    * ceil(rawPairs / target), capped at the fd-safe
    * [[PairStageMaxParts]] (a liveness bound, not a tuning point).
    * Never BELOW the session default — at small scale the certified
    * plan is untouched and no dispatch tax leaks in.
    *
    * `maxParts` (ADVICE r18): the fd-safe ceiling, injectable so the
    * provisioning arithmetic is testable machine-independently and so a
    * cluster deployment can pass its EXECUTOR-side budget — the default
    * [[PairStageMaxParts]] measures this JVM's fd limit and cores, which
    * is the right process on local[n] (driver == executor) but merely a
    * proxy elsewhere (the bypass writer's open files live in the executor
    * process). */
  def pairStageParts(rawPairs: Long, sessionParts: Int,
      target: Long = PairStageTargetRawPerTask,
      maxParts: Int = PairStageMaxParts): Int = {
    require(target > 0, s"pair-stage target must be positive: $target")
    val need = (rawPairs + target - 1) / target
    math.min(math.max(need, sessionParts.toLong),
      math.max(sessionParts.toLong, maxParts.toLong)).toInt
  }


  /** Inverted-index pair generation: group rows by `keys`, collect the
    * sorted doc_id posting list, stream each list's unordered pairs
    * through the lazy [[graft.functions.PairCombinations]] generator —
    * constant memory per posting list, no interpreted lambdas. One
    * shuffle (the groupBy), pairs never re-join the input — the shape
    * both LSH banding and blocked Jaccard share.
    *
    * Hot keys (df > maxDf) are dropped BEFORE the collect: the df count
    * partial-aggregates map-side (one row per key crosses the wire), the
    * surviving hot set is tiny by definition, and the anti-join against
    * it broadcasts — so neither the quadratic pair expansion nor the hot
    * key's collect_list buffer ever materializes. The input is scanned
    * twice (count pass + collect pass); that is the standard trade for
    * bounding the worst group at corpus scale.
    *
    * `keep` (a subset of `keys`) passes group-key columns through to the
    * output beside (a, b) — constant per group, so it costs nothing.
    * This is what lets a MULTI-CONFIG caller (the band-sweep calibration)
    * run ONE grouped pass over a frame whose key embeds the config id,
    * instead of filter-and-regroup per config (r15: 4 hot-count + 4
    * collect shuffles + 8 cache scans collapse to 1 + 1 + 2). */
  def pairsFromGroups(df: DataFrame, keys: Seq[String],
      maxDf: Int = MaxPostingDf, keep: Seq[String] = Nil): DataFrame = {
    // fail at entry with a named column, not an opaque analysis error
    // inside the aggregate select below (ADVICE r15)
    require(keep.forall(keys.contains),
      s"keep must be a subset of keys: ${keep.filterNot(keys.contains).mkString(", ")} not in ${keys.mkString(", ")}")
    dropOverCapKeys(df, keys, maxDf)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(keep.map(col) :+
        graft.functions.PairCombinations.pairs(col("ids")): _*)
      .select((keep :+ "a" :+ "b").map(col): _*)
  }

  /** The hot-key cap: the distinct `keys` tuples held by more than
    * `maxDf` rows of `df` — tiny by definition, so every consumer
    * broadcasts it (see [[pairsFromGroups]]). */
  private[ops] def overCapKeys(df: DataFrame, keys: Seq[String],
      maxDf: Int): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df") > maxDf)
      .select(keys.map(col): _*)

  /** `df` without the rows of its [[overCapKeys]]: a broadcast left-anti
    * join, so no hot key's rows reach a pair expansion. */
  private[ops] def dropOverCapKeys(df: DataFrame, keys: Seq[String],
      maxDf: Int): DataFrame =
    df.join(broadcast(overCapKeys(df, keys, maxDf)), keys, "left_anti")

  /** Census of what [[pairsFromGroups]]' df-cap DROPPED — the "no silent
    * caps" companion (VERDICT r9 §2): the cap is the right scale
    * decision (a >maxDf bucket is a stopword-key whose pair expansion is
    * quadratic noise), but at corpus scale a boilerplate shingle can
    * push a real near-dup family over the cap, and a run report that
    * doesn't SAY so reads as "no duplicates here". One row:
    * `n_capped_bands` (distinct keys over the cap) and `n_capped_docs`
    * (distinct documents holding at least one capped key — every one of
    * them has candidate pairs the cap suppressed). Semantics note
    * (ADVICE r10): this is an AFFECTED count — a member of a capped
    * bucket may still pair via another band — deliberately distinct
    * from [[qDedupEmbedding]]'s `n_dropped_vecs`, which counts only the
    * rows its block cap actually removed from pairing. Same two-phase
    * df-count as the cap itself — the hot set is tiny by definition, so
    * the semi-join broadcasts; `df` is expected persisted by the caller
    * (both scans hit cache). */
  def capCensus(df: DataFrame, keys: Seq[String],
      maxDf: Int = MaxPostingDf, idCol: String = "doc_id",
      idsName: String = "n_capped_docs"): DataFrame = {
    val hot = overCapKeys(df, keys, maxDf)
    hot.agg(count(lit(1)).as("n_capped_bands"))
      .crossJoin(
        df.join(broadcast(hot), keys, "left_semi")
          .agg(countDistinct(col(idCol)).as(idsName)))
  }

  /** Exact dedup, deterministic survivor (min doc_id), survivor count per
    * language. Duplicate groups key on `md5(text)` — a 128-bit content
    * hash — NOT the full text: at corpus scale the window exchange then
    * shuffles/sorts 32-char keys instead of whole document bodies
    * (collision odds at 128 bits are negligible; same trade every dedup
    * pipeline makes). */
  val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      T.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs FROM (
             SELECT lang, row_number() OVER (PARTITION BY md5(text)
                    ORDER BY doc_id) AS rn
             FROM documents)
           WHERE rn = 1 GROUP BY lang ORDER BY lang"""))

  /** The persisted (doc_id, band_no, band) frame both [[minhashPairs]]
    * and the [[capCensus]] read. pairsFromGroups scans its input twice
    * (hot-count + collect); cached, the shingle+minhash map pass runs
    * ONCE and every further scan reads two short strings per document.
    * Evicted by [[graft.Graft.clearCaches]]. */
  private[ops] def minhashBands(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhash(col("sh")).as("sig"))
      .select(col("doc_id"), minhashBandRows(col("sig")))
      .toDF("doc_id", "band_no", "band")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One `(band_no, band)` row per band of the declared banding of
    * signature `sig` ([[sigBands]] at 2 × 4). */
  private[ops] def minhashBandRows(sig: Column): Column =
    posexplode(array(sigBands(sig, MinHashBands): _*))

  /** Per document: its distinct sorted shingle set `shd` and MinHash
    * signature `sig` — the base both sketch-calibration queries
    * ([[qDedupMinhashQuality]], [[qDedupBandSweep]]) score pairs on. */
  private def sigBase(s: SparkSession, d: String): DataFrame =
    shingled(s, d).select(col("doc_id"),
      array_sort(array_distinct(col("sh"))).as("shd"),
      graft.functions.MinHashSig.minhash(col("sh")).as("sig"))

  /** Distinct MinHash-LSH candidate pairs (a < b) — the shared input of
    * [[qDedupMinhash]] and [[Graph.qDedupComponents]]. Signatures are
    * computed entirely map-side, fused into one pass by the MinHashSig
    * expression — no explode, no groupBy(doc_id) shuffle. Only the band
    * groupBy inside [[pairsFromGroups]] ever shuffles. */
  private[ops] def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairsFromGroups(minhashBands(s, d), Seq("band_no", "band")).distinct()

  /** DuckDB mirror of [[minhashPairs]]: CTE chain ending in
    * `cand(a, b)` — the candidate pair set, distinct, a < b. The
    * `qualify` step mirrors [[pairsFromGroups]]' maxDf hot-key drop —
    * the oracle must state the cap too, or a band with more than maxDf
    * documents diverges between engines exactly when the cap fires. */
  private[ops] val minhashPairsSqlCte: String =
    s"""${shingleSqlCte("documents", "source")},
       ${minhashSqlCte("sh", "source")},
       bands AS (
         SELECT doc_id, band_no, band FROM bands_all
         ${coldSql("band_no, band")}),
       cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y
                  ON x.band_no = y.band_no AND x.band = y.band
                 AND x.doc_id < y.doc_id)"""

  /** Shared feasible-at-scale intersection CTEs (VERDICT r11 §2 — the
    * staged-tool recipe folded back into the ONE declared spelling):
    * `shi` re-keys postings through an INTEGER shingle dictionary
    * (8-byte sids instead of ~60-byte strings in the |pairs|×shingles
    * exploded intermediate), `sizes` is the per-doc set size, and
    * `inter` computes shingle intersections for CANDIDATE PAIRS ONLY —
    * the original global posting self-join scored every corpus pair
    * sharing any shingle and filled a 252 GB device at sf3, while the
    * scoring consumers only ever read candidate rows. All three are
    * MATERIALIZED (computed once, whatever the reference count).
    * Appends to a chain defining `sh` and the `candTable` (a, b) pair
    * frame; measured at sf3: minhash_quality 36 s / band_sweep 71 s as
    * one declared statement (was: filled-disk). */
  private[ops] def candInterSqlCte(candTable: String = "cand"): String =
    s"""shi AS MATERIALIZED (
         SELECT s.doc_id, d.sid
         FROM sh s JOIN (SELECT sh, row_number() OVER (ORDER BY sh) AS sid
                         FROM (SELECT DISTINCT sh FROM sh)) d USING (sh)),
       sizes AS MATERIALIZED (SELECT doc_id, count(*) AS nsh FROM sh
                GROUP BY doc_id),
       inter AS MATERIALIZED (
         SELECT c.a, c.b, count(*) AS n_inter
         FROM $candTable c
         JOIN shi x ON x.doc_id = c.a
         JOIN shi y ON y.doc_id = c.b AND y.sid = x.sid
         GROUP BY 1, 2)"""

  /** DuckDB mirror of [[dropOverCapKeys]]: the clause that keeps a row only
    * while its `keys` group holds at most `maxDf` rows. */
  private[ops] def coldSql(keys: String, maxDf: Int = MaxPostingDf): String =
    s"QUALIFY count(*) OVER (PARTITION BY $keys) <= $maxDf"

  /** DuckDB mirror of [[overCapKeys]]: the distinct `keys` tuples of
    * relation `src` held by more than `maxDf` rows — exactly the groups
    * [[coldSql]] drops at the same `maxDf`. */
  private def overCapSql(src: String, keys: String, maxDf: Int): String =
    s"SELECT $keys FROM $src GROUP BY $keys HAVING count(*) > $maxDf"

  /** DuckDB mirror of [[capCensus]] over the `(band_no, band)` keys of
    * relation `src`: CTEs `hotb` ([[overCapSql]] at [[MaxPostingDf]])
    * and the one-row `census(n_capped_bands, idsName)`. */
  private[ops] def capCensusSqlCte(src: String, idCol: String = "doc_id",
      idsName: String = "n_capped_docs"): String =
    s"""hotb AS (${overCapSql(src, "band_no, band", MaxPostingDf)}),
        census AS (SELECT
          (SELECT count(*) FROM hotb) AS n_capped_bands,
          (SELECT count(DISTINCT b.$idCol) FROM $src b
             JOIN hotb h ON b.band_no = h.band_no AND b.band = h.band)
            AS $idsName)"""

  /** MinHash(8 planes) + LSH banding (2 bands × 4 rows): candidate
    * near-duplicate pairs. Portable hash, cheap: TWO md5s per shingle
    * ('0:'/'1:' seed prefixes), each split into four 8-hex-char (32-bit)
    * chunks = 8 independent planes; min over fixed-width lowercase hex =
    * min over the 32-bit value. The banding equi-join on (band_no, band)
    * is what keeps this linear at corpus scale — never pair-compare. */
  val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, d) => minhashPairs(s, d).orderBy("a", "b"),
    Some(s"""WITH $minhashPairsSqlCte
            SELECT a, b FROM cand ORDER BY a, b"""))

  /** Calibration-sample size bound for [[qDedupNgramJaccard]]: above
    * this many documents the exact scan runs on a deterministic
    * md5-bucket sample of ~this size; at or below it (the oracle gate
    * and sf0.1 bench scales) the sample is the full corpus and results
    * are unchanged. See the query scaladoc for why exact all-pairs
    * Jaccard must be bounded rather than df-capped. */
  val NgramSampleTarget = 12800L

  /** Exact n-gram Jaccard similarity, blocked by source: pairs with
    * J >= 0.5 over a BOUNDED deterministic document sample — the exact
    * calibration op beside the scale path ([[qDedupMinhash]] candidates
    * + [[qDedupEditdist]]-style verify), per VERDICT r8 §3.
    *
    * Why sampled: exact corpus-wide Jaccard is intrinsically quadratic
    * on this data. The pair mass is Σ_shingle C(df,2), shingle df grows
    * linearly with corpus size, and on a bounded-vocabulary corpus
    * there are NO rare shingles to prune with: measured at sf1, the
    * full scan generates 82.5 M candidate pairs under the df-1000 cap,
    * 54 s (tightening the cap to 128 leaves 82 M — the mass sits in
    * mid-df keys), and prefix filtering (AllPairs/PPJoin, Bayardo et
    * al. WWW'07 — implemented and measured) still yields 22.7 M
    * distinct candidates because every document's "rarest" shingles
    * are corpus-common, making the verify join slower than the scan it
    * replaced. A calibration measurement does not need the full
    * corpus: it needs an unbiased, reproducible, BOUNDED sample.
    *
    * The sample: keep documents whose md5(doc_id) first byte falls in
    * the lowest k of 256 buckets, k = ceil(256·target/n) clamped to
    * [1, 256] — integer arithmetic both engines compute from the same
    * count, so the sampled id set is bit-identical across engines,
    * runs, and partitionings (the [[qSampleHash]] primitive, made
    * size-adaptive). n <= target keeps the WHOLE corpus (k = 256):
    * gate-scale results are unchanged, and DedupSpec's hand-built
    * fixtures are never subsampled. Above the bound the pair work is
    * ~constant (target² at worst), which is what makes an EXACT
    * quadratic diagnostic shippable at 100 TB. The count probe is one
    * parquet count — bounded driver state, the IVF-centroid class.
    *
    * Pair generation on the sample is inverted-index style: group by
    * (source, shingle), collect the sorted posting list, expand pairs
    * map-side with the lazy [[graft.functions.PairCombinations]]
    * generator under the [[MaxPostingDf]] hot-key cap (mirrored in the
    * oracle's QUALIFY). Per-doc set sizes come from `size(sh)` — no
    * second explode. The compact shingle projection is persisted so
    * the sampled corpus is shingled once across the hot-key count
    * pass, the collect pass, and the sizes join; MEMORY_AND_DISK
    * spills rather than recomputes. Evicted by
    * [[graft.Graft.clearCaches]]. */
  val qDedupNgramJaccard = Q(
    "q_dedup_ngram_jaccard",
    (s, d) => {
      val n = T.documents(s, d).count()
      val k = math.min(256L, math.max(1L,
        (256L * NgramSampleTarget + n - 1) / math.max(n, 1L)))
      val thr = f"${k - 1}%02x"
      val sampled = T.documents(s, d).filter(
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          <= thr)
      val sh = sampled
        .withColumn("sh", graft.functions.WordShingles.shingles(col("text")))
        .select(col("source"), col("doc_id"),
          size(col("sh")).cast("long").as("n_sh"), col("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sets = sh
        .select(col("source"), col("doc_id"), explode(col("sh")).as("sh"))
      val sizes = sh.select(col("doc_id").as("sz_id"), col("n_sh"))
      val inter = pairsFromGroups(sets, Seq("source", "sh"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes, col("a") === col("sz_id"))
        .withColumnRenamed("n_sh", "na").drop("sz_id")
        .join(sizes, col("b") === col("sz_id"))
        .withColumnRenamed("n_sh", "nb").drop("sz_id")
        .withColumn("jacc",
          r2(col("n_inter").cast("double") /
            (col("na") + col("nb") - col("n_inter"))))
        .filter(col("jacc") >= 0.5)
        .select("a", "b", "jacc")
        .orderBy("a", "b")
    },
    Some(s"""WITH pn AS (SELECT least(256, greatest(1,
                (256 * $NgramSampleTarget + count(*) - 1) // count(*))) AS k
              FROM documents),
            sdocs AS (SELECT d.doc_id, d.source, d.text
                      FROM documents d, pn
                      WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
                        <= printf('%02x', pn.k - 1)),
            ${shingleSqlCte("sdocs", "source")},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            -- mirror pairsFromGroups' maxDf drop: posting lists sized
            -- above the cap generate no pairs in EITHER engine
            shc AS (SELECT doc_id, source, sh FROM sh
                    ${coldSql("source, sh")}),
            inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
                             count(*) AS n_inter
                      FROM shc x JOIN shc y
                        ON x.source = y.source AND x.sh = y.sh
                       AND x.doc_id < y.doc_id
                      GROUP BY 1, 2)
            SELECT a, b, ${sqlR2("CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)")} AS jacc
            FROM inter
            JOIN sizes sa ON a = sa.doc_id
            JOIN sizes sb ON b = sb.doc_id
            WHERE ${sqlR2("CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)")} >= 0.5
            ORDER BY a, b"""))

  /** 32-bit SimHash per document (token-frequency weighted, md5-derived
    * bit planes). The planes are md5 bytes — portable, like MinHash's —
    * so the oracle replays the exact construction relationally: token
    * counts, plane = first 4 md5 bytes as uint32 (the hex-prefix cast),
    * ±count vote per bit, sign bits reassembled with shifts. A bit-layout
    * or hash divergence between engines flips whole signature values, so
    * the hash-match gate pins the signature bit-for-bit. */
  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) =>
      T.documents(s, d)
        .select(col("doc_id"),
          graft.functions.SimHashSig.simhash(split(col("text"), " "))
            .as("simhash"))
        .sortedOnce("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                          FROM documents),
            tc AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
            pl AS (SELECT doc_id, cnt,
                          ('0x' || substring(md5(tok), 1, 8))::BIGINT AS plane
                   FROM tc),
            bits AS (SELECT doc_id, b.range AS b,
                            sum(CASE WHEN (plane >> CAST(b.range AS INT)) & 1 = 1
                                     THEN cnt ELSE -cnt END) AS s
                     FROM pl CROSS JOIN range(32) b GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0
                            THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-label block-size ceiling for the embedding near-dup self-join:
    * each label contributes at most this many vectors (the first
    * `MaxEmbeddingBlock` by vec_id), so the within-block pair work is
    * bounded by MaxEmbeddingBlock²/2 no matter how hot a label gets.
    * Blocks that overflow the cap are the ANN path's job
    * ([[Similarity.srpTopk]]/[[Similarity.ivfTopk]] bound candidates
    * data-adaptively). sf0.1 max block is 218 — results unchanged. */
  val MaxEmbeddingBlock = 1024

  /** Embedding-cosine near-duplicate pairs (same label block, cos >=
    * `cosFloor`). Blocking on `label` bounds the pair space exactly
    * like an IVF coarse quantizer would at scale; the deterministic
    * per-block cap (above) bounds the quadratic step when one label
    * dominates. The REUSABLE operator defaults to the conventional
    * [[EmbeddingNearDupFloor]] (0.9) — honest near-dup semantics for
    * facade callers (ADVICE r5); only the declared gate query lowers
    * the floor to [[EmbeddingCosFloor]], a gate-visibility calibration:
    * the synthetic fixture's same-label cosines top out at ~0.47 at
    * sf0.01 (~0.51 at sf0.1), so the conventional 0.9 floor returned 0
    * rows at every sf and the 0=0 hash match proved nothing (VERDICT
    * r4). 0.40 keeps the top few percent of same-label pairs flowing
    * through the gate (6 rows at sf0.01, dozens at sf0.1) so threshold,
    * rounding, and pair enumeration are all actually exercised; a
    * production corpus with real near-dups sees the 0.9 default.
    * DedupSpec separately plants genuine >0.9 clusters and asserts
    * they surface through the DEFAULT floor.
    *
    * `maxBlock` exposed for tests; the declared query runs at
    * [[MaxEmbeddingBlock]]. */
  private[ops] def embeddingPairs(s: SparkSession, d: String,
      maxBlock: Int, cosFloor: Double = EmbeddingNearDupFloor): DataFrame = {
    val wb = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val e = Similarity.vectors(s, d, "label")
      .withColumn("rnb", row_number().over(wb))
      .filter(col("rnb") <= maxBlock)
      .drop("rnb")
    val cos = Similarity.cosine(col("x.v"), col("y.v"))
    e.as("x")
      .join(e.as("y"),
        col("x.label") === col("y.label") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
              r2(cos).as("cos"))
      .filter(col("cos") >= cosFloor)
      .orderBy("a", "b")
  }

  /** The conventional embedding near-dup threshold — the reusable
    * operator's default floor. */
  val EmbeddingNearDupFloor = 0.9

  /** See [[embeddingPairs]] — the declared GATE query's floor,
    * calibrated to the fixture so the sf0.01 gate output is non-empty. */
  val EmbeddingCosFloor = 0.4

  /** SRP-LSH-banded embedding candidate generation — the scale path the
    * label-blocked [[qDedupEmbedding]] hands over to when no blocking
    * attribute exists: three 8-plane bands of a 24-plane SRP code
    * (banding boosts near-dup recall exactly like MinHash banding), an
    * equi-join per band, hot-band cap, exact cosine rescoring. Returns
    * the `k` highest-cosine candidate pairs (cos desc, then (a, b)) —
    * deterministic given the driver-precomputed hyperplanes — with the
    * hot-band cap census riding every row (and surviving an EMPTY pair
    * set as one all-null pair row: at saturation "0 pairs" must read as
    * "everything was capped", not "no duplicates").
    *
    * Band width is the scale dial: a band of w bits saturates the
    * df-cap once corpus > ~2^w·cap, after which EVERY bucket is dropped
    * and the operator goes structurally empty — the original 2×4-bit
    * layout did exactly that at 60k vectors (sf3), while 3×8-bit holds
    * to ~256·cap vectors and keeps near-dup recall via the extra band
    * (1-(1-p^8)^3 vs 1-(1-p^4)^2). At larger corpora widen bands
    * ~log2(n/cap) and add bands to hold recall.
    *
    * r19 measurement note (negative result, kept for the record): a
    * rewrite that shuffled only (vec_id, band_no, band), generated
    * distinct candidate pairs via the grouped emission and re-attached
    * vectors with two equi-joins — the guide §8 "move the payload once"
    * shape — measured 6× WORSE at sf3 (wall 103 s vs 16.6 s, executor
    * CPU 850 s vs 179 s, 8 GB spill vs 0): materializing the ~C(df,2)
    * candidate-pair mass through a distinct exchange and two sort-merge
    * joins costs far more than this plan's broadcast-probe pipeline,
    * which scores each collision in-stream and lets the distinct
    * partial-aggregate collapse duplicates map-side before the only
    * pair-sized exchange. The broadcast of the banded frame is the
    * plan's known scale ceiling (8 GB relation cap — SCALE.md); at that
    * corpus size the fix is wider bands (fewer collisions per bucket),
    * not the pair-materializing rewrite. */
  private[graft] def embeddingLshTopPairs(s: SparkSession, d: String,
      maxBucket: Int = MaxPostingDf, k: Int = 10): DataFrame = {
    val b = Similarity.srpBuckets(s, d, nPlanes = 24)
      .select(col("vec_id"), col("v"), col("bucket"))
    val bands = b.select(col("vec_id"), col("v"),
        posexplode(array(
          pmod(col("bucket"), lit(256L)),
          pmod(floor(col("bucket") / 256).cast("long"), lit(256L)),
          floor(col("bucket") / 65536).cast("long"))))
      .toDF("vec_id", "v", "band_no", "band")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Same hot-key policy as pairsFromGroups: a band bucket holding more
    // than maxBucket vectors is dense-region noise whose pair expansion
    // is quadratic — drop it; dense regions are the ANN paths' job.
    val cold = dropOverCapKeys(bands, Seq("band_no", "band"), maxBucket)
    val cos = Similarity.cosine(col("x.v"), col("y.v"))
    val top = cold.as("x")
      .join(cold.as("y"),
        col("x.band_no") === col("y.band_no") &&
        col("x.band") === col("y.band") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
              r2(cos).as("cos"))
      .distinct()
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(k)
    val census = capCensus(bands, Seq("band_no", "band"), maxBucket,
      idCol = "vec_id", idsName = "n_capped_vecs")
    // LEFT join from the 1-row census so the census row survives an
    // empty top-k (broadcast graft, no body shuffle)
    broadcast(census).join(top, lit(true), "left")
      .select(col("a"), col("b"), col("cos"),
              col("n_capped_bands"), col("n_capped_vecs"))
      .orderBy(col("cos").desc_nulls_last, col("a"), col("b"))
  }

  /** Declared form of the LSH embedding near-dup path — DuckDB-oracled
    * since the bucket oracle landed: the oracle replays the ±1-plane
    * sign sums (bit-identical sequential arithmetic, see
    * [[Similarity.qSimLshBuckets]]), the three 8-bit band splits of the
    * 24-plane code, the hot-band cap as a QUALIFY with its census, and
    * the exact rescoring through [[Similarity.cosineSql]] under the
    * same 2dp rounding the blocked variant's oracle already proved
    * engine-stable. DedupSpec additionally plants near-identical
    * clusters and asserts they surface on top. */
  val qDedupEmbeddingLsh = Q(
    "q_dedup_embedding_lsh",
    (s, d) => embeddingLshTopPairs(s, d),
    Some {
      // One spelling of the SRP bucket law for every LSH oracle —
      // inlining a private copy here let the two drift silently (ADVICE r3).
      s"""WITH ${Similarity.vectorsSqlCte()}, ${Similarity.lshBucketsSqlCte(24)},
           bands AS (SELECT vec_id, v, 0 AS band_no, bucket % 256 AS band
                     FROM bk
                     UNION ALL
                     SELECT vec_id, v, 1, (bucket // 256) % 256 FROM bk
                     UNION ALL
                     SELECT vec_id, v, 2, bucket // 65536 FROM bk),
           cold AS (SELECT vec_id, v, band_no, band FROM bands
                    ${coldSql("band_no, band")}),
           ${capCensusSqlCte("bands", "vec_id", "n_capped_vecs")},
           pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
                       ${sqlR2(Similarity.cosineSql("x.v", "y.v"))} AS cos
                     FROM cold x JOIN cold y
                       ON x.band_no = y.band_no AND x.band = y.band
                      AND x.vec_id < y.vec_id),
           top AS (SELECT a, b, cos FROM pairs
                   ORDER BY cos DESC, a, b LIMIT 10)
         SELECT t.a, t.b, t.cos, c.n_capped_bands, c.n_capped_vecs
         FROM census c LEFT JOIN top t ON true
         ORDER BY t.cos DESC NULLS LAST, t.a, t.b"""
    })

  val qDedupEmbedding = Q(
    "q_dedup_embedding",
    (s, d) => {
      // Third cap site, same "no silent caps" contract as the minhash
      // bands and the LSH bands: at sf1+ every label block saturates
      // MaxEmbeddingBlock and the pair count goes CONSTANT across
      // scale (24190 rows at sf1 AND sf3) — without the census that
      // reads as "near-dup count stopped growing", not "the block cap
      // stopped looking". One narrow pass over (vec_id, label); the
      // 1-row census grafts via the left-join-from-census shape so it
      // survives an empty pair list.
      val wb = Window.partitionBy(col("label")).orderBy(col("vec_id"))
      val over = col("rnb") > lit(MaxEmbeddingBlock)
      // Column contract (ADVICE r10): `n_dropped_vecs` counts ONLY the
      // rows the rnb block cap removed from pairing — distinct from the
      // band censuses' `n_capped_vecs`/`n_capped_docs`, which count every
      // MEMBER of a capped bucket (a member may still pair via another
      // band). Dropped <= affected by construction; dashboards must not
      // compare the two as the same quantity, so the names now differ.
      val census = T.embeddings(s, d).select(col("vec_id"), col("label"))
        .withColumn("rnb", row_number().over(wb))
        .agg(countDistinct(when(over, col("label"))).as("n_capped_labels"),
             count(when(over, lit(1))).as("n_dropped_vecs"))
      broadcast(census)
        .join(embeddingPairs(s, d, MaxEmbeddingBlock, EmbeddingCosFloor),
              lit(true), "left")
        .select(col("a"), col("b"), col("cos"),
                col("n_capped_labels"), col("n_dropped_vecs"))
        .orderBy("a", "b")
    },
    Some(s"""WITH ${Similarity.vectorsSqlCte("label")}, $embeddingPairsSqlCte,
           census AS (SELECT
             count(DISTINCT CASE WHEN rnb > $MaxEmbeddingBlock
                                 THEN label END) AS n_capped_labels,
             count(CASE WHEN rnb > $MaxEmbeddingBlock THEN 1 END)
               AS n_dropped_vecs
             FROM ecap)
           SELECT p.a, p.b, p.cos, c.n_capped_labels, c.n_dropped_vecs
           FROM census c LEFT JOIN epairs p ON true
           ORDER BY p.a, p.b"""))

  /** DuckDB mirror of [[embeddingPairs]] at the declared block cap and
    * [[EmbeddingCosFloor]], over `e` carrying `label`: `ecap` (each
    * vector's rank `rnb` in its label block, by vec_id) and
    * `epairs(a, b, cos)`. */
  private def embeddingPairsSqlCte: String =
    s"""ecap AS (SELECT vec_id, label, v,
                   row_number() OVER (PARTITION BY label ORDER BY vec_id)
                     AS rnb
                 FROM e),
        epairs AS (SELECT a, b, cos FROM (
          SELECT x.vec_id AS a, y.vec_id AS b,
                 ${sqlR2(Similarity.cosineSql("x.v", "y.v"))} AS cos
          FROM ecap x JOIN ecap y
            ON x.label = y.label AND x.vec_id < y.vec_id
           AND x.rnb <= $MaxEmbeddingBlock AND y.rnb <= $MaxEmbeddingBlock)
          WHERE cos >= $EmbeddingCosFloor)"""

  /** Cells for the semantic-dedup coarse quantizer — small by definition
    * (a coarse cell is a pruning unit, not a cluster-analysis artifact). */
  val SemanticCells = 8

  /** Cosine floor for a semantic duplicate. Same fixture-calibration
    * argument as [[EmbeddingCosFloor]]: the synthetic corpus's cosines
    * top out near 0.5, so the conventional ~0.95 SemDeDup epsilon would
    * prune nothing at any gate sf and certify only 0=0; 0.4 keeps real
    * prunings flowing through the gate. DedupSpec plants genuine
    * near-identical clusters and asserts the rule at a production-grade
    * epsilon. */
  val SemanticEps = 0.4

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540
    * — cluster embeddings, prune within-cluster near-duplicates): a
    * cheap deterministic coarse quantizer assigns every vector to its
    * highest-cosine seed cell, and within each cell a vector is pruned
    * iff a LOWER-vec_id cell-mate sits at cosine ≥ `eps` (the same
    * min-id owner rule as [[qDedupSubstring]] — transitive-closure-free,
    * so the verdict is a pure two-level expression both engines can
    * evaluate identically; full chained clustering is
    * [[graft.ops.Graph]]'s connected-components job, which composes on
    * this output's (dup_of, vec_id) pairs).
    *
    * Seeds are the k stride-sampled vectors by vec_id — the same
    * RNG-free seeding as [[Similarity.ivfIndex]], minus the Lloyd
    * refinement precisely so the whole assignment stays relational and
    * DuckDB-replayable (IVF's refined cells are the engine-internal
    * scale path; this is the certifiable spelling of the same
    * cluster-then-prune shape).
    *
    * Scale shape: seeds broadcast (k rows), assignment is one map-side
    * ×k expansion collapsed by a two-phase struct-min agg — the corpus
    * never shuffles to be assigned. The within-cell self-join is the
    * bounded quadratic step: per-cell cap ([[MaxEmbeddingBlock]], the
    * [[embeddingPairs]] policy) keeps pair work ≤ cap²/2 per cell no
    * matter how hot a cell runs; overflow vectors pass through kept
    * (dense cells are the ANN paths' job). Raw-cosine comparisons are
    * engine-stable by the [[Similarity.qSimLshTopk]] argument: both
    * engines run the identical sequential IEEE-754 kernel, so even the
    * argmax at a cell boundary and the ≥ eps test cannot diverge. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = SemanticCells, eps: Double = SemanticEps,
      maxBlock: Int = MaxEmbeddingBlock): DataFrame = {
    val (assigned, capped) = semanticCells(
      vectors.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
      k, maxBlock)
    val owners = capped.as("x")
      .join(capped.as("y"),
        col("x.cell") === col("y.cell") &&
        col("x.vec_id") < col("y.vec_id"))
      .filter(Similarity.cosine(col("x.v"), col("y.v")) >= eps)
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("dup_of"))
    assigned.join(owners, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** The semantic cells of `e` (vec_id, v): each vector assigned to its
    * highest-cosine [[Similarity.strideSeeds]] seed — argmax via
    * struct-min on (-sim, cell), so ties break to the lowest cell in both
    * engines, and v rides the struct so no rejoin — then each cell capped
    * to its first `maxBlock` members by vec_id. Returns (assigned,
    * capped). */
  private def semanticCells(e: DataFrame, k: Int,
      maxBlock: Int): (DataFrame, DataFrame) = {
    val seeds = Similarity.strideSeeds(e, k)
      .select(col("cell"), col("v").as("cv"))
    val assigned = e.crossJoin(broadcast(seeds))
      .withColumn("negsim", -Similarity.cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("negsim"), col("cell"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.v").as("v"))
    val wb = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val capped = assigned.withColumn("rnb", row_number().over(wb))
      .filter(col("rnb") <= maxBlock).drop("rnb")
    (assigned, capped)
  }

  /** DuckDB mirror of [[semanticCells]] at the declared [[SemanticCells]]
    * and [[MaxEmbeddingBlock]], over `e`: the seeds, `assign(vec_id, cell,
    * v)` and `capped(vec_id, cell, v)`. */
  private def semanticCellsSqlCte: String =
    s"""${Similarity.strideSeedsSqlCte("seeds", SemanticCells)},
        sims AS (SELECT e.vec_id, s.cell, e.v,
                   ${Similarity.cosineSql("e.v", "s.cv")} AS sim
                 FROM e CROSS JOIN seeds s),
        assign AS (SELECT vec_id, cell, v FROM sims
                   QUALIFY row_number() OVER (PARTITION BY vec_id
                     ORDER BY sim DESC, cell) = 1),
        capped AS (SELECT vec_id, cell, v FROM assign
                   QUALIFY row_number() OVER (PARTITION BY cell
                     ORDER BY vec_id) <= $MaxEmbeddingBlock)"""

  val qDedupSemantic = Q(
    "q_dedup_semantic",
    (s, d) => semanticDedup(Similarity.vectors(s, d), "vec_id", "v"),
    Some(s"""WITH ${Similarity.vectorsSqlCte()}, $semanticCellsSqlCte,
             owners AS (SELECT y.vec_id AS vec_id, min(x.vec_id) AS dup_of
                        FROM capped x JOIN capped y
                          ON x.cell = y.cell AND x.vec_id < y.vec_id
                        WHERE ${Similarity.cosineSql("x.v", "y.v")} >= $SemanticEps
                        GROUP BY y.vec_id)
           SELECT a.vec_id, a.cell, o.dup_of IS NULL AS kept, o.dup_of
           FROM assign a LEFT JOIN owners o USING (vec_id)
           ORDER BY a.vec_id"""))

  /** Thresholds reported by [[qDedupSemanticSweep]] — the calibration
    * range a team scans before fixing a SemDeDup epsilon. */
  val SemanticSweepEps: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.8)

  /** Semantic-dedup THRESHOLD SWEEP — the calibration curve read before
    * fixing [[SemanticEps]]: for each candidate epsilon, how many
    * documents the min-id-owner rule would prune. One pass: the
    * within-cell pair frame reduces to each vector's MAX cosine to a
    * lower-id cell-mate (one row per vector with any pair), and every
    * threshold is a conditional count over that tiny frame — the pair
    * work is paid ONCE for the whole curve, not once per epsilon.
    * Raw-cosine comparisons are engine-stable by the
    * [[Similarity.qSimLshTopk]] argument, and each count is a pure
    * integer, so the curve hash-matches exactly. */
  val qDedupSemanticSweep = Q(
    "q_dedup_semantic_sweep",
    (s, d) => {
      val (_, capped) = semanticCells(Similarity.vectors(s, d),
        SemanticCells, MaxEmbeddingBlock)
      val maxCos = capped.as("x")
        .join(capped.as("y"),
          col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id"))
        .groupBy(col("y.vec_id").as("vec_id"))
        .agg(max(Similarity.cosine(col("x.v"), col("y.v"))).as("mc"))
      val counts = SemanticSweepEps.map(eps =>
        coalesce(sum(when(col("mc") >= eps, 1L).otherwise(0L)), lit(0L))
          .as(s"n_${(eps * 100).round}"))
      maxCos.agg(counts.head, counts.tail: _*)
        .select(posexplode(array(SemanticSweepEps.indices.map(i =>
          col(s"n_${(SemanticSweepEps(i) * 100).round}")): _*))
          .as(Seq("i", "n_pruned")))
        .select(
          element_at(
            typedLit(SemanticSweepEps.map(e => (e * 100).round)),
            col("i") + 1).as("eps_pct"),
          col("n_pruned"))
        .orderBy("eps_pct")
    },
    Some {
      val epsRows = SemanticSweepEps
        .map(e => s"(${(e * 100).round}, ${e})").mkString(", ")
      s"""WITH ${Similarity.vectorsSqlCte()}, $semanticCellsSqlCte,
          mc AS (SELECT y.vec_id, max(${Similarity.cosineSql("x.v", "y.v")}) AS mc
                 FROM capped x JOIN capped y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id
                 GROUP BY y.vec_id),
          eps(eps_pct, eps) AS (VALUES $epsRows)
        SELECT CAST(eps.eps_pct AS BIGINT) AS eps_pct,
               CAST(coalesce(sum(CASE WHEN mc.mc >= eps.eps THEN 1 ELSE 0
                 END), 0) AS BIGINT) AS n_pruned
        FROM eps LEFT JOIN mc ON true
        GROUP BY eps.eps_pct ORDER BY eps_pct"""
    })

  /** Lexical-vs-semantic dedup AGREEMENT report — the cross-method
    * diagnostic a data team reads before picking a dedup policy (the
    * SemDeDup line of work reports exactly this: how much of the
    * semantic-duplicate set lexical dedup already catches, and what
    * only embeddings can see). MinHash-LSH candidate pairs (lexical)
    * full-outer-join embedding-cosine near-dup pairs (semantic) on the
    * pair key; each pair lands in one verdict — `both`,
    * `lexical_only`, `semantic_only` — with counts and id extents.
    * The comparison is well-defined because documents and embeddings
    * share one id domain (doc_id = vec_id — the
    * [[Similarity.qJoinTextEmbedding]] contract).
    *
    * Scale shape: both inputs are the already-bounded candidate frames
    * (banded + df-capped lexical, label-blocked + capped semantic) —
    * the join runs on near-dup-sized data, never corpus-sized; output
    * is ≤ 3 rows. At the gate sf the fixture's planted text dups and
    * its embedding geometry are independent, so `both` is legitimately
    * empty there; DedupSpec plants a corpus where all three verdicts
    * occur. */
  val qDedupAgreement = Q(
    "q_dedup_agreement",
    (s, d) => {
      val lex = minhashPairs(s, d).select(col("a"), col("b"))
        .withColumn("lex", lit(true))
      val sem = embeddingPairs(s, d, MaxEmbeddingBlock, EmbeddingCosFloor)
        .select(col("a"), col("b"), lit(true).as("sem"))
      lex.join(sem, Seq("a", "b"), "full_outer")
        .withColumn("verdict",
          when(col("lex").isNotNull && col("sem").isNotNull, "both")
            .when(col("lex").isNotNull, "lexical_only")
            .otherwise("semantic_only"))
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("a")).as("min_a"), max(col("b")).as("max_b"))
        .orderBy("verdict")
    },
    Some(s"""WITH $minhashPairsSqlCte,
             ${Similarity.vectorsSqlCte("label")}, $embeddingPairsSqlCte,
             m AS (SELECT coalesce(c.a, s.a) AS a, coalesce(c.b, s.b) AS b,
                     c.a IS NOT NULL AS lex, s.a IS NOT NULL AS sem
                   FROM cand c FULL OUTER JOIN epairs s
                     ON c.a = s.a AND c.b = s.b)
           SELECT CASE WHEN lex AND sem THEN 'both'
                       WHEN lex THEN 'lexical_only'
                       ELSE 'semantic_only' END AS verdict,
                  count(*) AS n_pairs, min(a) AS min_a, max(b) AS max_b
           FROM m GROUP BY 1 ORDER BY 1"""))

  /** Incremental dedup — the shape production ingestion actually runs:
    * an incoming BATCH deduped against the already-ingested corpus's
    * fingerprint index, then within itself. The fingerprint is the md5
    * of the FIRST 8 TOKENS — the cheap "pseudo-exact" key real
    * pipelines use (CCNet-style prefix hashing) when near-identical
    * documents vary at the tail; a full-body md5 would be vacuous on
    * this corpus, whose planted duplicates are near- not byte-identical.
    * Per incoming doc, exactly one verdict: `dup_of_corpus` (its
    * fingerprint is already indexed), `dup_in_batch` (novel
    * fingerprint, but a lower-doc_id batch row owns it), or `accepted`.
    * Reported per (source, verdict).
    *
    * Scale shape: the corpus collapses to DISTINCT 32-char fingerprints
    * — the dedup index a production system maintains incrementally, not
    * a corpus rescan; the batch left-joins it keyed on the fingerprint
    * and resolves in-batch ties with one fp-keyed window. Bodies never
    * shuffle. At the production asymmetry (huge index, small batch) the
    * join pairs naturally with [[graft.functions.BloomFunctions]] the
    * way q_contamination_bloom does — prune index partitions by a bloom
    * of the BATCH's fingerprints before the join. The streaming twin is
    * `Pipelines.dedupKeyed` (dropDuplicatesWithinWatermark), which
    * trades the unbounded index for a watermark horizon. */
  val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, d) => {
      val base = T.documents(s, d)
        .select(col("doc_id"), col("source"),
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
            .as("h"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))
            .cast("binary")).as("fp"))
      val index = base.filter(col("h") < "e6").select("fp").distinct()
      val batch = base.filter(col("h") >= "e6")
      val w = Window.partitionBy("fp").orderBy("doc_id")
      batch
        .withColumn("rn", row_number().over(w))
        .join(index.withColumn("in_corpus", lit(true)), Seq("fp"), "left")
        .withColumn("verdict",
          when(col("in_corpus"), "dup_of_corpus")
            .when(col("rn") > 1, "dup_in_batch")
            .otherwise("accepted"))
        .groupBy("source", "verdict")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "verdict")
    },
    Some("""WITH base AS (SELECT doc_id, source,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                 AS fp FROM documents),
             idx AS (SELECT DISTINCT fp FROM base WHERE h < 'e6'),
             batch AS (SELECT *, row_number() OVER (PARTITION BY fp
                 ORDER BY doc_id) AS rn
               FROM base WHERE h >= 'e6')
           SELECT source,
             CASE WHEN fp IN (SELECT fp FROM idx) THEN 'dup_of_corpus'
                  WHEN rn > 1 THEN 'dup_in_batch'
                  ELSE 'accepted' END AS verdict,
             count(*) AS n
           FROM batch GROUP BY source, verdict
           ORDER BY source, verdict"""))

  /** Edit-distance verification of the MinHash candidates — the "rescue
    * pass" fuzzy dedup runs before deleting: LSH candidates are
    * probabilistic, Levenshtein is ground truth. Both engines ship the
    * same unit-cost dynamic program (`levenshtein`), so the distances
    * hash-match exactly. Runs on the CANDIDATE PAIRS ONLY (df-capped,
    * banded — never all pairs), which is what makes an O(len²)-per-pair
    * kernel affordable: cost scales with the near-dup fraction, not the
    * corpus. The two body joins are keyed on the doc id; pairs carry ids
    * until the last moment. */
  val qDedupEditdist = Q(
    "q_dedup_editdist",
    (s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      // localCheckpoint before the global sort (same finding as
      // winnowPairs, VERDICT r13 probe): the sort's range-sampling pass
      // re-executes its unmaterialized child, and here the child is the
      // O(len²) levenshtein over every candidate pair — measured at sf3
      // (503k pairs): 62.8 s declared vs 34.4 s for the distance pass
      // alone, i.e. the edit distances were computed twice. Checkpoint
      // the distances (ids + two longs per pair, tiny) so the sampling
      // and the sort both read materialized rows. Lazy (ADVICE r13):
      // the sampling job itself materializes the marked blocks, so
      // construction stays lazy with no second levenshtein pass.
      minhashPairs(s, d)
        .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .select(col("a"), col("b"),
          // bit-parallel exact Levenshtein (functions/EditDistance.scala,
          // Myers 1999): same unit-cost code-point distance as the
          // built-in `levenshtein` / the DuckDB oracle — pinned by
          // EditDistanceSpec against both — at O(n·⌈m/64⌉) word ops
          // instead of O(n·m) cells. Measured on the DP-bound kernel:
          // sf3 37.7 → sub-join-cost seconds (see BASELINE.md r17)
          graft.functions.EditDistanceFunctions
            .levenshteinFast(col("ta"), col("tb"))
            .cast("long").as("edit_dist"),
          abs(length(col("ta")) - length(col("tb"))).cast("long")
            .as("len_diff"))
        .localCheckpoint(false)
        .orderBy("a", "b")
        // Pair-cardinality stamp (VERDICT r15 #5): one output row IS one
        // candidate pair here, so a zero-cost observe() lets Bench
        // record pairs-per-close and check seconds/pair across scale
        // points mechanically. Placement is load-bearing twice over:
        // BEFORE the localCheckpoint the CollectMetrics lands in the
        // RDD-producing lineage and never surfaces in observedMetrics;
        // BELOW the orderBy the range partitioner's SAMPLING job
        // re-executes it and the accumulator reads exactly 2x at any
        // scale where sampling fires (caught at sf10: stamp 10,469,858
        // vs 5,234,929 dump rows; exact at sf0.01 where AQE plans a
        // single partition and never samples). ABOVE the sort it runs
        // once, in the final pass only.
        .observe("graft_pairs_q_dedup_editdist", count(lit(1)).as("pairs"))
    },
    Some(s"""WITH $minhashPairsSqlCte
           SELECT c.a, c.b,
                  CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist,
                  CAST(abs(length(x.text) - length(y.text)) AS BIGINT)
                    AS len_diff
           FROM cand c
           JOIN documents x ON x.doc_id = c.a
           JOIN documents y ON y.doc_id = c.b
           ORDER BY c.a, c.b"""))

  /** Sketch-quality diagnostic — the calibration report an LSH index
    * owner reads: per candidate pair, the MinHash agreement count
    * (matching planes of 8 — the sketch's Jaccard estimate in eighths)
    * next to the EXACT shingle intersection/union. Everything stays in
    * integer space (counts, not ratios), so the gate pins the sketch
    * arithmetic bit-for-bit; the estimate-vs-truth correlation is
    * asserted in DedupSpec. Cost rides the candidate pair frame (df-
    * capped), with two id-keyed joins back to signatures + shingles. */
  val qDedupMinhashQuality = Q(
    "q_dedup_minhash_quality",
    (s, d) => {
      val base = sigBase(s, d)
      val ja = base.select(col("doc_id").as("a"), col("shd").as("sha"),
        col("sig").as("siga"))
      val jb = base.select(col("doc_id").as("b"), col("shd").as("shb"),
        col("sig").as("sigb"))
      minhashPairs(s, d)
        .join(ja, "a").join(jb, "b")
        .select(col("a"), col("b"),
          expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))")
            .cast("long").as("n_match"),
          graft.functions.TextKernels.sortedIntersectCountCol(col("sha"), col("shb")).cast("long")
            .as("n_inter"),
          (size(col("sha")) + size(col("shb")) -
            graft.functions.TextKernels.sortedIntersectCountCol(col("sha"), col("shb"))).cast("long")
            .as("n_union"))
        .orderBy("a", "b")
    },
    Some(s"""WITH $minhashPairsSqlCte,
             ${candInterSqlCte()}
           SELECT c.a, c.b,
             CAST(
               (CASE WHEN m1.h0 = m2.h0 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h1 = m2.h1 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h2 = m2.h2 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h3 = m2.h3 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h4 = m2.h4 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h5 = m2.h5 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h6 = m2.h6 THEN 1 ELSE 0 END) +
               (CASE WHEN m1.h7 = m2.h7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
             CAST(sa.nsh + sb.nsh - coalesce(i.n_inter, 0) AS BIGINT)
               AS n_union
           FROM cand c
           JOIN mh m1 ON m1.doc_id = c.a
           JOIN mh m2 ON m2.doc_id = c.b
           JOIN sizes sa ON sa.doc_id = c.a
           JOIN sizes sb ON sb.doc_id = c.b
           LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
           ORDER BY c.a, c.b"""))

  /** Span width (tokens) for exact-substring dedup. Lee et al. 2022 use
    * 50 BPE tokens on web corpora; 10 keeps the window inside the
    * fixture's 10-99-token documents so the sf0.01 gate output is
    * non-empty (47 docs share at least one 10-token span). The operator
    * shape is width-independent. */
  val SubstrSpanTokens = 10

  /** Exact-substring dedup core on an arbitrary (idCol, textCol) frame —
    * the reusable body of [[qDedupSubstring]] (see that doc for the
    * algorithm and scale argument). Returns one row per input row:
    * (idCol, n_spans, n_cut, keep_full). */
  def substringDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val spans = docs
      .select(col(idCol), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col(idCol), explode(
        graft.functions.TextKernels.spanHashesCol(col("tk"), n)).as("g"))
    val owners = spans.groupBy("g")
      .agg(min(idCol).as("owner"), count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .select("g", "owner")
    val perDoc = spans.join(owners, Seq("g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("owner") < col(idCol), 1L).otherwise(0L))
          .as("n_cut"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        (coalesce(col("n_cut"), lit(0L)) === 0L).as("keep_full"))
  }

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better") — the span-level family the
    * whole-document passes miss: a boilerplate paragraph pasted into a
    * thousand otherwise-distinct pages survives every document hash but
    * still memorizes. Every sliding [[SubstrSpanTokens]]-token window is
    * a span; a span occurring in more than one document keeps exactly
    * one copy, owned by the minimum doc_id (the deterministic survivor
    * rule every dedup op here uses). Per document: distinct spans, spans
    * it would cut under that rule, and whether it survives intact.
    *
    * The published implementation builds a corpus-wide suffix array — a
    * sequential, memory-resident structure. The relational spelling
    * trades the suffix array's arbitrary-length matches for fixed-width
    * spans (as the paper itself does when chunking) and becomes pure
    * equi-join algebra: spans explode map-side, the owner frame
    * partial-aggregates on the span hash (a hot boilerplate span
    * collapses to one row map-side — no posting-list cap needed, unlike
    * pair generation, because the join fan-out per span is exactly 1),
    * and only spans with df > 1 survive into the join's right side, so
    * the frame joined back scales with the duplicated-span set — the
    * near-dup fraction — not the corpus. Spans are md5-hashed before
    * the shuffle: 32-char keys cross the wire, never 10-token text
    * (same rule as [[qDedupExact]]). */
  val qDedupSubstring = Q(
    "q_dedup_substring",
    (s, d) =>
      substringDedup(T.documents(s, d), "doc_id", "text", SubstrSpanTokens)
        .orderBy("doc_id"),
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                           FROM documents),
             sp AS (SELECT DISTINCT doc_id, unnest(list_transform(
                      range(1, len(tk) - ${SubstrSpanTokens - 1} + 1),
                      i -> md5(array_to_string(
                        tk[i:i+${SubstrSpanTokens - 1}], ' ')))) AS g
                    FROM toks WHERE len(tk) >= $SubstrSpanTokens),
             own AS (SELECT g, min(doc_id) AS owner FROM sp
                     GROUP BY g HAVING count(*) > 1),
             st AS (SELECT s.doc_id, count(*) AS n_spans,
                      sum(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                        AS n_cut
                    FROM sp s LEFT JOIN own o USING (g)
                    GROUP BY s.doc_id)
           SELECT d.doc_id,
                  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
                  CAST(coalesce(st.n_cut, 0) AS BIGINT) AS n_cut,
                  coalesce(st.n_cut, 0) = 0 AS keep_full
           FROM documents d LEFT JOIN st USING (doc_id)
           ORDER BY doc_id"""))

  /** Banding configurations for [[qDedupBandSweep]]: band counts, each
    * splitting the signature's [[MinHashPlanes]] into equal bands. */
  val BandSweepConfigs: Seq[Int] = Seq(1, 2, 4, 8)

  /** The sweep's OWN posting cap — deliberately tighter than the
    * production [[MaxPostingDf]]. The coarse probe configs (8×1: one
    * plane per band) concentrate catastrophically on low-entropy
    * corpora — measured at sf1: under the production cap the 8×1 point
    * alone cost 49 s of pair expansion + 187 s of truth-join work,
    * 20× every other entry — and a bucket that big carries no
    * similarity signal anyway (the [[MaxPostingDf]] stopword argument,
    * earlier). The sweep therefore drops buckets over 64 docs and
    * REPORTS the drop per config (`n_capped_bands`) — the capped count
    * is itself calibration signal: a config whose buckets mostly blow
    * the cap is unusable on this corpus, which is exactly what the
    * sweep exists to reveal. */
  val BandSweepMaxDf = 64

  /** LSH banding S-CURVE calibration sweep — the knob every
    * MinHash-LSH deployment fixes before the production banding (the
    * declared 2×4 of [[qDedupMinhash]]): for each partition of the
    * 8-plane signature into (bands × rows/band) ∈ {1×8, 2×4, 4×2, 8×1},
    * the candidate count, how many candidates are TRUE near-dups
    * (exact shingle Jaccard ≥ 1/2 — `2·∩ ≥ ∪` in integer space),
    * precision in half-up ppm, and the buckets each config lost to the
    * sweep's posting cap ([[BandSweepMaxDf]] — no silent caps: the drop
    * count is a first-class output column). More bands of fewer rows =
    * higher recall, lower precision (the textbook S-curve trade); this
    * query puts the actual curve on this corpus in front of whoever
    * picks the config. Pay-once: signatures and shingle sets are
    * computed ONCE (persisted base), every config's bands are slices of
    * the same signature, and the truth join prices only the capped
    * candidate pairs — per-config pair work is bounded by
    * buckets·cap²/2 at any corpus size. Configs that produce zero
    * candidates still report (left join against the config list), so
    * the curve never silently loses a point. Fully DuckDB-oracled —
    * the banding regroupings, the cap, the capped-band census and the
    * Jaccard verify are compositions of the q_dedup_minhash /
    * q_dedup_minhash_quality CTEs. */
  val qDedupBandSweep = Q(
    "q_dedup_band_sweep",
    (s, d) => {
      import s.implicits._
      val base = sigBase(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandStructs = array(BandSweepConfigs.flatMap { nb =>
        sigBands(col("sig"), nb).zipWithIndex.map { case (band, b) =>
          struct(lit(nb).as("cfg"), lit(b).as("band_no"), band.as("band"))
        }
      }: _*)
      val bands = base.select(col("doc_id"), explode(bandStructs).as("bs"))
        .select(col("doc_id"), col("bs.cfg"), col("bs.band_no"),
          col("bs.band"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val capped = overCapKeys(bands, Seq("cfg", "band_no", "band"), BandSweepMaxDf)
        .groupBy("cfg").agg(count(lit(1)).as("ncap"))
      // ONE grouped pass for all four configs: cfg is part of the band
      // key, so (cfg, band_no, band) groups are exactly the per-config
      // (band_no, band) groups, the per-group cap is unchanged, and
      // distinct over (cfg, a, b) equals the old per-config distinct —
      // same rows, minus 3 hot-count shuffles, 3 collect shuffles, and
      // 6 scans of the cached band frame (r15, VERDICT r14 #4).
      val pairs = pairsFromGroups(bands, Seq("cfg", "band_no", "band"),
        BandSweepMaxDf, keep = Seq("cfg"))
        .distinct()
      val ja = base.select(col("doc_id").as("a"), col("shd").as("sha"))
      val jb = base.select(col("doc_id").as("b"), col("shd").as("shb"))
      val scored = pairs.join(ja, "a").join(jb, "b")
        .withColumn("ni",
          graft.functions.TextKernels.sortedIntersectCountCol(col("sha"), col("shb")).cast("long"))
        .withColumn("nu",
          (size(col("sha")) + size(col("shb"))).cast("long") - col("ni"))
      val agg = scored.groupBy("cfg")
        .agg(count(lit(1)).as("nc"),
          count(when(col("ni") * 2 >= col("nu"), 1)).as("nt"))
      BandSweepConfigs.toDF("cfg")
        .join(agg, Seq("cfg"), "left")
        .join(capped, Seq("cfg"), "left")
        .select(col("cfg").as("n_bands"),
          expr(s"CAST($MinHashPlanes div cfg AS BIGINT)").as("rows_per_band"),
          coalesce(col("ncap"), lit(0L)).as("n_capped_bands"),
          coalesce(col("nc"), lit(0L)).as("n_candidates"),
          coalesce(col("nt"), lit(0L)).as("n_true"))
        .withColumn("precision_ppm",
          when(col("n_candidates") === 0L, 0L)
            .otherwise(expr(
              "(2000000 * n_true + n_candidates) div (2 * n_candidates)")))
        .orderBy("n_bands")
    },
    Some {
      val bandRows = BandSweepConfigs.flatMap { nb =>
        (0 until nb).map(b => s"SELECT doc_id, $nb AS cfg, $b AS band_no, " +
          s"${sigBandSql(nb, b)} AS band FROM mh")
      }.mkString("\n UNION ALL ")
      s"""WITH $minhashPairsSqlCte,
           bands_s AS MATERIALIZED ($bandRows),
           bands_k AS (SELECT * FROM bands_s
             ${coldSql("cfg, band_no, band", BandSweepMaxDf)}),
           capped AS (SELECT cfg, count(*) AS ncap FROM (
               ${overCapSql("bands_s", "cfg, band_no, band", BandSweepMaxDf)})
             GROUP BY cfg),
           cand_s AS MATERIALIZED (
             SELECT DISTINCT x.cfg, x.doc_id AS a, y.doc_id AS b
             FROM bands_k x JOIN bands_k y
               ON x.cfg = y.cfg AND x.band_no = y.band_no
              AND x.band = y.band AND x.doc_id < y.doc_id),
           cand_d AS MATERIALIZED (SELECT DISTINCT a, b FROM cand_s),
           ${candInterSqlCte("cand_d")},
           scored AS (SELECT c.cfg,
               coalesce(i.n_inter, 0) AS ni,
               sa.nsh + sb.nsh - coalesce(i.n_inter, 0) AS nu
             FROM cand_s c
             JOIN sizes sa ON sa.doc_id = c.a
             JOIN sizes sb ON sb.doc_id = c.b
             LEFT JOIN inter i ON i.a = c.a AND i.b = c.b),
           agg AS (SELECT cfg, count(*) AS nc,
               count(*) FILTER (WHERE 2 * ni >= nu) AS nt
             FROM scored GROUP BY cfg)
         SELECT t.cfg AS n_bands,
           CAST($MinHashPlanes // t.cfg AS BIGINT) AS rows_per_band,
           CAST(coalesce(cp.ncap, 0) AS BIGINT) AS n_capped_bands,
           CAST(coalesce(a.nc, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(a.nt, 0) AS BIGINT) AS n_true,
           CASE WHEN coalesce(a.nc, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((2000000 * coalesce(a.nt, 0) + coalesce(a.nc, 0))
                          // (2 * coalesce(a.nc, 0)) AS BIGINT) END
             AS precision_ppm
         FROM (VALUES ${BandSweepConfigs.map(c => s"($c)").mkString(", ")}) t(cfg)
         LEFT JOIN agg a ON a.cfg = t.cfg
         LEFT JOIN capped cp ON cp.cfg = t.cfg
         ORDER BY n_bands"""
    })

  val all: Seq[Q] = Seq(
    qDedupExact, qDedupMinhash, qDedupNgramJaccard, qDedupSimhash,
    qDedupEmbedding, qDedupEmbeddingLsh, qDedupSemantic,
    qDedupSemanticSweep, qDedupAgreement, qDedupIncremental,
    qDedupEditdist, qDedupMinhashQuality, qDedupSubstring, qDedupBandSweep)
}
