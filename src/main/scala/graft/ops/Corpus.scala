package graft.ops

import graft.{Q, Tables => T}
import graft.util.Det
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Doc-stream row for the best-fit packer ([[Corpus.qPackBestfit]]). */
private[ops] case class PackDoc(source: String, doc_id: Long, n_tok: Long)

/** Per-shard packing-policy report ([[Corpus.qPackBestfit]]). */
private[ops] case class PackReport(source: String, n_docs: Long,
    n_tokens: Long, chunk_bins: Long, chunk_split_docs: Long,
    chunk_waste_ppm: Long, bestfit_bins: Long, bestfit_waste_ppm: Long)

/** Corpus-assembly operators — the steps between a curated document set
  * and a training run: sequence packing, train/test decontamination, and
  * domain-mixture weighting. All three are mandate extensions (the
  * reference has no query surface); each is DuckDB-oracled.
  */
object Corpus {

  /** Tokens-per-context-window budget for [[qPackSequences]]. Small so
    * the gate exercises multi-bin groups at sf0.01; the operator shape
    * is budget-independent. */
  val PackBudget = 256

  /** Sequence-packing accounting core (concatenate-and-chunk): rows are
    * laid end to end in `orderCol` order within each `shardCol` shard
    * and cut into `budget`-token context windows; a row belongs to the
    * bin its first token lands in. Output: docs and tokens per
    * (shard, bin) plus the first row id — what a pretraining packer
    * emits to size its shards.
    *
    * Scale: the running offset is a window over the shard, i.e. the
    * packing SHARD is the parallelism unit — exactly how packing runs in
    * production (each writer packs its own shard independently; a global
    * order would serialize the corpus and is deliberately absent). One
    * exchange keyed on the shard, then one partial-aggregated groupBy.
    *
    * `orderCol` must be UNIQUE within each shard (a doc id, not a
    * timestamp with ties): the running sum's ROWS frame gives tied rows
    * partition-order-dependent offsets, which would break the bit-exact
    * determinism every operator here guarantees. */
  def packBins(rows: org.apache.spark.sql.DataFrame, shardCol: String,
      orderCol: String, nTokCol: String, budget: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    rows
      .withColumn("off", coalesce(sum(nTokCol).over(w), lit(0L)))
      .withColumn("bin", floor(col("off") / lit(budget.toDouble)).cast("long"))
      .groupBy(col(shardCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(nTokCol).as("n_tokens"),
        min(orderCol).as(s"first_$orderCol"))
  }

  val qPackSequences = Q(
    "q_pack_sequences",
    (s, d) =>
      packBins(
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        "source", "doc_id", "n_tok", PackBudget)
        .withColumnRenamed("first_doc_id", "first_doc")
        .orderBy("source", "bin"),
    Some(s"""WITH toks AS (SELECT source, doc_id,
               len(string_split(text, ' ')) AS n_tok FROM documents),
             off AS (SELECT source, doc_id, n_tok,
               coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
               FROM toks)
           SELECT source,
                  CAST(floor(off / ${PackBudget.toDouble}) AS BIGINT) AS bin,
                  count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                  min(doc_id) AS first_doc
           FROM off GROUP BY source, bin ORDER BY source, bin"""))

  /** Context budgets swept by [[qPackBudgetSweep]] — the candidate
    * window sizes a training run chooses between. */
  val PackSweepBudgets: Seq[Int] = Seq(128, 256, 512, 1024)

  /** Packing-budget SWEEP — the calibration curve for choosing a
    * context window (pairs with [[graft.ops.TextOps.qTextLengthHist]]'s
    * length distribution): for each candidate budget, the
    * concatenate-and-chunk cost model — bins used, documents cut by a
    * bin boundary (the truncation cost), and final-bin padding (the
    * waste cost). The per-doc running offset is budget-INDEPENDENT, so
    * one window pass prices every candidate: bins and padding are
    * ceil-division arithmetic over the k per-shard token totals, and
    * boundary cuts are one integer-division comparison per (doc,
    * budget) — the corpus is scanned once for the whole curve, the
    * same pay-once shape as [[graft.ops.Dedup.qDedupSemanticSweep]].
    * All-integer output, exact in both engines. */
  val qPackBudgetSweep = Q(
    "q_pack_budget_sweep",
    (s, d) => {
      val perDoc = T.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = perDoc.withColumn("off",
        coalesce(sum("n_tok").over(w), lit(0L)))
      val splitCols = PackSweepBudgets.map(b =>
        sum(when(expr(s"off div $b") =!= expr(s"(off + n_tok - 1) div $b"),
          1L).otherwise(0L)).as(s"sp$b"))
      val splits = off.agg(splitCols.head, splitCols.tail: _*)
      val perShard = perDoc.groupBy("source").agg(sum("n_tok").as("t"))
      val binCols = PackSweepBudgets.flatMap { b =>
        val bins = expr(s"(t + $b - 1) div $b")
        Seq(sum(bins).as(s"nb$b"), sum(bins * b - col("t")).as(s"pad$b"))
      }
      val bins = perShard.agg(binCols.head, binCols.tail: _*)
      splits.crossJoin(bins)
        .select(posexplode(array(PackSweepBudgets.map(b =>
          struct(lit(b.toLong).as("budget"), col(s"nb$b").as("n_bins"),
            col(s"sp$b").as("n_split_docs"),
            col(s"pad$b").as("padding_tokens"))): _*)))
        .select(col("col.budget"), col("col.n_bins"),
          col("col.n_split_docs"), col("col.padding_tokens"))
        .orderBy("budget")
    },
    Some {
      val budgetRows = PackSweepBudgets.map(b => s"($b)").mkString(", ")
      s"""WITH toks AS (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents),
           off AS (SELECT source, doc_id, n_tok,
               coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS off
               FROM toks),
           b(budget) AS (VALUES $budgetRows),
           sh AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS t
                  FROM toks GROUP BY source),
           binstats AS (SELECT b.budget,
               CAST(sum((sh.t + b.budget - 1) // b.budget) AS BIGINT)
                 AS n_bins,
               CAST(sum(((sh.t + b.budget - 1) // b.budget) * b.budget
                 - sh.t) AS BIGINT) AS padding_tokens
             FROM b CROSS JOIN sh GROUP BY b.budget),
           cuts AS (SELECT b.budget,
               CAST(sum(CASE WHEN off.off // b.budget
                 <> (off.off + off.n_tok - 1) // b.budget
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
             FROM b CROSS JOIN off GROUP BY b.budget)
         SELECT CAST(s.budget AS BIGINT) AS budget, s.n_bins,
                c.n_split_docs, s.padding_tokens
         FROM binstats s JOIN cuts c ON s.budget = c.budget
         ORDER BY budget"""
    })

  /** [[qPackSequences]] re-based on SUBWORD counts: identical packing
    * algebra, but `n_tok` is the [[graft.functions.BpeEncode]] token
    * count — the number a training run actually budgets context windows
    * with (whitespace counts under-state morphology-heavy text, so
    * whitespace-packed bins overflow real tokenizers). Same per-shard
    * no-global-order scale shape as the parent; the encode is one extra
    * map-side codegen pass on the scan. The DuckDB oracle replays the
    * merge table per word (the [[qTextTokensBpe]] chain) and then the
    * parent's running-offset bin algebra. */
  val qPackSequencesBpe = Q(
    "q_pack_sequences_bpe",
    (s, d) =>
      packBins(
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(graft.functions.BpeEncode.encode(col("text")))
              .cast("long").as("n_tok")),
        "source", "doc_id", "n_tok", PackBudget)
        .withColumnRenamed("first_doc_id", "first_doc")
        .orderBy("source", "bin"),
    Some {
      val chain = graft.functions.BpeEncode.oracleEncodeSql("w")
      s"""WITH toks AS (SELECT source, doc_id,
               len(flatten(list_transform(
                 list_filter(string_split(text, ' '), w -> len(w) > 0),
                 w -> string_split(trim($chain, '|'), '||')))) AS n_tok
             FROM documents),
           off AS (SELECT source, doc_id, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             FROM toks)
         SELECT source,
                CAST(floor(off / ${PackBudget.toDouble}) AS BIGINT) AS bin,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                min(doc_id) AS first_doc
         FROM off GROUP BY source, bin ORDER BY source, bin"""
    })

  /** The reusable best-fit-vs-chunk policy core over generic columns —
    * see [[qPackBestfit]] for semantics and the scale argument. Output
    * columns are the fixed report schema with `source` renamed back to
    * `shardCol`. */
  def packBestFit(rows: org.apache.spark.sql.DataFrame, shardCol: String,
      orderCol: String, nTokCol: String, budget: Int): org.apache.spark.sql.DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val b = budget.toLong
    def ppm(w: Long, denom: Long): Long =
      if (denom == 0L) 0L else (2000000L * w + denom) / (2L * denom)
    rows
      .select(col(shardCol).cast("string").as("source"),
        col(orderCol).cast("long").as("doc_id"),
        col(nTokCol).cast("long").as("n_tok"))
      .as[PackDoc]
      .groupByKey(_.source)
        .flatMapSortedGroups(col("doc_id")) { (src: String, it: Iterator[PackDoc]) =>
          // boxed key/value types on purpose: with scala.Long type args,
          // ceilingKey's null (no bin fits) would silently unbox to 0L
          val rem = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
          def inc(key: Long): Unit = {
            val cur = rem.get(key)
            rem.put(key, if (cur == null) 1L else cur.longValue + 1L)
          }
          var opened = 0L; var fullBins = 0L; var waste = 0L
          var nDocs = 0L; var total = 0L; var splits = 0L
          it.foreach { p =>
            nDocs += 1
            val off = total
            total += p.n_tok
            if (p.n_tok > 0L && off / b != (off + p.n_tok - 1L) / b) splits += 1
            fullBins += p.n_tok / b
            val t = p.n_tok % b
            if (t > 0L) {
              val k: java.lang.Long = rem.ceilingKey(t)
              if (k == null) {
                opened += 1; waste += b - t
                inc(b - t)
              } else {
                waste -= t
                val c = rem.get(k).longValue
                if (c == 1L) rem.remove(k) else rem.put(k, c - 1L)
                if (k.longValue - t > 0L) inc(k.longValue - t)
              }
            }
          }
          val chunkBins = (total + b - 1L) / b
          val bfBins = fullBins + opened
          Iterator.single(PackReport(src, nDocs, total,
            chunkBins, splits, ppm(chunkBins * b - total, chunkBins * b),
            bfBins, ppm(waste, bfBins * b)))
        }
        .toDF()
        .withColumnRenamed("source", shardCol)
  }

  /** Greedy BEST-FIT sequence packing beside concatenate-and-chunk — the
    * policy comparison a real trainer runs before choosing a packer
    * (best-fit cuts cross-document truncations at the cost of padding;
    * cf. the "fewer truncations" line of work): per shard, docs are
    * processed in `doc_id` order; each doc's tail (after pre-chunking
    * `n_tok / budget` full windows) goes into the open bin with the
    * SMALLEST remaining capacity that still fits, else opens a new bin.
    * Both policies are accounted in ONE streaming pass over the same
    * ordered shard: chunk gets bins/splits/waste from the running
    * offset, best-fit from the fold. Output per shard: doc/token
    * totals, bins used, boundary-split docs (chunk's cost), and padding
    * waste in ppm (best-fit's cost) — all integer space
    * (floor(1e6·w/d + 0.5) spelled as exact BIGINT arithmetic
    * `(2e6·w + d) DIV (2d)`, so no double rounds anywhere).
    *
    * Spark shape: `groupByKey(shard).flatMapSortedGroups(doc_id)` — one
    * exchange keyed on the shard (the packer's parallelism unit, same
    * as [[packBins]]), secondary-sorted iterator, and the only operator
    * state is the open-bin remainder MULTISET (a TreeMap: best-fit
    * lookup is `ceilingKey`, O(log bins); which of several equal
    * remainders is decremented cannot affect any output — the state is
    * the multiset). At 1B tokens/shard and budget 8k that is ~125k
    * longs — KB-scale executor state, docs stream through. The DuckDB
    * oracle replays the identical fold as a `list_reduce` over the
    * doc_id-ordered tail list. Its state (r16 respelling) is the same
    * bounded multiset the engine keeps, as a FIXED (budget+1)-slot
    * count vector — slot i = open bins with remaining capacity i,
    * slot b = bins opened, slot b+1 = running waste — because every
    * remainder lives in [1, b-1]. The old spelling grew the state list
    * one slot per opened bin, making each fold step O(bins): O(n·bins)
    * total, >600 s at sf10's ~25k-bin shards; the count vector is
    * O(n·b) — measured 8.3 s for the whole sf10 corpus. Ceiling lookup
    * = min populated slot ≥ t (first-min tie-break — multiset-equal to
    * the TreeMap's ceilingKey choice, so outputs are bit-identical). */
  val qPackBestfit = Q(
    "q_pack_bestfit",
    (s, d) =>
      packBestFit(
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        "source", "doc_id", "n_tok", PackBudget)
        .orderBy("source"),
    Some {
      val b = PackBudget
      s"""WITH toks AS (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents),
           off AS (SELECT source, doc_id, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             FROM toks),
           chunk AS (SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN n_tok > 0
                  AND off // $b <> (off + n_tok - 1) // $b
                  THEN 1 ELSE 0 END) AS BIGINT) AS chunk_split_docs
             FROM off GROUP BY source),
           fit AS (SELECT source,
             CAST(sum(n_tok // $b) AS BIGINT) AS full_bins,
             coalesce(list_reduce(
               list_prepend(list_transform(range(1, ${b + 2}),
                   i -> CAST(0 AS BIGINT)),
                 list_transform(list(CAST(n_tok % $b AS BIGINT)
                     ORDER BY doc_id)
                   FILTER (WHERE n_tok % $b > 0), t -> [t])),
               (acc, x) -> list_transform(
                 [coalesce(list_min(list_filter(range(x[1], $b),
                     j -> acc[j] > 0)), 0)],
                 k -> CASE WHEN k = 0
                   THEN list_transform(acc, (r, i) -> CASE
                          WHEN i = $b - x[1] THEN r + 1
                          WHEN i = $b THEN r + 1
                          WHEN i = ${b + 1} THEN r + $b - x[1]
                          ELSE r END)
                   ELSE list_transform(acc, (r, i) -> CASE
                          WHEN i = k THEN r - 1
                          WHEN i = k - x[1] THEN r + 1
                          WHEN i = ${b + 1} THEN r - x[1]
                          ELSE r END)
                   END)[1]),
               list_transform(range(1, ${b + 2}),
                 i -> CAST(0 AS BIGINT))) AS st
             FROM toks GROUP BY source)
         SELECT c.source, c.n_docs, c.n_tokens,
                (c.n_tokens + ${b - 1}) // $b AS chunk_bins,
                c.chunk_split_docs,
                CASE WHEN c.n_tokens = 0 THEN 0
                     ELSE (2000000 * (((c.n_tokens + ${b - 1}) // $b) * $b
                                      - c.n_tokens)
                           + ((c.n_tokens + ${b - 1}) // $b) * $b)
                          // (2 * ((c.n_tokens + ${b - 1}) // $b) * $b)
                END AS chunk_waste_ppm,
                f.full_bins + f.st[$b] AS bestfit_bins,
                CASE WHEN f.full_bins + f.st[$b] = 0 THEN 0
                     ELSE (2000000 * f.st[${b + 1}]
                           + (f.full_bins + f.st[$b]) * $b)
                          // (2 * (f.full_bins + f.st[$b]) * $b)
                END AS bestfit_waste_ppm
         FROM chunk c JOIN fit f USING (source) ORDER BY source"""
    })

  /** Decontamination n-gram length: the industry-standard 8-gram window
    * (a 13-gram is common too; 8 keeps the gate non-vacuous at sf0.01's
    * 10-99-token documents). */
  val ContamNgram = 8

  /** Contamination-scan core: for every row of `probe`, the number of
    * its distinct token n-grams that appear anywhere in `corpus`
    * (typically probe = the eval/test set, corpus = the train set — a
    * nonzero count means evaluating on that row leaks training text).
    * Rows shorter than the n-gram window carry no grams and surface
    * with n_shared = 0, never silently dropped. Both frames need
    * (idCol, textCol).
    *
    * Scale shape: both sides shingle map-side; the corpus side collapses
    * to a DISTINCT gram set (one shuffle keyed on the gram), the probe
    * side equi-joins it on the gram, and the final count shuffles
    * (id, n) only. */
  def contaminationScan(probe: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    // corpus side collapses to a DISTINCT gram set (one shuffle keyed on
    // the gram); probe side equi-joins it — fan-out per probe gram is
    // exactly 1 because the right side is a set, so no quadratic pair
    // risk and no df cap needed
    finishScan(probe, idCol,
      grams(probe, idCol, textCol, n)
        .join(grams(corpus, idCol, textCol, n).select("g").distinct(), "g"))
  }

  /** Bloom-pruned variant of [[contaminationScan]] — same result, built
    * for the production asymmetry where the TRAIN corpus is ~100 TB and
    * the eval set is thousandths of it. The exact scan shuffles EVERY
    * distinct train gram to build the right side of the join, though
    * almost none of them can match. Here the probe side (small by
    * construction) aggregates into one fixed-size bloom row, that row
    * broadcasts, and train grams drop MAP-SIDE unless the bloom admits
    * them — so the train-gram distinct shuffle carries roughly
    * |matching| + FPR·|train grams| rows instead of all of them. No false
    * negatives means no true match is lost, and the exact equi-join that
    * follows discards the false positives, so the output is bit-identical
    * to the unpruned scan (the gate runs both against one oracle). The
    * probe side is read twice (bloom build + join) — it is the small
    * side; the corpus is still read once. */
  def contaminationScanBloom(probe: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.BloomFunctions
    val probeGrams = grams(probe, idCol, textCol, n)
    val bloomRow = probeGrams.agg(BloomFunctions.bloom(col("g")).as("bf"))
    val prunedTrain = grams(corpus, idCol, textCol, n)
      .crossJoin(broadcast(bloomRow))
      .filter(BloomFunctions.mightContain(col("bf"), col("g")))
      .select("g").distinct()
    finishScan(probe, idCol, probeGrams.join(prunedTrain, "g"))
  }

  /** Distinct token n-grams per row: (idCol, g). Rows shorter than the
    * window carry no grams (filtered before the transform — the
    * sequence() bound would be negative). */
  private def grams(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = df
    // one-pass codegen kernel (r18): byte-identical to the old
    // filter(size >= n) + array_distinct(transform(sequence,
    // concat_ws(slice))) spelling — those higher-order lambdas run
    // interpreted with boxed elements, and the sf3 contamination scan
    // spent 80 of its 144 executor-CPU seconds inside them. A slice of
    // single-space-split tokens re-joined with ' ' IS the original byte
    // span, so the kernel emits raw substrings; short rows yield an
    // empty array, which explode drops exactly like the old filter.
    .select(col(idCol), explode(
      graft.functions.TextKernels.ngramsCol(col(textCol), n,
        distinct = true)).as("g"))

  /** Shared tail of both scan variants: count matched grams per probe
    * row, restore gram-less rows with 0. */
  private def finishScan(probe: org.apache.spark.sql.DataFrame,
      idCol: String,
      matched: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hits = matched.groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    probe.select(idCol)
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** The split key of a document: the first hex byte of md5(doc_id). */
  private[ops] def splitHash(docId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    substring(md5(docId.cast("string").cast("binary")), 1, 2)

  /** The train/val/test split law (~80/10/10): the split key `h`
    * ([[splitHash]]) partitions [00,cc)/[cc,e6)/[e6,ff] into
    * train/val/test. [[splitSql]] is the same law in DuckDB. */
  private[ops] def splitOf(h: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(h < "cc", "train").when(h < "e6", "val").otherwise("test")

  /** [[splitOf]] over [[splitHash]] of `doc_id`, as a DuckDB expression. */
  private[ops] val splitSql =
    """CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END"""

  /** The md5-range split frame both contamination queries scan: the
    * split [[Curation.qSampleSplit]] reports — the split this check
    * exists to protect. */
  private[ops] def splitDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    T.documents(s, d)
      .select(col("doc_id"), col("text"), splitHash(col("doc_id")).as("h"))
      .withColumn("split", splitOf(col("h")))

  private def contaminationQuery(
      scan: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String, Int) => org.apache.spark.sql.DataFrame)(
      s: org.apache.spark.sql.SparkSession, d: String) = {
    val sp = splitDocs(s, d)
    scan(sp.filter(col("split") === "test"),
      sp.filter(col("split") === "train"),
      "doc_id", "text", ContamNgram)
      .orderBy("doc_id")
  }

  /** One oracle serves both scan variants — the bloom prune is exact by
    * construction, and sharing the SQL string is how the gate proves it. */
  private val contamOracle =
    Some(s"""WITH sp AS (SELECT doc_id, text, $splitSql AS split
                         FROM documents),
             toks AS (SELECT doc_id, split, string_split(text, ' ') AS tk
                      FROM sp),
             sh AS (SELECT DISTINCT doc_id, split, unnest(list_transform(
                      range(1, len(tk) - ${ContamNgram - 1} + 1),
                      i -> array_to_string(tk[i:i+${ContamNgram - 1}], ' ')))
                      AS g
                    FROM toks WHERE len(tk) >= $ContamNgram),
             tr AS (SELECT DISTINCT g FROM sh WHERE split = 'train'),
             hits AS (SELECT s.doc_id, count(*) AS n_shared
                      FROM sh s JOIN tr USING (g)
                      WHERE s.split = 'test' GROUP BY s.doc_id)
           SELECT t.doc_id,
                  coalesce(h.n_shared, 0) AS n_shared,
                  coalesce(h.n_shared, 0) > 0 AS contaminated
           FROM sp t LEFT JOIN hits h ON t.doc_id = h.doc_id
           WHERE t.split = 'test' ORDER BY t.doc_id""")

  val qContamination = Q(
    "q_contamination", contaminationQuery(contaminationScan), contamOracle)

  /** Same scan through the bloom semi-join reduction; hash-matching the
    * same oracle as q_contamination is the gate's proof that the prune
    * is result-invisible. */
  val qContaminationBloom = Q(
    "q_contamination_bloom", contaminationQuery(contaminationScanBloom),
    contamOracle)

  /** Near-duplicate Jaccard floor for [[qContaminationFuzzy]] — the same
    * 0.5 the blocked-Jaccard dedup query certifies, so "fuzzily
    * contaminated" means exactly "has a train-side near-dup by the
    * engine's own near-dup definition". */
  val FuzzyContamJaccard = 0.5

  /** FUZZY decontamination — the n-gram scans above catch verbatim
    * leaks; this catches *near-duplicate* leaks (a train document that
    * is a light mutation of an eval document — the overlap family
    * GPT-3/Gopher-style pipelines dedup against). Per test-split
    * document: how many train-split documents are MinHash-LSH
    * candidates with exact word-shingle Jaccard >= 0.5.
    *
    * Scale shape (the production asymmetry is train ~100 TB, eval
    * thousandths of it): both sides compute signatures MAP-SIDE (the
    * fused [[graft.functions.MinHashSig]] pass, one long-string row per
    * document), banding turns the cross-corpus search into an equi-join
    * on (band_no, band) — never an all-pairs compare — and hot train
    * bands (df > [[Dedup.MaxPostingDf]]) are dropped by a broadcast
    * anti-join before the candidate join, exactly as in the dedup LSH
    * path, so no zipf band concentrates a quadratic expansion in one
    * task. Only the candidate pairs (bounded by band collisions, not
    * corpus size) ever re-join their shingle sets for the exact Jaccard
    * verify; document BODIES never shuffle. The Jaccard itself is one
    * IEEE division of exact integer counts — deterministic, which is
    * what lets DuckDB reproduce the >= 0.5 cut bit-for-bit. */
  def contaminationScanFuzzy(probe: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      minJaccard: Double = FuzzyContamJaccard): org.apache.spark.sql.DataFrame = {
    import graft.ops.{Dedup => DD}
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sh", graft.functions.WordShingles.shingles(col(textCol)))
      .select(col(idCol), col("sh"),
        graft.functions.MinHashSig.minhash(col("sh")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tp = prep(probe)
    val cp = prep(corpus)
    def bands(df: org.apache.spark.sql.DataFrame) = df
      .select(col(idCol), DD.minhashBandRows(col("sig")))
      .toDF(idCol, "band_no", "band")
    val tb = bands(tp)
    val cb = DD.dropOverCapKeys(bands(cp), Seq("band_no", "band"), DD.MaxPostingDf)
    val cand = tb.join(cb.withColumnRenamed(idCol, "c"),
        Seq("band_no", "band"))
      .select(col(idCol).as("t"), col("c")).distinct()
    def shx(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select(col(idCol).as(as), explode(col("sh")).as("g"))
    def sz(df: org.apache.spark.sql.DataFrame, as: String, n: String) =
      df.select(col(idCol).as(as), size(col("sh")).cast("long").as(n))
    val shared = cand
      .join(shx(tp, "t"), "t")
      .join(shx(cp, "c"), Seq("c", "g"))
      .groupBy("t", "c").agg(count(lit(1)).as("ns"))
    val matches = shared
      .join(sz(tp, "t", "na"), "t")
      .join(sz(cp, "c", "nb"), "c")
      .filter(col("ns").cast("double")
        / (col("na") + col("nb") - col("ns")) >= minJaccard)
      .groupBy("t").agg(count(lit(1)).as("n_matches"))
    probe.select(col(idCol))
      .join(matches.withColumnRenamed("t", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("contaminated"))
  }

  val qContaminationFuzzy = Q(
    "q_contamination_fuzzy",
    (s, d) => {
      val sp = splitDocs(s, d)
      contaminationScanFuzzy(
        sp.filter(col("split") === "test"),
        sp.filter(col("split") === "train"),
        "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH sp AS (SELECT doc_id, text, $splitSql AS split
                         FROM documents),
             ${Dedup.shingleSqlCte("sp", "split")},
             ${Dedup.minhashSqlCte("sh", "split")},
             tb AS (SELECT doc_id, band_no, band FROM bands_all
                    WHERE split = 'test'),
             cb AS (SELECT doc_id, band_no, band FROM bands_all
                    WHERE split = 'train'
                    ${Dedup.coldSql("band_no, band")}),
             cand AS (SELECT DISTINCT t.doc_id AS t, c.doc_id AS c
                      FROM tb t JOIN cb c
                        ON t.band_no = c.band_no AND t.band = c.band),
             sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             shared AS (SELECT cand.t, cand.c, count(*) AS ns
                        FROM cand
                        JOIN sh a ON a.doc_id = cand.t
                        JOIN sh b ON b.doc_id = cand.c AND b.sh = a.sh
                        GROUP BY cand.t, cand.c),
             jm AS (SELECT s.t, count(*) AS n_matches
                    FROM shared s
                    JOIN sz za ON za.doc_id = s.t
                    JOIN sz zb ON zb.doc_id = s.c
                    WHERE CAST(s.ns AS DOUBLE) / (za.n + zb.n - s.ns)
                          >= $FuzzyContamJaccard
                    GROUP BY s.t)
           SELECT sp.doc_id,
                  CAST(coalesce(jm.n_matches, 0) AS BIGINT) AS n_matches,
                  coalesce(jm.n_matches, 0) > 0 AS contaminated
           FROM sp LEFT JOIN jm ON jm.t = sp.doc_id
           WHERE sp.split = 'test' ORDER BY sp.doc_id"""))

  /** Domain-mixture report: per-source document/token inventory, each
    * source's share of the corpus (percent), and the deterministic
    * sampling rate that would flatten the mixture to uniform token mass
    * across sources — `min(1, (total/k) / source_tokens)`, the standard
    * down-sample-the-big-domains rule. The corpus is scanned ONCE (one
    * partial-aggregated shuffle to the per-shard frame); the global
    * totals then come from a window over that k-row frame, bounded by
    * shard cardinality, not corpus size. Ratios go through [[Det.r2]] —
    * both engines run the identical IEEE-754 op sequence. */
  def mixWeights(rows: org.apache.spark.sql.DataFrame, shardCol: String,
      nTokCol: String): org.apache.spark.sql.DataFrame = {
    val per = rows
      .groupBy(shardCol)
      .agg(count(lit(1)).as("n_docs"), sum(nTokCol).as("n_tokens"))
    // The global totals come from a window over the ALREADY-AGGREGATED
    // per-shard frame — one row per shard, bounded by shard cardinality,
    // so the unpartitioned window is a k-row single task, NOT a corpus
    // serialization. (A separate totals aggregate joined back would
    // re-execute the whole per-shard subtree and scan the corpus twice.)
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tTotal = sum("n_tokens").over(w).cast("double")
    val nShards = count(lit(1)).over(w)
    per.select(col(shardCol), col("n_docs"), col("n_tokens"),
      Det.r2(col("n_tokens").cast("double") * lit(100.0) / tTotal)
        .as("tok_share_pct"),
      Det.r2(least(lit(1.0),
        tTotal / nShards / col("n_tokens").cast("double")))
        .as("sample_rate"))
  }

  /** Mixture APPLICATION — the step between [[mixWeights]]' report and
    * a training run: actually materialize the downsample by keeping
    * each document iff its deterministic hash bucket falls under its
    * source's sample rate. The rate is the REPORTED 2dp value (the Det
    * grid makes `floor(rate·100 + 0.5)` recover an exact integer
    * percentage in both engines), and the bucket is the first 32 bits
    * of md5(doc_id) mod 100 — so the same documents are kept on every
    * engine, every run, every partitioning: reproducible sampling with
    * no RNG, the [[graft.ops.Relational.qSampleHash]] discipline
    * applied per-source at a data-derived rate. Per source: rate and
    * docs/tokens in vs kept (all integer space).
    *
    * Scale shape: one corpus scan to the per-doc frame; the k-row rate
    * frame broadcasts back (never a shuffle of the corpus side); the
    * verdict is a map-side integer comparison and the final agg ships
    * one row per source. */
  def mixApply(rows: org.apache.spark.sql.DataFrame, shardCol: String,
      idCol: String, nTokCol: String): org.apache.spark.sql.DataFrame = {
    val rates = mixWeights(rows.select(col(shardCol), col(nTokCol)),
        shardCol, nTokCol)
      .select(col(shardCol),
        floor(col("sample_rate") * 100 + lit(0.5)).cast("long")
          .as("rate_pct"))
    val bucket = conv(
        substring(md5(col(idCol).cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % 100
    rows.join(broadcast(rates), shardCol)
      .withColumn("keep", bucket < col("rate_pct"))
      .groupBy(shardCol, "rate_pct")
      .agg(count(lit(1)).as("n_docs_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(col(nTokCol)).as("n_tokens_in"),
        sum(when(col("keep"), col(nTokCol)).otherwise(0L))
          .as("n_tokens_kept"))
  }

  val qMixApply = Q(
    "q_mix_apply",
    (s, d) =>
      mixApply(
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        "source", "doc_id", "n_tok")
        .orderBy("source"),
    Some(s"""WITH per AS (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents),
             agg AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
               FROM per GROUP BY source),
             tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
               count(*) AS n_sources FROM agg),
             rates AS (SELECT source,
               CAST(floor(${Det.sqlR2(
                 """least(1.0, CAST(t_total AS DOUBLE) / n_sources
                    / CAST(n_tokens AS DOUBLE))""")} * 100 + 0.5) AS BIGINT)
                 AS rate_pct
               FROM agg, tot),
             v AS (SELECT p.source, r.rate_pct, p.n_tok,
               (('0x' || substring(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))
                  ::BIGINT % 100) < r.rate_pct AS keep
               FROM per p JOIN rates r ON p.source = r.source)
           SELECT source, rate_pct, count(*) AS n_docs_in,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_kept,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens_in,
             CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
               AS n_tokens_kept
           FROM v GROUP BY source, rate_pct ORDER BY source"""))

  /** Temperature-scaled mixture weights — the multilingual/multi-domain
    * sampling rule (weight_i ∝ n_i^alpha at alpha = 0.5, i.e. sqrt):
    * up-weights small domains relative to proportional sampling without
    * letting any domain dominate. Same one-scan shape as
    * [[mixWeights]]: one partial-aggregated shuffle to the per-shard
    * frame, totals from a window over those k rows. Determinism: sqrt
    * is correctly rounded in both engines (IEEE 754), the denominator
    * is a Det scaled-decimal sum (order-free), and the final percent
    * goes through the shared r2 grid — bit-identical by construction. */
  def mixTemperature(rows: org.apache.spark.sql.DataFrame, shardCol: String,
      nTokCol: String): org.apache.spark.sql.DataFrame = {
    val per = rows
      .groupBy(shardCol)
      .agg(sum(nTokCol).as("n_tokens"))
    val w = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sq = sqrt(col("n_tokens").cast("double"))
    per.select(col(shardCol), col("n_tokens"),
      Det.r2(sq * lit(100.0) / Det.dsumOver(sq, w)).as("w_pct"))
  }

  val qMixTemperature = Q(
    "q_mix_temperature",
    (s, d) =>
      mixTemperature(
        T.documents(s, d)
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        "source", "n_tok")
        .orderBy("source"),
    Some(s"""WITH per AS (SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             tot AS (SELECT
               ${Det.sqlDsum("sqrt(CAST(n_tokens AS DOUBLE))")} AS denom
               FROM per)
           SELECT source, n_tokens,
             ${Det.sqlR2("sqrt(CAST(n_tokens AS DOUBLE)) * 100.0 / denom")}
               AS w_pct
           FROM per, tot ORDER BY source"""))

  /** Global bigram frequency table, top 100 — the n-gram census every
    * LM data audit runs (vocabulary coverage, boilerplate detection,
    * eval-set leak scouting). Bigrams explode map-side with
    * multiplicity (COUNTS, not the per-doc distinct sets the dedup
    * shingles use), partial-aggregate before the one shuffle keyed on
    * the gram, and the top-k lands in TakeOrderedAndProject — O(k) per
    * partition, never a global sort. Deterministic order: count desc,
    * gram asc. */
  val qCorpusNgramCounts = Q(
    "q_corpus_ngram_counts",
    (s, d) => {
      T.documents(s, d)
        // same one-pass kernel as the contamination grams (r18), in its
        // non-distinct form: every bigram occurrence, byte-identical to
        // the interpreted transform/concat_ws/element_at spelling
        .select(explode(graft.functions.TextKernels.ngramsCol(
          col("text"), 2, distinct = false)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(100)
    },
    Some("""WITH toks AS (SELECT string_split(text, ' ') AS tk
                          FROM documents),
            g AS (SELECT unnest(list_transform(range(1, len(tk)),
                    i -> array_to_string(tk[i:i+1], ' '))) AS gram
                  FROM toks WHERE len(tk) >= 2)
           SELECT gram, count(*) AS n FROM g
           GROUP BY gram ORDER BY n DESC, gram LIMIT 100"""))

  val qMixWeights = Q(
    "q_mix_weights",
    (s, d) =>
      mixWeights(
        T.documents(s, d)
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
        "source", "n_tok")
        .orderBy("source"),
    Some(s"""WITH per AS (SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
               count(*) AS n_sources FROM per)
           SELECT source, n_docs, n_tokens,
             ${Det.sqlR2("CAST(n_tokens AS DOUBLE) * 100.0 / CAST(t_total AS DOUBLE)")}
               AS tok_share_pct,
             ${Det.sqlR2("least(1.0, CAST(t_total AS DOUBLE) / n_sources / CAST(n_tokens AS DOUBLE))")}
               AS sample_rate
           FROM per, tot ORDER BY source"""))

  /** Snapshot-diff core — dataset versioning's primitive: classify every
    * id across two corpus versions as added / removed / changed /
    * unchanged. Change detection compares `fpCol` (pass a 128-bit text
    * hash, NOT the body — the full-outer join then shuffles ids and
    * 32-char keys, never documents; same rule as exact dedup).
    * `carryCols` ride along from whichever side has the row. One
    * full-outer equi-join keyed on the id; no other shuffle. */
  def snapshotDiff(prev: org.apache.spark.sql.DataFrame,
      cur: org.apache.spark.sql.DataFrame, idCol: String, fpCol: String,
      carryCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    def side(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.select((Seq(col(idCol).as(s"${tag}_id"),
        col(fpCol).as(s"${tag}_fp")) ++
        carryCols.map(c => col(c).as(s"${tag}_$c"))): _*)
    side(prev, "p").join(side(cur, "c"),
        col("p_id") === col("c_id"), "full_outer")
      .select((Seq(
        coalesce(col("c_id"), col("p_id")).as(idCol),
        when(col("p_id").isNull, "added")
          .when(col("c_id").isNull, "removed")
          // null-SAFE compare: =!= yields NULL (not true) when one
          // fingerprint is NULL, which would fall through to
          // "unchanged" — a changed row reported unchanged
          .when(!(col("p_fp") <=> col("c_fp")), "changed")
          .otherwise("unchanged").as("status")) ++
        carryCols.map(c =>
          coalesce(col(s"c_$c"), col(s"p_$c")).as(c))): _*)
  }

  /** The declared diff: two deterministic md5-derived "versions" of the
    * documents table (v2 drops the top hash range, gains the bottom one,
    * and rewrites the sixteenth of docs whose third hash digit is '7'),
    * reported as per-(source, status) counts with id extents. */
  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    (s, d) => {
      val base = T.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("hh"))
      val v1 = base.filter(substring(col("hh"), 1, 2) >= "08")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"),
          col("source"))
      val v2 = base.filter(substring(col("hh"), 1, 2) < "f8")
        .select(col("doc_id"),
          md5(when(substring(col("hh"), 3, 1) === "7",
            concat(col("text"), lit(" v2"))).otherwise(col("text"))
            .cast("binary")).as("fp"),
          col("source"))
      snapshotDiff(v1, v2, "doc_id", "fp", Seq("source"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
        .orderBy("source", "status")
    },
    Some("""WITH d AS (SELECT doc_id, text, source,
               md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
             v1 AS (SELECT doc_id, md5(text) AS fp, source FROM d
                    WHERE substring(hh, 1, 2) >= '08'),
             v2 AS (SELECT doc_id,
                      md5(CASE WHEN substring(hh, 3, 1) = '7'
                          THEN text || ' v2' ELSE text END) AS fp,
                      source
                    FROM d WHERE substring(hh, 1, 2) < 'f8'),
             j AS (SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
                     CASE WHEN p.doc_id IS NULL THEN 'added'
                          WHEN c.doc_id IS NULL THEN 'removed'
                          WHEN p.fp IS DISTINCT FROM c.fp THEN 'changed'
                          ELSE 'unchanged' END AS status,
                     coalesce(c.source, p.source) AS source
                   FROM v1 p FULL OUTER JOIN v2 c ON p.doc_id = c.doc_id)
           SELECT source, status, count(*) AS n,
                  min(doc_id) AS min_doc, max(doc_id) AS max_doc
           FROM j GROUP BY source, status ORDER BY source, status"""))

  /** Corpus MERGE/upsert report — the versioning op between
    * [[qSnapshotDiff]] (compare two finished versions) and
    * [[Dedup.qDedupIncremental]] (admit a batch against a fingerprint
    * index): APPLY an incoming batch of upserts and tombstones to a
    * snapshot and account for every row. Actions: `inserted` (batch id
    * absent from snapshot), `updated` (present, fingerprint differs),
    * `upsert_noop` (present, identical), `deleted` (tombstone hits),
    * `delete_noop` (tombstone misses), `kept` (snapshot row the batch
    * never mentions). Alongside the per-action counts, every row carries
    * the RESULTING version's size and fingerprint — an order-independent
    * `bit_xor` of a 60-bit slice of md5(doc_id:fp) over the post-merge
    * corpus, so two merges agree iff the resulting versions are
    * identical, regardless of partitioning or arrival order.
    *
    * Scale: fingerprints are computed map-side BEFORE the merge join, so
    * only (doc_id, 32-char fp, flag) triples shuffle — document bodies
    * never cross the wire (same rule as [[qSnapshotDiff]]); one
    * full-outer shuffle join on the id + two tiny aggregates. The
    * snapshot/batch/tombstone/modified markers are md5 id-ranges
    * (growth-stable, RNG-free, both-engine-identical — the
    * [[Curation.qSampleHash]] discipline). The merge join runs exactly
    * ONCE (PlanSpec-pinned): per-action partial fingerprints ride the
    * same aggregation as the counts and xor-combine in a window over
    * the ≤6-row action frame. */
  val qCorpusUpsert = Q(
    "q_corpus_upsert",
    (s, d) => {
      val base = T.documents(s, d)
        .select(col("doc_id"), col("text"),
          md5(col("doc_id").cast("string").cast("binary")).as("hh"))
      val snap = base
        .filter(substring(col("hh"), 1, 2) >= "10" &&
          substring(col("hh"), 1, 2) < "d0")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val batch = base.filter(substring(col("hh"), 1, 2) < "40")
        .select(col("doc_id"),
          (substring(col("hh"), 3, 1) >= "c").as("tombstone"),
          md5(when(substring(col("hh"), 4, 1) < "8",
            concat(col("text"), lit(" v2"))).otherwise(col("text"))
            .cast("binary")).as("bfp"))
      val merged = snap.join(batch, Seq("doc_id"), "full")
        .select(col("doc_id"),
          when(col("tombstone").isNull, lit("kept"))
            .when(col("tombstone") && col("fp").isNotNull, "deleted")
            .when(col("tombstone"), "delete_noop")
            .when(col("fp").isNull, "inserted")
            .when(col("fp") === col("bfp"), "upsert_noop")
            .otherwise("updated").as("action"),
          when(col("tombstone").isNull, col("fp"))
            .when(col("tombstone"), lit(null))
            .otherwise(col("bfp")).as("rfp"))
      // ONE aggregation over the merged frame: per-action stats plus
      // per-action PARTIAL result fingerprints (bit_xor is associative,
      // so the global sig is the xor of per-action parts). The global
      // combine is an unpartitioned window — over the ≤6-row action
      // frame, not the corpus — so the merge join runs exactly once.
      val perAction = merged.groupBy("action")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"),
          expr("""bit_xor(cast(conv(substring(
             md5(cast(concat(cast(doc_id as string), ':', rfp) as binary)),
             1, 15), 16, 10) as bigint))""").as("sig_part"),
          count(col("rfp")).as("rows_part"))
      perAction
        .withColumn("result_sig",
          expr("bit_xor(sig_part) over ()"))
        .withColumn("result_rows",
          expr("sum(rows_part) over ()"))
        .drop("sig_part", "rows_part")
        .orderBy("action")
    },
    Some("""WITH base AS (SELECT doc_id, text,
                 md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
             snap AS (SELECT doc_id, md5(text) AS fp FROM base
                      WHERE substring(hh, 1, 2) >= '10'
                        AND substring(hh, 1, 2) < 'd0'),
             batch AS (SELECT doc_id,
                         substring(hh, 3, 1) >= 'c' AS tombstone,
                         md5(CASE WHEN substring(hh, 4, 1) < '8'
                             THEN text || ' v2' ELSE text END) AS bfp
                       FROM base WHERE substring(hh, 1, 2) < '40'),
             m AS (SELECT coalesce(s.doc_id, b.doc_id) AS doc_id,
                     CASE WHEN b.tombstone IS NULL THEN 'kept'
                          WHEN b.tombstone AND s.fp IS NOT NULL THEN 'deleted'
                          WHEN b.tombstone THEN 'delete_noop'
                          WHEN s.fp IS NULL THEN 'inserted'
                          WHEN s.fp = b.bfp THEN 'upsert_noop'
                          ELSE 'updated' END AS action,
                     CASE WHEN b.tombstone IS NULL THEN s.fp
                          WHEN b.tombstone THEN NULL
                          ELSE b.bfp END AS rfp
                   FROM snap s FULL OUTER JOIN batch b ON s.doc_id = b.doc_id),
             a AS (SELECT action, count(*) AS n, min(doc_id) AS min_doc,
                     max(doc_id) AS max_doc,
                     bit_xor(CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR) || ':' || rfp),
                       1, 15)) AS BIGINT)) AS sig_part,
                     count(rfp) AS rows_part
                   FROM m GROUP BY action)
           SELECT action, n, min_doc, max_doc,
                  bit_xor(sig_part) OVER () AS result_sig,
                  CAST(sum(rows_part) OVER () AS BIGINT) AS result_rows
           FROM a ORDER BY action"""))

  /** Token-distribution drift between two corpus versions — the audit
    * run AFTER a merge ([[qCorpusUpsert]]) answers "what changed", this
    * answers "did the LANGUAGE change": top-50 tokens by absolute
    * parts-per-million frequency shift between version slices (same
    * md5 id-range + '7'-salt version rule as [[qSnapshotDiff]], so the
    * planted ' v2' edit surfaces as a real drift signal). A fine-tune
    * mix that silently doubles one domain's boilerplate shows up here
    * before it shows up in a trained model.
    *
    * Scale: tokens explode map-side with multiplicity and two-phase
    * count on the token — ONE shuffle whose width is the vocabulary,
    * not the corpus. Totals ride a separate scalar aggregation computed
    * from per-doc counts (scan + project + 1-row agg, NO token shuffle)
    * and broadcast back, so the heavy exploded frame is never
    * recomputed; the top-50 is TakeOrderedAndProject, never a global
    * sort. ppm spelled floor(1e6·n/T + 0.5) — identical IEEE doubles
    * from identical integers in both engines. */
  val qCorpusDrift = Q(
    "q_corpus_drift",
    (s, d) => {
      val base = T.documents(s, d)
        .select(col("doc_id"), col("text"),
          md5(col("doc_id").cast("string").cast("binary")).as("hh"))
      val inV1 = substring(col("hh"), 1, 2) >= "08"
      val inV2 = substring(col("hh"), 1, 2) < "f8"
      val salted = substring(col("hh"), 3, 1) === "7"
      val words = (t: org.apache.spark.sql.Column) =>
        graft.functions.TextKernels.spaceTokensCol(t)
      // ONE corpus scan for the token pass: each token carries its
      // per-version multiplicity flags (c1, c2) instead of the corpus
      // being scanned once per version slice; the salted edit's extra
      // token rides the same array as a v2-only element. Halves the
      // dominant explode at any scale.
      val counts = base.filter(inV1 || inV2)
        .select(col("hh"), col("text"),
          inV1.cast("int").as("i1"), inV2.cast("int").as("i2"))
        .select(explode(concat(
          expr("""transform(filter(split(text, ' '), w -> length(w) > 0),
                  t -> struct(t as token, i1 as c1, i2 as c2))"""),
          when(salted && inV2,
            array(struct(lit("v2").as("token"), lit(0).as("c1"),
              lit(1).as("c2"))))
            .otherwise(expr(
              "cast(array() as array<struct<token:string,c1:int,c2:int>>)"))))
          .as("e"))
        .groupBy(col("e.token").as("token"))
        .agg(sum(col("e.c1")).cast("long").as("n1"),
          sum(col("e.c2")).cast("long").as("n2"))
      val totals = base
        .select(col("hh"), size(words(col("text"))).cast("long").as("nb"))
        .agg(sum(when(inV1, col("nb")).otherwise(0L)).as("t1"),
          sum(when(inV2, col("nb") + when(salted, 1L).otherwise(0L))
            .otherwise(0L)).as("t2"))
      counts.crossJoin(broadcast(totals))
        .select(col("token"), col("n1"), col("n2"),
          // greatest(t, 1): an EMPTY version slice (possible on tiny or
          // heavily-filtered corpora) would make this 0/0 -> NaN, which
          // casts engine-divergently; with the guard, n is also 0 there
          // and the ppm is an honest 0
          floor(lit(1e6) * col("n1") / greatest(col("t1"), lit(1L)) + 0.5)
            .cast("long").as("ppm1"),
          floor(lit(1e6) * col("n2") / greatest(col("t2"), lit(1L)) + 0.5)
            .cast("long").as("ppm2"))
        .withColumn("drift", abs(col("ppm1") - col("ppm2")))
        .orderBy(col("drift").desc, col("token"))
        .limit(50)
    },
    Some("""WITH base AS (SELECT doc_id, text,
                 md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
             tok AS (
               SELECT 1 AS v, unnest(list_filter(string_split(text, ' '),
                 w -> len(w) > 0)) AS token
               FROM base WHERE substring(hh, 1, 2) >= '08'
               UNION ALL
               SELECT 2, unnest(list_filter(string_split(
                 CASE WHEN substring(hh, 3, 1) = '7'
                      THEN text || ' v2' ELSE text END, ' '),
                 w -> len(w) > 0))
               FROM base WHERE substring(hh, 1, 2) < 'f8'),
             c AS (SELECT token,
                     CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                     CAST(sum(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n2
                   FROM tok GROUP BY token),
             t AS (SELECT
                     CAST(sum(CASE WHEN substring(hh, 1, 2) >= '08'
                       THEN nb ELSE 0 END) AS BIGINT) AS t1,
                     CAST(sum(CASE WHEN substring(hh, 1, 2) < 'f8'
                       THEN nb + CASE WHEN substring(hh, 3, 1) = '7'
                                  THEN 1 ELSE 0 END
                       ELSE 0 END) AS BIGINT) AS t2
                   FROM (SELECT hh, len(list_filter(string_split(text, ' '),
                           w -> len(w) > 0)) AS nb FROM base))
           SELECT token, n1, n2,
                  CAST(floor(1e6 * n1 / greatest(t1, 1) + 0.5) AS BIGINT) AS ppm1,
                  CAST(floor(1e6 * n2 / greatest(t2, 1) + 0.5) AS BIGINT) AS ppm2,
                  abs(CAST(floor(1e6 * n1 / greatest(t1, 1) + 0.5) AS BIGINT)
                    - CAST(floor(1e6 * n2 / greatest(t2, 1) + 0.5) AS BIGINT)) AS drift
           FROM c CROSS JOIN t
           ORDER BY drift DESC, token LIMIT 50"""))

  /** The corpus reduced to its word census — the lightweight proxy every
    * BPE pass actually needs (r19, guide §2.3 "aggregate before you
    * shuffle" / §8 "decide with small rows"): the encoder is strictly
    * per-word ([[graft.functions.BpeEncode]] splits on single spaces and
    * never merges across a boundary), so every corpus-level count
    * decomposes exactly as Σ_distinct-word count(word) × f(word). One
    * word-count aggregation (map-side partial, vocabulary-sized shuffle)
    * replaces a full text pass in EVERY training round and in the apply
    * census — the k+1 corpus scans the r17/r18 spelling paid become 1. */
  private[ops] def bpeWordCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wn"))

  /** [[learnBpeMerges]] over a pre-aggregated, CALLER-PERSISTED
    * (word, count) census — split out so [[qBpeApplyLearned]] can reuse
    * one census for both the k learning rounds and the apply pass. */
  private[ops] def learnBpeMergesFromWords(
      words: org.apache.spark.sql.DataFrame,
      k: Int): Seq[(String, String, Long)] = {
    var merges = Vector.empty[(String, String)]
    var out = Vector.empty[(String, String, Long)]
    var round = 0
    var dry = false
    while (round < k && !dry) {
      // pair count over the corpus ≡ per-word pairs weighted by word
      // frequency (encoding never crosses word boundaries); counts are
      // exact integers, so the argmax row — ties lexicographic on the
      // pair — is the one the full-text spelling produced
      val top = words
        .select(explode(graft.functions.BpeEncode.pairs(col("w"), merges))
          .as("p"), col("wn"))
        .groupBy("p").agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("p"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val parts = top(0).getString(0).split(" ", 2)
        merges :+= ((parts(0), parts(1)))
        out :+= ((parts(0), parts(1), top(0).getLong(1)))
      }
      round += 1
    }
    out
  }

  /** BPE merge-table LEARNING over a corpus — the training half of the
    * tokenizer story ([[graft.functions.BpeEncode]] is the inference
    * half): round r encodes every word with the r−1 merges learned so
    * far, counts adjacent within-word token pairs globally, and adopts
    * the most frequent pair (ties: lexicographic — fully deterministic).
    * Classic Sennrich et al. 2016 BPE, run as k aggregation passes.
    *
    * Scale shape: per round, pairs explode map-side under codegen
    * ([[graft.functions.BpePairs]] carries the current table as a
    * reference object — the broadcast-variable analogue) and two-phase
    * count on the pair; the driver keeps only the argmax row per round
    * (ONE collected row — bounded driver state by the same argument as
    * IVF centroids, k·bytes total). k corpus passes is the textbook
    * algorithm's shape; production trainers shard-sample first, which
    * composes here (any DataFrame works as input). */
  def learnBpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): Seq[(String, String, Long)] = {
    // cache the vocabulary census, not the text: rounds 1..k then scan
    // |V| rows instead of the corpus (see [[bpeWordCounts]])
    val words = bpeWordCounts(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try learnBpeMergesFromWords(words, k)
    finally words.unpersist(blocking = false)
  }

  /** Merges learned per declared run of [[qBpeLearn]]. */
  val BpeLearnRounds = 8

  /** The declared tokenizer-training query: learn [[BpeLearnRounds]]
    * merges on `documents` and report (rank, a, b, n). No DuckDB oracle
    * — each round's input tokenization depends on the previous round's
    * data-dependent argmax, a driver-steered fixed point like IVF
    * (CorpusSpec replays the whole algorithm in plain Scala at the gate
    * sf instead, and pins well-formedness: every learned component is a
    * single char or an earlier merge's output — the [[graft.functions
    * .BpeEncode]] class-load invariant, emerging here by construction). */
  val qBpeLearn = Q(
    "q_bpe_learn",
    (s, d) => {
      val learned = learnBpeMerges(T.documents(s, d), "text", BpeLearnRounds)
      import scala.jdk.CollectionConverters._
      val rows = learned.zipWithIndex.map { case ((a, b, n), i) =>
        org.apache.spark.sql.Row(i, a, b, n)
      }
      s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy("rank")
    },
    None)

  /** The learned-table ROUND-TRIP — trainer output composed into the
    * encoder: learn [[BpeLearnRounds]] merges on `documents`
    * ([[learnBpeMerges]]), feed the learned table into the dynamic
    * encode expression ([[graft.functions.BpeEncodeWith]] — the same
    * reference-object mechanism the training rounds use), and report
    * the resulting token census (top 50 by count, ties lexicographic)
    * with each token flagged `merged` iff it is a learned merge's
    * output. The integration proof the two halves previously lacked:
    * inference with a LEARNED table, not just the fixed compiled-in
    * one. No DuckDB oracle by the q_bpe_learn argument (the table is a
    * data-dependent driver-steered fixed point); CorpusSpec proves
    * encode-with-learned-table ≡ the trainer's final tokenization via
    * a full plain-Scala replay, plus the fixed-point invariant that no
    * learned pair survives adjacent in the encoded output.
    *
    * Scale shape (r19): ONE corpus word-count pass builds the
    * vocabulary census ([[bpeWordCounts]]); the k learning rounds AND
    * the apply census all run over that |V|-row frame — token counts
    * decompose exactly as Σ count(word) × tokens(word) because the
    * encoder never crosses a word boundary. Driver state stays k merge
    * pairs. The census persist spans the rounds and the apply pass;
    * evicted by [[graft.Graft.clearCaches]] like every persisted base. */
  val qBpeApplyLearned = Q(
    "q_bpe_apply_learned",
    (s, d) => {
      val words = bpeWordCounts(T.documents(s, d), "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val learned = learnBpeMergesFromWords(words, BpeLearnRounds)
        .map { case (a, b, _) => (a, b) }
      val products = learned.map { case (a, b) => a + b }.toSet
      words
        .select(explode(graft.functions.BpeEncode.encodeWith(col("w"),
          learned)).as("token"), col("wn"))
        .groupBy("token").agg(sum(col("wn")).as("n"))
        .withColumn("merged",
          col("token").isInCollection(products))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    },
    None)

  /** Deterministic PER-EPOCH reshuffle — the data-ordering step between
    * an assembled corpus and a multi-epoch training run: epoch e's
    * order is md5("e:doc_id"), so every epoch is a different but fully
    * reproducible permutation (re-run the job, get the same batches —
    * the q_sample_hash discipline applied to ordering, no RNG state to
    * checkpoint). The query proves the property the gate can check
    * without materializing 3 corpus-sized permutations: the first five
    * documents of each epoch's order, with the order key itself in the
    * output. Per epoch that is a TakeOrderedAndProject (top-k, never a
    * global sort); a training run consumes the same order by sorting
    * WITHIN shards on the same key — the global prefix here certifies
    * the key, not a single-task total order. */
  val qCorpusEpochShuffle = Q(
    "q_corpus_epoch_shuffle",
    (s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"))
      (0 until 3).map { e =>
        docs.select(lit(e).as("epoch"), col("doc_id"),
            md5(concat(lit(s"$e:"), col("doc_id").cast("string"))
              .cast("binary")).as("h"))
          .orderBy("h", "doc_id").limit(5)
      }.reduce(_ unionAll _)
        .withColumn("rank", row_number().over(
            Window.partitionBy("epoch").orderBy("h", "doc_id"))
          .cast("long"))
        .select("epoch", "rank", "doc_id", "h")
        .orderBy("epoch", "rank")
    },
    Some("""SELECT epoch, rank, doc_id, h FROM (
             SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':'
                   || CAST(d.doc_id AS VARCHAR)) AS h,
               row_number() OVER (PARTITION BY e.epoch
                 ORDER BY md5(CAST(e.epoch AS VARCHAR) || ':'
                              || CAST(d.doc_id AS VARCHAR)), d.doc_id)
                 AS rank
             FROM documents d, (VALUES (0), (1), (2)) e(epoch))
           WHERE rank <= 5 ORDER BY epoch, rank"""))

  val all: Seq[Q] =
    Seq(qPackSequences, qPackBudgetSweep, qContamination,
      qContaminationBloom, qContaminationFuzzy, qMixWeights, qMixApply,
      qMixTemperature,
      qCorpusNgramCounts, qSnapshotDiff, qCorpusUpsert, qPackSequencesBpe,
      qCorpusDrift, qBpeLearn, qBpeApplyLearned, qPackBestfit,
      qCorpusEpochShuffle)
}
