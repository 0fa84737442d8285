package graft.ops

import graft.{Q, Tables => T}
import graft.util.Det.{r2, sqlR2}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Report.SortedOnce

/** Corpus-curation surface beyond filtering/dedup: repetition quality
  * signals (the Gopher-style rules), deterministic sampling, per-group
  * heavy hitters, and PII redaction. All built-in codegen expressions;
  * every op keyed on content hashes or aggregates — nothing driver-side.
  */
object Curation {

  /** Repetition quality signals per document — the two workhorse
    * Gopher-rule inputs: the duplicate word-2-gram ratio (1 − distinct/
    * total) and the top-token dominance (most frequent token's share).
    * One map-side pass (r19, guide §2.4 "remove shuffles outright"):
    * both signals are pure per-row functions of the text, so the former
    * explode → groupBy(doc, tok) → groupBy(doc) → join-back pipeline —
    * two corpus-sized exchanges plus a join for what one row already
    * knows — collapses into the [[graft.functions.TextKernels
    * .TopTokenStats]] kernel beside the existing shingle kernel; the
    * only remaining exchange is the report sort. */
  val qTextRepetition = Q(
    "q_text_repetition",
    (s, d) =>
      T.documents(s, d).select(
          col("doc_id"),
          size(graft.functions.WordShingles.shingles(col("text")))
            .as("n_distinct_2g"),
          greatest(size(split(col("text"), " ")) - 1, lit(1)).as("n_2g"),
          graft.functions.TextKernels.topTokenStatsCol(col("text")).as("ts"))
        .select(
          col("doc_id"),
          r2(lit(1.0) - col("n_distinct_2g").cast("double") / col("n_2g"))
            .as("dup_2gram_ratio"),
          r2(col("ts.max_cnt").cast("double") / col("ts.n_toks"))
            .as("top_tok_ratio"))
        .sortedOnce("doc_id"),
    Some(s"""WITH tc AS (
              SELECT doc_id, tok, count(*) AS cnt FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
              GROUP BY 1, 2),
            ta AS (SELECT doc_id, max(cnt) AS max_cnt, sum(cnt) AS n_toks
                   FROM tc GROUP BY 1),
            g AS (SELECT doc_id,
                    len(list_distinct(list_transform(
                      range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
                      i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))))
                      AS n_distinct_2g,
                    greatest(len(string_split(text, ' ')) - 1, 1) AS n_2g
                  FROM documents)
            SELECT g.doc_id,
              ${sqlR2("1.0 - CAST(n_distinct_2g AS DOUBLE) / n_2g")}
                AS dup_2gram_ratio,
              ${sqlR2("CAST(max_cnt AS DOUBLE) / n_toks")} AS top_tok_ratio
            FROM g JOIN ta USING (doc_id)
            ORDER BY doc_id"""))

  /** Deterministic ~10% corpus sample: keep documents whose
    * md5(doc_id)'s first byte falls under 0x1a. Content-hash sampling is
    * THE reproducible sampling primitive at corpus scale — stable across
    * runs, engines and partitionings, no RNG state, trivially pushed
    * into a scan filter. */
  val qSampleHash = Q(
    "q_sample_hash",
    (s, d) =>
      T.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 2) <= "19")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM documents
           WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19'
           ORDER BY doc_id"""))

  /** Stratified deterministic sample: exactly (up to) 20 documents per
    * source, chosen by md5 hash order — per-stratum quotas without an
    * RNG. One window exchange on the (low-cardinality) stratum key. */
  val qSampleStratified = Q(
    "q_sample_stratified",
    (s, d) => {
      val h = md5(col("doc_id").cast("string").cast("binary"))
      val w = Window.partitionBy(col("source")).orderBy(h, col("doc_id"))
      T.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
    Some("""SELECT source, CAST(rn AS INT) AS rn, doc_id FROM (
             SELECT source, doc_id,
                    row_number() OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             FROM documents)
           WHERE rn <= 20 ORDER BY source, rn"""))

  /** Exact heavy hitters: the 10 most frequent tokens per source. The
    * token counts two-phase aggregate (map-side partials), then one
    * window pass over the aggregated (source, token) frame — tiny
    * relative to the corpus — picks each stratum's top 10. At larger
    * group cardinalities the same query shape runs on a count-min/
    * space-saving sketch; this is the exact, oracle-checkable form. */
  val qAggHeavyHitters = Q(
    "q_agg_heavy_hitters",
    (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("tok"))
      T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy("source", "rank")
    },
    Some("""SELECT source, tok, n, CAST(rank AS INT) AS rank FROM (
             SELECT source, tok, count(*) AS n,
                    row_number() OVER (PARTITION BY source
                      ORDER BY count(*) DESC, tok) AS rank
             FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents)
             GROUP BY source, tok)
           WHERE rank <= 10 ORDER BY source, rank"""))

  /** PII redaction: scrub emails and long digit runs, report per-doc
    * redaction counts + the cleaned length. The synthetic corpus is
    * PII-free word soup, so the query plants one deterministic email and
    * number per document (derived from doc_id) before scrubbing — the
    * gate then verifies the regex semantics actually agree between
    * engines instead of comparing all-zero counts. Patterns use only
    * constructs Java regex and RE2 read identically. */
  val qTextPiiScrub = Q(
    "q_text_pii_scrub",
    (s, d) => {
      val emailRe = "[a-z0-9._]+@[a-z0-9.-]+"
      val numRe = "[0-9]{4,}"
      val annotated = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ref "), (col("doc_id") * 1234567L).cast("string"))
      val scrubbed = regexp_replace(
        regexp_replace(annotated, emailRe, "<EMAIL>"), numRe, "<NUM>")
      T.documents(s, d)
        .select(
          col("doc_id"),
          size(regexp_extract_all(annotated, lit(emailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(annotated, lit(numRe), lit(0)))
            .as("n_longnums"),
          length(scrubbed).as("clean_len"))
        .sortedOnce("doc_id")
    },
    Some("""SELECT doc_id,
           CAST(len(regexp_extract_all(a, '[a-z0-9._]+@[a-z0-9.-]+')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(a, '[0-9]{4,}')) AS INT)
             AS n_longnums,
           CAST(length(regexp_replace(regexp_replace(a,
             '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g')) AS INT) AS clean_len
           FROM (SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                   '@example.com ref ' || CAST(doc_id * 1234567 AS VARCHAR)
                     AS a
                 FROM documents)
           ORDER BY doc_id"""))

  /** Deterministic train/val/test split (~80/10/10) by md5(doc_id)
    * range, the law in [[Corpus.splitOf]]. Same properties as
    * [[qSampleHash]] — stable across runs, engines, partitionings; no
    * RNG; evaluable inside the scan —
    * and the split of a document never changes as the corpus grows,
    * which is what prevents test-set leakage across dataset versions.
    * Output: per (source, split) counts, the report a split job emits. */
  val qSampleSplit = Q(
    "q_sample_split",
    (s, d) =>
      T.documents(s, d)
        .withColumn("split", Corpus.splitOf(Corpus.splitHash(col("doc_id"))))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split"),
    Some(s"""SELECT source, split, count(*) AS n_docs FROM (
             SELECT source, ${Corpus.splitSql} AS split FROM documents)
           GROUP BY source, split ORDER BY source, split"""))

  /** Sketch-backed heavy hitters: the same top-10-per-source report as
    * [[qAggHeavyHitters]], with counts re-estimated from a per-source
    * count-min sketch ([[graft.functions.CountMinAgg]]). The sketch
    * aggregation shuffles ONE fixed-size row per source — independent of
    * vocabulary — which is the scale path the exact query's
    * (source, token) shuffle can't offer at 100 TB. CMS is
    * order-independent (counter sums), so `n_est` is deterministic under
    * any partitioning; CurationSpec pins n_est >= n and the 2N/width
    * error bound. No SQL oracle (sketch layout is engine-specific). */
  val qAggHeavyHittersSketch = Q(
    "q_agg_heavy_hitters_sketch",
    (s, d) => {
      val toks = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val sketch = toks.groupBy("source")
        .agg(graft.functions.CountMin.cms(col("tok")).as("sk"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("tok"))
      val top = toks.groupBy("source", "tok").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
      top.join(sketch, "source")
        .select(col("source"), col("tok"), col("n"), col("rank"),
          graft.functions.CountMin.estimate(col("sk"), col("tok")).as("n_est"))
        .orderBy("source", "rank")
    },
    None)

  /** The per-document surprisal frame (doc_id, n_tok, bits_sum,
    * mean_bits) behind [[qTextSurprisal]], unsorted — shared with
    * [[qCurriculumPhases]], which consumes the same difficulty score. */
  private[ops] def surprisalFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tokArrays = T.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = tokArrays
      .select(col("doc_id"), explode(col("tk")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        length(bin(expr("total div cnt"))).cast("long").as("bits"))
    toks.join(scored, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("bits").as("bits_sum"))
      .select(col("doc_id"), col("n_tok"), col("bits_sum"),
        r2(col("bits_sum").cast("double") / col("n_tok"))
          .as("mean_bits"))
  }

  /** The shared surprisal CTE chain ending in the doc-level frame
    * `dd(doc_id, n_tok, mb)` — the SQL twin of [[surprisalFrame]]. */
  private def surprisalSqlCte: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
        vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        sc AS (SELECT tok,
                 CAST(length(printf('%b', total // cnt)) AS BIGINT) AS bits
               FROM vocab, tot),
        dd AS (SELECT t.doc_id, count(*) AS n_tok,
                 ${sqlR2("CAST(sum(sc.bits) AS BIGINT)::DOUBLE / count(*)")}
                   AS mb
               FROM toks t JOIN sc USING (tok) GROUP BY t.doc_id)"""

  /** Corpus-LM surprisal score — the perplexity-filter shape (score each
    * document under a language model derived from the corpus itself;
    * rare-token-heavy documents score high) with a deterministic twist:
    * true `-log p` is float `ln`, and Java's `Math.log` disagrees with
    * DuckDB/glibc by 1 ulp on ~6 of 300k integer inputs (measured), so
    * the gate could flip. Instead each token scores its INTEGER
    * surprisal `bitlength(total // cnt)` — a quantized -log2 p computed
    * in exact integer space (`length(bin(x))` / `length(printf('%b', x))`
    * are identical by construction). Per doc: token count, exact bits
    * sum, 2dp mean.
    *
    * Scale shape: the unigram "model" is the vocab-sized count frame
    * (one explode + groupBy(token)); the scalar total partial-aggregates
    * from the VOCAB frame, not a second corpus pass, and broadcasts onto
    * it; scoring is one equi-join keyed on the token and a doc_id
    * aggregation. The token stream feeds two consumers (vocab counts +
    * the scoring join), so the compact per-doc token ARRAYS are
    * persisted — scan+split runs once, each consumer re-explodes from
    * memory (the exploded rows themselves are corpus-sized and are
    * deliberately NOT cached). Evicted by [[graft.Graft.clearCaches]]. */
  val qTextSurprisal = Q(
    "q_text_surprisal",
    (s, d) => surprisalFrame(s, d).orderBy("doc_id"),
    Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                           FROM documents),
             vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
             sc AS (SELECT tok,
                      CAST(length(printf('%b', total // cnt)) AS BIGINT)
                        AS bits
                    FROM vocab, tot)
           SELECT t.doc_id, count(*) AS n_tok,
                  CAST(sum(sc.bits) AS BIGINT) AS bits_sum,
                  ${sqlR2("CAST(sum(sc.bits) AS BIGINT)::DOUBLE / count(*)")}
                    AS mean_bits
           FROM toks t JOIN sc USING (tok)
           GROUP BY t.doc_id ORDER BY t.doc_id"""))

  /** Profiling core (see [[qProfileTable]] for the full rationale):
    * per column of `cols`, null + exact distinct counts plus the row
    * count — one aggregation pass, melted map-side by `stack`. */
  def profile(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    // Backtick-quote every identifier (doubling embedded backticks) so
    // column names with dots/quotes/spaces resolve as-is instead of being
    // parsed as nested-field paths; the melt itself is typed Columns
    // (explode of structs — map-side generator, same shape as stack) so
    // no name ever round-trips through the SQL parser.
    def bq(n: String) = "`" + n.replace("`", "``") + "`"
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(bq(c)).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      countDistinct(col(bq(c))).as(s"nd_$c")))
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col(bq(s"nn_$c")).as("n_nulls"),
          col(bq(s"nd_$c")).as("n_distinct"))): _*)).as("m"),
        col("n_rows"))
      .select(col("m.col_name"), col("m.n_nulls"), col("m.n_distinct"),
        col("n_rows"))
  }

  /** Table profiling — the data-quality audit every pipeline runs before
    * training: per column, null count and exact distinct count, plus the
    * table's row count. One aggregation pass over the table (count
    * distinct expands internally; Catalyst plans the multi-distinct
    * rewrite), then a map-side `stack` melt to one row per column — no
    * per-column scans. `o_orderpriority` gets nulls PLANTED (nullif on
    * one value) so the null-counting path is exercised — the fixture
    * tables carry no organic nulls (same practice as the planted PII). */
  val qProfileTable = Q(
    "q_profile_table",
    (s, d) =>
      profile(
        T.orders(s, d).withColumn("o_orderpriority",
          nullif(col("o_orderpriority"), lit("3-MEDIUM"))),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority"))
        .orderBy("col_name"),
    Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggExprs = cols.map(c =>
        s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nn_$c,
           count(DISTINCT $c) AS nd_$c""").mkString(",\n")
      val arms = cols.map(c =>
        s"""SELECT '$c' AS col_name, nn_$c AS n_nulls,
              nd_$c AS n_distinct, n_rows FROM a""").mkString("\nUNION ALL\n")
      s"""WITH src AS (SELECT * REPLACE (
              nullif(o_orderpriority, '3-MEDIUM') AS o_orderpriority)
            FROM orders),
          a AS (SELECT count(*) AS n_rows, $aggExprs FROM src)
          SELECT col_name, n_nulls, n_distinct, n_rows FROM ($arms)
          ORDER BY col_name"""
    })

  /** Deletion-propagation audit — the right-to-be-forgotten report a
    * data platform runs BEFORE executing a purge: for a deletion set
    * (here an md5 id-range, the same reproducible selector the sampling
    * family uses), how many rows each derived table would lose, with
    * totals and shares. Each table contributes one semi-join keyed on
    * its id, unioned into a fixed-size report — per-table cost is one
    * broadcast-or-shuffle semi join, never a scan of the deletion set
    * per row. documents and embeddings share the id domain (the
    * cross-modal join's contract), so a document purge must hit both. */
  val qDeletionAudit = Q(
    "q_deletion_audit",
    (s, d) => {
      def hh(c: org.apache.spark.sql.Column) =
        substring(md5(c.cast("string").cast("binary")), 1, 2)
      def audit(df: org.apache.spark.sql.DataFrame, idCol: String,
          table: String) =
        df.agg(
          count(lit(1)).as("n_total"),
          sum(when(hh(col(idCol)) >= "f0", 1L).otherwise(0L))
            .as("n_affected"))
          .select(lit(table).as("table_name"), col("n_affected"),
            col("n_total"),
            r2(col("n_affected").cast("double") * 100.0 / col("n_total"))
              .as("pct"))
      audit(T.documents(s, d), "doc_id", "documents")
        .unionAll(audit(T.embeddings(s, d), "vec_id", "embeddings"))
        .orderBy("table_name")
    },
    Some(s"""SELECT * FROM (
             SELECT 'documents' AS table_name,
               CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                 >= 'f0' THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
               count(*) AS n_total,
               ${sqlR2("""CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                 >= 'f0' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / count(*)""")}
                 AS pct
             FROM documents
             UNION ALL
             SELECT 'embeddings',
               CAST(sum(CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 2)
                 >= 'f0' THEN 1 ELSE 0 END) AS BIGINT),
               count(*),
               ${sqlR2("""CAST(sum(CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 2)
                 >= 'f0' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / count(*)""")}
             FROM embeddings)
           ORDER BY table_name"""))

  /** Feature-hash bucket count for [[qTextQualityClassifier]] (fastText
    * uses 2M for word n-grams; 4096 keeps toy-table collisions frequent
    * enough that the gate exercises them). */
  val QualityBuckets = 4096L

  /** The classifier score over a pre-split token-array column `tk` —
    * shared by [[qTextQualityClassifier]] and [[qCurationFunnel]]. */
  private[ops] def qualityScoreExpr: org.apache.spark.sql.Column =
    graft.functions.TextKernels.qualityScoreCol(col("tk"), QualityBuckets)

  /** The same score in DuckDB, over a raw `text` reference. */
  private[ops] def qualityScoreSql(textRef: String): String =
    s"""CAST(coalesce(list_sum(list_transform(
        list_filter(string_split($textRef, ' '), t -> len(t) > 0),
        t -> (CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
          % $QualityBuckets) * 2654435761 % 1001 - 500)), 0) AS BIGINT)"""

  /** Pre-sort classifier frame, split out for PlanSpec (see
    * [[gopherRulesFrame]]). */
  private[graft] def classifierFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    T.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextKernels.spaceTokensCol(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).as("n_tokens"),
        qualityScoreExpr.as("score"))
      .withColumn("keep", col("score") >= 0L)

  /** Hashed-linear quality classifier scoring — the classifier-filter
    * stage every production pipeline runs (CCNet's fastText LM filter,
    * GPT-3's LR quality classifier): score = Σ_tokens w[h(token)], a
    * linear model over hashed bag-of-words features. The weight table is
    * a FORMULA, not a file — w = (h·2654435761 mod 1001) − 500, a
    * Knuth-multiplicative spread over [−500, 500] standing in for
    * learned weights (the scoring ENGINE is what's under test and is
    * table-independent; a learned table would broadcast the same way
    * the BPE merge table compiles in). All integer space end to end
    * (md5-derived bucket, integer weights, integer sum), so the oracle
    * is exact — no sigmoid needed for a filter: keep = score ≥ 0 is the
    * same decision boundary, monotone in the score.
    *
    * Scale: one map-side codegen pass (nested HOFs — transform +
    * aggregate fold), NO explode, no shuffle except the output sort;
    * per-token cost is one md5 + integer ops, flat per input byte. */
  val qTextQualityClassifier = Q(
    "q_text_quality_classifier",
    (s, d) => classifierFrame(s, d).sortedOnce("doc_id"),
    Some(s"""SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
               t -> len(t) > 0)) AS INT) AS n_tokens,
             ${qualityScoreSql("text")} AS score,
             ${qualityScoreSql("text")} >= 0 AS keep
           FROM documents ORDER BY doc_id"""))

  /** Gopher rule-matrix word-count bounds (Rae et al. 2021 A1.1 uses
    * [50, 100k]; the gate fixture's 10-99-token docs get a 20 floor so
    * BOTH classes are non-vacuous at sf0.01 — 43 docs fail). */
  val GopherMinWords = 20
  val GopherMaxWords = 100000

  /** Gopher-style heuristic rule matrix (Rae et al. 2021 A1.1) over a
    * frame carrying `text` and pre-split non-empty tokens `tk`: adds the
    * raw counts, one boolean per rule, and the conjunction
    * `gopher_keep`. Rules: word count in [[[GopherMinWords]],
    * [[GopherMaxWords]]]; mean word length in [3, 10]; symbol-to-word
    * ratio ('#' chars + '...' occurrences) ≤ 0.1; words containing an
    * alphabetic char ≥ 0.8; lines starting with a bullet ≤ 0.9; lines
    * ending in an ellipsis ≤ 0.3. EVERY rule decision is an integer
    * comparison (`10·n_sym ≤ n_words`, not a rounded-ratio compare), so
    * the booleans are exact in both dialects; the 2dp ratios the matrix
    * query reports are display-only.
    *
    * One map-side pass — string length arithmetic plus HOF filters, no
    * explode, no shuffle; shared by [[qTextGopherRules]] and the
    * funnel's optional stage so the spellings cannot drift. */
  def gopherCounts(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("n_words", size(col("tk")))
      .withColumn("n_chars", expr("length(replace(text, ' ', ''))"))
      .withColumn("n_symbols", expr(
        """(length(text) - length(replace(text, '#', '')))
           + CAST((length(text) - length(replace(text, '...', ''))) / 3
                  AS INT)"""))
      .withColumn("n_alpha",
        graft.functions.TextKernels.countAlphaTokensCol(col("tk")))
      .withColumn("ln", split(col("text"), "\n", -1))
      .withColumn("n_lines", size(col("ln")))
      .withColumn("n_bullet", expr(
        """size(filter(ln, l -> startswith(l, '-') OR startswith(l, '*')
                                OR startswith(l, '•')))"""))
      .withColumn("n_ell", expr(
        "size(filter(ln, l -> endswith(l, '...') OR endswith(l, '…')))"))
      .withColumn("ok_words",
        col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
      .withColumn("ok_mean_len",
        lit(3) * col("n_words") <= col("n_chars") &&
          col("n_chars") <= lit(10) * col("n_words"))
      .withColumn("ok_symbol", lit(10) * col("n_symbols") <= col("n_words"))
      .withColumn("ok_alpha", lit(5) * col("n_alpha") >= lit(4) * col("n_words"))
      .withColumn("ok_bullet", lit(10) * col("n_bullet") <= lit(9) * col("n_lines"))
      .withColumn("ok_ellipsis", lit(10) * col("n_ell") <= lit(3) * col("n_lines"))
      .withColumn("gopher_keep",
        col("ok_words") && col("ok_mean_len") && col("ok_symbol") &&
          col("ok_alpha") && col("ok_bullet") && col("ok_ellipsis"))

  /** The same rule counts in DuckDB over a raw text reference — CTE body
    * producing (doc_id, n_words, n_chars, n_symbols, n_alpha, n_lines,
    * n_bullet, n_ell) from `documents`. */
  private[ops] def gopherCountsSql: String =
    """SELECT doc_id, source, text,
         len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
         len(replace(text, ' ', '')) AS n_chars,
         (len(text) - len(replace(text, '#', '')))
           + (len(text) - len(replace(text, '...', ''))) // 3 AS n_symbols,
         len(list_filter(string_split(text, ' '),
           t -> len(t) > 0 AND regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
           l -> starts_with(l, '-') OR starts_with(l, '*')
                OR starts_with(l, '•'))) AS n_bullet,
         len(list_filter(string_split(text, chr(10)),
           l -> ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell
       FROM documents"""

  /** The `gopher_keep` conjunction in DuckDB over the
    * [[gopherCountsSql]] columns. */
  private[ops] def gopherKeepSql: String =
    s"""(n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
         AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
         AND 10 * n_symbols <= n_words
         AND 5 * n_alpha >= 4 * n_words
         AND 10 * n_bullet <= 9 * n_lines
         AND 10 * n_ell <= 3 * n_lines)"""

  /** The pre-sort rule-matrix frame, split out (like winnowPairsAgg)
    * so PlanSpec can pin the one-scan map-side shape that the report
    * boundary's localCheckpoint otherwise truncates to an ExistingRDD. */
  private[graft] def gopherRulesFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val m = gopherCounts(T.documents(s, d)
      .select(col("doc_id"), col("text"),
        graft.functions.TextKernels.spaceTokensCol(col("text")).as("tk")))
    m.select(col("doc_id"), col("n_words"), col("n_lines"),
      r2(col("n_chars").cast("double") / greatest(col("n_words"), lit(1)))
        .as("mean_word_len"),
      r2(col("n_symbols").cast("double") / greatest(col("n_words"), lit(1)))
        .as("symbol_ratio"),
      r2(col("n_alpha").cast("double") / greatest(col("n_words"), lit(1)))
        .as("alpha_ratio"),
      r2(col("n_bullet").cast("double") / col("n_lines")).as("bullet_ratio"),
      r2(col("n_ell").cast("double") / col("n_lines")).as("ellipsis_ratio"),
      col("ok_words"), col("ok_mean_len"), col("ok_symbol"),
      col("ok_alpha"), col("ok_bullet"), col("ok_ellipsis"),
      col("gopher_keep").as("keep"))
  }

  /** The declared rule-matrix query: every Gopher rule's inputs and
    * verdict per document, plus the conjunction — what a curation run
    * logs per doc before cutting. Filters-as-data: downstream stages
    * consume `keep`, dashboards consume the per-rule columns. */
  val qTextGopherRules = Q(
    "q_text_gopher_rules",
    (s, d) => gopherRulesFrame(s, d).sortedOnce("doc_id"),
    Some(s"""WITH m AS ($gopherCountsSql)
         SELECT doc_id, CAST(n_words AS INT) AS n_words,
                CAST(n_lines AS INT) AS n_lines,
                ${sqlR2("CAST(n_chars AS DOUBLE) / greatest(n_words, 1)")}
                  AS mean_word_len,
                ${sqlR2("CAST(n_symbols AS DOUBLE) / greatest(n_words, 1)")}
                  AS symbol_ratio,
                ${sqlR2("CAST(n_alpha AS DOUBLE) / greatest(n_words, 1)")}
                  AS alpha_ratio,
                ${sqlR2("CAST(n_bullet AS DOUBLE) / n_lines")} AS bullet_ratio,
                ${sqlR2("CAST(n_ell AS DOUBLE) / n_lines")} AS ellipsis_ratio,
                n_words >= $GopherMinWords AND n_words <= $GopherMaxWords
                  AS ok_words,
                3 * n_words <= n_chars AND n_chars <= 10 * n_words
                  AS ok_mean_len,
                10 * n_symbols <= n_words AS ok_symbol,
                5 * n_alpha >= 4 * n_words AS ok_alpha,
                10 * n_bullet <= 9 * n_lines AS ok_bullet,
                10 * n_ell <= 3 * n_lines AS ok_ellipsis,
                $gopherKeepSql AS keep
         FROM m ORDER BY doc_id"""))

  /** The curation FUNNEL — the whole pipeline's survival report, per
    * source: documents in → after fingerprint dedup (min-doc_id owner
    * per md5 of the first-8-token prefix — the SAME fingerprint rule as
    * [[Dedup.qDedupIncremental]]; raw-text md5 would be vacuous at
    * sf0.01, which has zero byte-identical documents, while the prefix
    * fingerprint catches the fixture's planted shared openings — run
    * FIRST, on the full corpus) →
    * after the Gopher rule matrix ([[gopherCounts]]'s `gopher_keep` —
    * the heuristic-filter stage, same spelling as
    * [[qTextGopherRules]]) →
    * after the classifier filter ([[qTextQualityClassifier]]'s
    * score ≥ 0) → after exact-substring span dedup
    * ([[Dedup.substringDedup]] on the quality survivors), with the
    * end-to-end keep percentage. This is the dashboard row a curation
    * run publishes; every stage reuses the exact spelling of its
    * standalone operator, so the funnel is also an integration proof
    * that the stages compose.
    *
    * Scale: one corpus pass computes the quality flag map-side; the
    * exact-dedup flag is one window keyed on md5(text) — the 128-bit
    * hash shuffles, never bodies; the span stage reuses
    * [[Dedup.substringDedup]]'s bounded shape on the (smaller) survivor
    * set; the report is one conditional aggregation on the
    * low-cardinality source key. */
  val qCurationFunnel = Q(
    "q_curation_funnel",
    (s, d) => {
      val flagged = T.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          graft.functions.TextKernels.spaceTokensCol(col("text")).as("tk"))
        .withColumn("ok_exact",
          row_number().over(Window.partitionBy(
            md5(concat_ws(" ", slice(col("tk"), 1, 8)).cast("binary")))
            .orderBy(col("doc_id"))) === 1)
      // The staged frame is read from BOTH sides of the final join and
      // three more times inside substringDedup (id projection + the
      // spans frame's two consumers) — without a persist the whole
      // scan → exact-dedup window → gopher → quality chain recomputes
      // per consumer, which is exactly the creeping cost the r10/r11
      // closes measured (2.24 → 3.15 s; VERDICT r11 §3). Pay the chain
      // once; every consumer reads the cached stage (evicted by the
      // bench's per-query clearCaches like every other persisted base).
      val ranked = gopherCounts(flagged)
        .withColumn("ok_gopher", col("ok_exact") && col("gopher_keep"))
        .withColumn("ok_quality",
          col("ok_gopher") && qualityScoreExpr >= 0L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = Dedup.substringDedup(
        ranked.filter(col("ok_quality")).select("doc_id", "text"),
        "doc_id", "text", Dedup.SubstrSpanTokens)
        .select(col("doc_id"), col("keep_full"))
      ranked.join(span, Seq("doc_id"), "left")
        .withColumn("ok_span",
          col("ok_quality") && coalesce(col("keep_full"), lit(true)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("ok_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("ok_gopher"), 1L).otherwise(0L)).as("n_gopher"),
          sum(when(col("ok_quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("ok_span"), 1L).otherwise(0L)).as("n_span"))
        .select(col("source"), col("n_in"), col("n_exact"),
          col("n_gopher"), col("n_quality"), col("n_span"),
          r2(lit(100.0) * col("n_span") / col("n_in")).as("pct_kept"))
        .orderBy("source")
    },
    Some {
      val n = Dedup.SubstrSpanTokens
      s"""WITH ex AS (SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY md5(array_to_string(
                   (list_filter(string_split(text, ' '),
                     t -> len(t) > 0))[1:8], ' '))
                 ORDER BY doc_id) = 1 AS oke
             FROM documents),
           gc AS ($gopherCountsSql),
           fl AS (SELECT e.doc_id, e.source, e.oke,
               e.oke AND $gopherKeepSql AS okg,
               e.oke AND $gopherKeepSql
                 AND ${qualityScoreSql("e.text")} >= 0 AS okq
             FROM ex e JOIN gc USING (doc_id)),
           tk2 AS (SELECT e.doc_id, string_split(e.text, ' ') AS tk
                   FROM ex e JOIN fl USING (doc_id) WHERE fl.okq),
           sp AS (SELECT DISTINCT doc_id, unnest(list_transform(
                    range(1, len(tk) - ${n - 1} + 1),
                    i -> md5(array_to_string(tk[i:i+${n - 1}], ' ')))) AS g
                  FROM tk2 WHERE len(tk) >= $n),
           own AS (SELECT g, min(doc_id) AS owner FROM sp
                   GROUP BY g HAVING count(*) > 1),
           cut AS (SELECT s.doc_id,
                     max(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                       AS has_cut
                   FROM sp s LEFT JOIN own o USING (g) GROUP BY s.doc_id),
           flag AS (SELECT f.source, f.oke, f.okg, f.okq,
                      f.okq AND coalesce(c.has_cut, 0) = 0 AS oks
                    FROM fl f LEFT JOIN cut c USING (doc_id))
         SELECT source, count(*) AS n_in,
                CAST(sum(CASE WHEN oke THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_exact,
                CAST(sum(CASE WHEN okg THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_gopher,
                CAST(sum(CASE WHEN okq THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_quality,
                CAST(sum(CASE WHEN oks THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_span,
                ${sqlR2("""100.0 * sum(CASE WHEN oks THEN 1 ELSE 0 END)
                  / count(*)""")} AS pct_kept
         FROM flag GROUP BY source ORDER BY source"""
    })

  /** Flat integer penalty (bits) for a bigram the train split never
    * saw — the stupid-backoff discount quantized to the bit grid. */
  val BackoffBits = 4L

  /** Every [[ModelDocStride]]-th train-split doc feeds the bigram LM —
    * the CCNet asymmetry (the clean LM corpus is orders of magnitude
    * smaller than what it scores; Wikipedia vs CommonCrawl). On this
    * fixture the stride is also what makes backoff REAL: the synthetic
    * vocabulary is so small that the full train split covers every
    * bigram in the corpus (0 backoffs measured), while the strided
    * model leaves ~24% of positions train-unseen. */
  val ModelDocStride = 17L

  /** Bigram-LM surprisal with held-out backoff — the KenLM-shaped
    * upgrade of [[qTextSurprisal]], and the honest CCNet shape: the LM
    * is estimated on a SMALL clean subcorpus (every [[ModelDocStride]]-th
    * train-split doc of the md5 split in [[Corpus.splitDocs]]) and
    * scores EVERY document, so scored text genuinely contains unseen
    * bigrams and the backoff path carries real traffic (self-scored
    * corpora never back off — every observed bigram is in its own
    * counts). Per token: conditional surprisal
    * `bitlength(cnt1(prev) div cnt2(prev, cur))` when the train split
    * saw the bigram; otherwise [[BackoffBits]] + the add-one-smoothed
    * unigram bits `bitlength((T+1) div (cnt1(cur)+1))` (first tokens
    * pay plain unigram bits, no penalty). All integer space — the
    * [[qTextSurprisal]] determinism cure — so the oracle is exact.
    * Output per doc adds `n_backoff`, the count of train-unseen
    * bigrams: a novelty-vs-train signal in its own right.
    *
    * Scale shape: positions come from one posexplode with the previous
    * token read from the SAME row's array (`get(tk, pos-1)` — no
    * self-join, no per-doc window); the model frames are aggregations
    * of the model slice: unigram counts are vocabulary-bounded, but
    * bigram counts hold every distinct bigram of the slice, which on
    * natural text grows with the corpus (SCALE.md has the measured
    * size and its broadcast ceiling); scoring is three equi-joins keyed
    * on those frames plus one broadcast scalar, then the per-doc sum. */
  val qTextSurprisalBigram = Q(
    "q_text_surprisal_bigram",
    (s, d) => {
      val toks = Corpus.splitDocs(s, d)
        .select(col("doc_id"), col("split"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("split"), col("tk"),
          posexplode(col("tk")))
        .select(col("doc_id"), col("split"), col("col").as("tok"),
          get(col("tk"), col("pos") - 1).as("prev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model = toks.filter(col("split") === "train" &&
        col("doc_id") % ModelDocStride === 0)
      val cnt1 = model.groupBy("tok").agg(count(lit(1)).as("c1"))
      val t1 = cnt1.agg(sum("c1").as("t"))
      val cnt2 = model.filter(col("prev").isNotNull)
        .groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
      val bitlen: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => length(bin(c)).cast("long")
      // The three model joins broadcast EXPLICITLY (r19, guide §3.1):
      // the model frames are deliberately small — the CCNet asymmetry,
      // a strided slice of the train split — while the probe side is
      // the corpus-sized exploded token frame. Only cnt1 is
      // vocabulary-bounded: cnt2's distinct bigrams grow with the slice,
      // so its broadcast has a corpus-size ceiling (SCALE.md). Left to
      // size estimates the planner can flip these to sort-merge at
      // scale, shuffling every token three times for a model that fits
      // in memory by construction. (A model past the broadcast cap
      // means the stride is mis-set, not that these joins should
      // shuffle.)
      toks
        .join(broadcast(cnt1.toDF("prev", "c1prev")), Seq("prev"), "left")
        .join(broadcast(cnt2), Seq("prev", "tok"), "left")
        .join(broadcast(cnt1.toDF("tok", "c1cur")), Seq("tok"), "left")
        .crossJoin(broadcast(t1))
        .withColumn("ub",
          bitlen(expr("(t + 1) div (coalesce(c1cur, 0L) + 1)")))
        .withColumn("bits",
          when(col("c2").isNotNull, bitlen(expr("c1prev div c2")))
            .when(col("prev").isNull, col("ub"))
            .otherwise(lit(BackoffBits) + col("ub")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("bits").as("bits_sum"),
          sum(when(col("prev").isNotNull && col("c2").isNull, 1L)
            .otherwise(0L)).as("n_backoff"))
        .select(col("doc_id"), col("n_tok"), col("bits_sum"),
          col("n_backoff"),
          r2(col("bits_sum").cast("double") / col("n_tok")).as("mean_bits"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sp AS (SELECT doc_id, text, ${Corpus.splitSql} AS split
                         FROM documents),
             tkc AS (SELECT doc_id, split, string_split(text, ' ') AS tk
                     FROM sp),
             toks AS (SELECT doc_id, split, unnest(tk) AS tok,
                        unnest(list_concat([CAST(NULL AS VARCHAR)],
                          tk[1:len(tk)-1])) AS prev
                      FROM tkc),
             c1 AS (SELECT tok, count(*) AS c1 FROM toks
                    WHERE split = 'train' AND doc_id % $ModelDocStride = 0
                    GROUP BY tok),
             t1 AS (SELECT CAST(sum(c1) AS BIGINT) AS t FROM c1),
             c2 AS (SELECT prev, tok, count(*) AS c2 FROM toks
                    WHERE split = 'train' AND doc_id % $ModelDocStride = 0
                      AND prev IS NOT NULL
                    GROUP BY prev, tok),
             scrd AS (SELECT s.doc_id, s.prev, c2.c2,
                        CAST(length(printf('%b',
                          (t1.t + 1) // (coalesce(cc.c1, 0) + 1)))
                          AS BIGINT) AS ub,
                        CASE WHEN c2.c2 IS NOT NULL THEN
                               CAST(length(printf('%b', cp.c1 // c2.c2))
                                 AS BIGINT)
                             WHEN s.prev IS NULL THEN
                               CAST(length(printf('%b',
                                 (t1.t + 1) // (coalesce(cc.c1, 0) + 1)))
                                 AS BIGINT)
                             ELSE $BackoffBits +
                               CAST(length(printf('%b',
                                 (t1.t + 1) // (coalesce(cc.c1, 0) + 1)))
                                 AS BIGINT) END AS bits
                      FROM toks s
                      LEFT JOIN c2 ON c2.prev = s.prev AND c2.tok = s.tok
                      LEFT JOIN c1 cp ON cp.tok = s.prev
                      LEFT JOIN c1 cc ON cc.tok = s.tok
                      CROSS JOIN t1)
           SELECT doc_id, count(*) AS n_tok,
                  CAST(sum(bits) AS BIGINT) AS bits_sum,
                  CAST(sum(CASE WHEN prev IS NOT NULL AND c2 IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
                  ${sqlR2("CAST(sum(bits) AS BIGINT)::DOUBLE / count(*)")}
                    AS mean_bits
           FROM scrd GROUP BY doc_id ORDER BY doc_id"""))

  /** Decile threshold above which [[qTextQualityCalibrated]] keeps a
    * document — top 30% by classifier score. */
  val CalibKeepDecile = 7L

  /** Quality-score CALIBRATION — the step between scoring and
    * filtering: classifier scores are only ordinal, so production
    * pipelines cut at a score PERCENTILE, not a magic constant
    * (CCNet's perplexity terciles are this exact shape). Per score
    * decile: document count and the score range it spans, plus the
    * keep verdict for a top-30% cut.
    *
    * The scale-critical part is HOW the deciles are computed: a global
    * ntile/percent_rank would total-order the corpus through one
    * window task. Instead the corpus collapses to a (score, n)
    * FREQUENCY frame (integer scores — one partial-aggregated shuffle,
    * cardinality bounded by the score range, not the corpus), and the
    * decile boundaries come from a running sum over THAT frame — the
    * mixWeights small-frame-window discipline. Ties share a decile by
    * construction (same score ⇒ same row of the frequency frame), so
    * the assignment is deterministic on any engine and any
    * partitioning, which an ntile over equal scores is not. */
  val qTextQualityCalibrated = Q(
    "q_text_quality_calibrated",
    (s, d) => {
      val sc = T.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextKernels.spaceTokensCol(col("text")).as("tk"))
        .select(qualityScoreExpr.as("score"))
      val fr = sc.groupBy("score").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(lit(1)).orderBy("score")
      val cu = fr.select(col("score"), col("n"),
        coalesce(sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("cb"),
        sum("n").over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("tt"))
      cu.withColumn("decile", expr("(cb * 10) div tt"))
        .groupBy("decile")
        .agg(sum("n").as("n_docs"),
          min("score").as("lo_score"), max("score").as("hi_score"))
        .select(col("decile"), col("n_docs"), col("lo_score"),
          col("hi_score"), (col("decile") >= CalibKeepDecile).as("keep"))
        .orderBy("decile")
    },
    Some(s"""WITH sc AS (SELECT doc_id, ${qualityScoreSql("text")} AS score
                         FROM documents),
             fr AS (SELECT score, count(*) AS n FROM sc GROUP BY score),
             cu AS (SELECT score, n,
                      CAST(coalesce(sum(n) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS cb,
                      CAST(sum(n) OVER () AS BIGINT) AS tt
                    FROM fr),
             dz AS (SELECT score, n, (cb * 10) // tt AS decile FROM cu)
           SELECT CAST(decile AS BIGINT) AS decile,
                  CAST(sum(n) AS BIGINT) AS n_docs,
                  min(score) AS lo_score, max(score) AS hi_score,
                  CAST(decile AS BIGINT) >= $CalibKeepDecile AS keep
           FROM dz GROUP BY decile ORDER BY decile"""))

  /** Phase count for [[qCurriculumPhases]]. */
  val CurriculumPhases = 4L

  /** Difficulty CURRICULUM — order the corpus by the surprisal score
    * (easy → hard) and split it into [[CurriculumPhases]] phases of
    * equal TOKEN mass (training budgets are token budgets, not doc
    * counts). Per phase: docs, tokens, and the difficulty range it
    * spans — the schedule a curriculum-learning run feeds its sampler.
    *
    * Same small-frame-window discipline as [[qTextQualityCalibrated]]:
    * docs collapse to a (mean_bits, n_docs, n_tokens) frame keyed on
    * the 2dp Det-grid score (identical bit patterns in both engines, so
    * grouping is exact), the running token sum lives on that bounded
    * frame, and phase = floor(cum_before·k / total) — ties share a
    * phase. The corpus is never totally ordered. */
  val qCurriculumPhases = Q(
    "q_curriculum_phases",
    (s, d) => {
      val dd = surprisalFrame(s, d)
        .select(col("doc_id"), col("n_tok"), col("mean_bits").as("mb"))
      val fr = dd.groupBy("mb")
        .agg(count(lit(1)).as("nd"), sum("n_tok").as("nt"))
      val w = Window.partitionBy(lit(1)).orderBy("mb")
      val cu = fr.select(col("mb"), col("nd"), col("nt"),
        coalesce(sum("nt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("cb"),
        sum("nt").over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("tt"))
      cu.withColumn("phase", expr(s"(cb * $CurriculumPhases) div tt"))
        .groupBy("phase")
        .agg(sum("nd").as("n_docs"), sum("nt").as("n_tokens"),
          min("mb").as("lo_bits"), max("mb").as("hi_bits"))
        .orderBy("phase")
    },
    Some(s"""WITH $surprisalSqlCte,
             fr AS (SELECT mb, count(*) AS nd,
                      CAST(sum(n_tok) AS BIGINT) AS nt
                    FROM dd GROUP BY mb),
             cu AS (SELECT mb, nd, nt,
                      CAST(coalesce(sum(nt) OVER (ORDER BY mb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS cb,
                      CAST(sum(nt) OVER () AS BIGINT) AS tt
                    FROM fr)
           SELECT CAST((cb * $CurriculumPhases) // tt AS BIGINT) AS phase,
                  CAST(sum(nd) AS BIGINT) AS n_docs,
                  CAST(sum(nt) AS BIGINT) AS n_tokens,
                  min(mb) AS lo_bits, max(mb) AS hi_bits
           FROM cu GROUP BY 1 ORDER BY phase"""))

  /** Hashed-feature bucket count for [[qDsirWeights]] — 256 buckets keyed
    * by the first two md5 hex chars of the feature string, so the bucket
    * id is engine-portable with no hex-to-int conversion anywhere. */
  val DsirBuckets = 256

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed n-gram features are under a
    * TARGET domain's feature distribution than under the RAW corpus's.
    * Here the target is `source = 'src0'` (standing in for the curated
    * domain a pipeline would upsample toward) and the features are word
    * unigrams + bigrams hashed into [[DsirBuckets]] buckets.
    *
    * Determinism: true DSIR weight is Σ log(p_tgt(f)/p_raw(f)) — float
    * `ln` in data-dependent order, which the gate can't certify (the
    * surprisal query documents the 1-ulp ln divergence). Same cure as
    * there: each bucket scores its INTEGER surprisal
    * `bitlength(total_smoothed div cnt_smoothed)` — a quantized −log2 p
    * with add-one smoothing computed in exact integer space — and the
    * document weight is Σ (bits_raw − bits_tgt): positive = the
    * document's features are cheaper to encode under the target model =
    * more target-like. `target_like` flags the log-ratio > 0 documents
    * (the principled keep-set; a budgeted pipeline would instead feed
    * `w_bits` to the packing/topk machinery).
    *
    * Scale shape: the feature stream is one map-side pass (split +
    * zip_with bigrams + explode + 2-hex-char md5 bucket); BOTH count
    * frames collapse to ≤ 256 rows (partial-aggregated shuffle keyed on
    * the bucket — target counts are a conditional sum on the same pass,
    * so the corpus is scanned ONCE for both distributions); the 256-row
    * weight table broadcasts back onto the feature stream and the only
    * corpus-sized shuffle is the per-doc sum keyed on doc_id. At 100 TB
    * nothing driver-side grows: the model IS the 256-row frame. */
  def dsirWeights(rows: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      targetPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    // Two consumers (bucket counts + scoring) — persist the compact
    // per-doc bucket ARRAYS (one fused DsirFeatureBuckets pass: one
    // incremental md5 per feature, no interpreted lambdas) so the hash
    // work runs once; the exploded rows are corpus-sized and
    // deliberately not cached. Evicted by [[graft.Graft.clearCaches]].
    val bucketArrays = rows
      .select(col(idCol), targetPred.as("is_tgt"),
        graft.functions.DsirFeatureBuckets.buckets(col(textCol)).as("bs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val feats = bucketArrays
      .select(col(idCol), col("is_tgt"), explode(col("bs")).as("b"))
    val counts = feats.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(
      sum("cr").as("nr"), sum("ct").as("nt"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        (length(bin(expr(s"(nr + $DsirBuckets) div (cr + 1)")))
          .cast("long")
          - length(bin(expr(s"(nt + $DsirBuckets) div (ct + 1)")))
              .cast("long")).as("dw"))
    feats.join(broadcast(model), "b")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feat"), sum("dw").as("w_bits"))
      .select(col(idCol), col("n_feat"), col("w_bits"),
        (col("w_bits") > 0).as("target_like"))
  }

  val qDsirWeights = Q(
    "q_dsir_weights",
    (s, d) =>
      dsirWeights(T.documents(s, d), "doc_id", "text",
        col("source") === "src0")
        .orderBy("doc_id"),
    Some(s"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                         FROM documents),
             feats AS (SELECT doc_id, source,
                         substring(md5(f), 1, 2) AS b
                       FROM (SELECT doc_id, source,
                               unnest(tk || list_transform(
                                 range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i+1])) AS f
                             FROM tk)),
             counts AS (SELECT b, count(*) AS cr,
                          CAST(sum(CASE WHEN source = 'src0'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS ct
                        FROM feats GROUP BY b),
             tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                            CAST(sum(ct) AS BIGINT) AS nt FROM counts),
             model AS (SELECT b,
                         CAST(length(printf('%b',
                             (nr + $DsirBuckets) // (cr + 1))) AS BIGINT)
                       - CAST(length(printf('%b',
                             (nt + $DsirBuckets) // (ct + 1))) AS BIGINT)
                           AS dw
                       FROM counts, tot)
           SELECT f.doc_id, count(*) AS n_feat,
                  CAST(sum(m.dw) AS BIGINT) AS w_bits,
                  CAST(sum(m.dw) AS BIGINT) > 0 AS target_like
           FROM feats f JOIN model m USING (b)
           GROUP BY f.doc_id ORDER BY f.doc_id"""))

  val all: Seq[Q] = Seq(qProfileTable, qDeletionAudit,
    qTextRepetition, qSampleHash, qSampleStratified, qAggHeavyHitters,
    qTextPiiScrub, qSampleSplit, qAggHeavyHittersSketch, qTextSurprisal,
    qTextQualityClassifier, qTextGopherRules, qCurationFunnel,
    qDsirWeights, qTextQualityCalibrated, qCurriculumPhases,
    qTextSurprisalBigram)
}
