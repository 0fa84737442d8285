package graft.ops

import graft.{Q, Tables => T}
import graft.util.Det._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Report.SortedOnce

/** Text-analysis surface over the `documents` table: tokenization, token
  * statistics, quality scoring, language heuristic, fingerprinting.
  * All pure built-in expressions (codegen'd), no UDFs.
  */
object TextOps {

  /** Most frequent English character trigrams (public knowledge). */
  val EnTrigrams: Seq[String] = Seq(
    "the", "he ", " th", "ing", "and", "nd ", " an", "ed ", " of",
    "of ", " in", "ng ", "er ", "as ", " a ", "at ", " to", "to ")

  /** Tokenize -> explode (Generator) -> token frequencies. */
  val qArrayExplode = Q(
    "q_array_explode",
    (s, d) =>
      T.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy("token"),
    Some("""SELECT token, count(*) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS token FROM documents)
           WHERE token <> '' GROUP BY token ORDER BY token"""))

  /** Per-document token counting + quality ratios (length, mean token
    * length, stopword ratio) — the quality-scoring building block. */
  val qTextStats = Q(
    "q_text_stats",
    (s, d) =>
      T.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          col("lang"),
          size(col("toks")).as("n_tokens"),
          length(col("text")).as("len"),
          r2(length(col("text")).cast("double") / size(col("toks")))
            .as("avg_tok_len"),
          r2(graft.functions.TextKernels.countTokensInCol(col("toks"),
              Seq("the", "a", "of", "and", "in"))
            .cast("double") / size(col("toks"))).as("stop_ratio"))
        .sortedOnce("doc_id"),
    Some(s"""SELECT doc_id, lang,
            CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
            CAST(length(text) AS INT) AS len,
            ${sqlR2("""CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' '))""")} AS avg_tok_len,
            ${sqlR2("""CAST(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
                 / len(string_split(text, ' '))""")} AS stop_ratio
            FROM documents ORDER BY doc_id"""))

  /** Corpus token statistics per source: docs, tokens, vocabulary. */
  val qTextTokens = Q(
    "q_text_tokens",
    (s, d) =>
      T.documents(s, d)
        .select(col("source"), col("doc_id"),
                explode(split(col("text"), " ")).as("tok"))
        .groupBy("source")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_vocab"))
        .orderBy("source"),
    Some("""SELECT source, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab FROM (
             SELECT source, doc_id,
                    unnest(string_split(text, ' ')) AS tok FROM documents)
           GROUP BY source ORDER BY source"""))

  /** Content fingerprint: md5 over the sorted distinct token set — robust
    * to word order, the cheap document-identity hash for dedup pipelines. */
  val qTextFingerprint = Q(
    "q_text_fingerprint",
    (s, d) => {
      val fp = md5(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " ")))))
      T.documents(s, d).select(col("doc_id"), fp.as("fp"))
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
        .select("doc_id", "fp", "n_same")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, fp, n_same FROM (
             SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
             FROM (SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fp
                   FROM documents))
           ORDER BY doc_id"""))

  /** Deterministic language-ID heuristic (stopword-profile scoring). The
    * synthetic corpus is uniform word soup, so the discriminating power is
    * nil by construction — what is under test is the scoring plumbing. */
  val qTextLanguage = Q(
    "q_text_language",
    (s, d) =>
      T.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          when(graft.functions.TextKernels.countTokensInCol(col("toks"), Seq("the", "a", "of"))
                 .cast("double") / size(col("toks")) >= 0.03, "en")
            .otherwise("other").as("pred_lang"))
        .sortedOnce("doc_id"),
    Some("""SELECT doc_id,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('the', 'a', 'of'))) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.03
                THEN 'en' ELSE 'other' END AS pred_lang
           FROM documents ORDER BY doc_id"""))

  /** Character-trigram language heuristic — the n-gram route: score a
    * doc by the share of its char trigrams found in a tiny English
    * profile (the most frequent English trigrams, a public-knowledge
    * list). Same trigram extraction spelled in both dialects. */
  val qTextLanguageNgram = Q(
    "q_text_language_ngram",
    (s, d) => {
      val profile = TextOps.EnTrigrams.map(t => s"'$t'").mkString(", ")
      T.documents(s, d)
        .withColumn("tp", graft.functions.TextKernels.trigramProfileCol(col("text"), EnTrigrams))
        .select(
          col("doc_id"),
          when(col("tp.hits")
                 .cast("double") / col("tp.grams") >= 0.04, "en")
            .otherwise("other").as("pred_lang"))
        .sortedOnce("doc_id")
    },
    Some {
      val profile = TextOps.EnTrigrams.map(t => s"'$t'").mkString(", ")
      s"""SELECT doc_id,
         CASE WHEN CAST(len(list_filter(
                     list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                                    i -> substring(text, i, 3)),
                     g -> g IN ($profile))) AS DOUBLE)
                   / len(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                                        i -> substring(text, i, 3))) >= 0.04
              THEN 'en' ELSE 'other' END AS pred_lang
         FROM documents ORDER BY doc_id"""
    })

  /** BPE-ish regex tokenization: letter runs, digit runs, single
    * punctuation — the pre-merge alphabet a byte-pair tokenizer starts
    * from. Pattern uses only constructs Java regex and RE2 (DuckDB) read
    * identically. */
  val qTextTokensRegex = Q(
    "q_text_tokens_regex",
    (s, d) => {
      val toks = regexp_extract_all(
        lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
      T.documents(s, d)
        .select(
          col("doc_id"),
          size(toks).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_bpe_vocab"))
        .sortedOnce("doc_id")
    },
    Some("""SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INT)
             AS n_bpe_vocab
           FROM documents ORDER BY doc_id"""))

  /** Pre-sort BPE-count frame, split out so PlanSpec can pin the
    * one-scan map-side shape the report boundary's localCheckpoint
    * otherwise truncates to an ExistingRDD. */
  private[graft] def tokensBpeFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val toks = graft.functions.BpeEncode.encode(col("text"))
    T.documents(s, d)
      .select(col("doc_id"), toks.as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_vocab"),
        md5(concat_ws("|", col("tk")).cast("binary")).as("toks_sig"))
  }

  /** Subword token counts via the [[graft.functions.BpeEncode]] codegen
    * expression — the token budget a real training pipeline plans with
    * (whitespace and regex counts under-count morphology; subword merges
    * are what tokenizers actually do). `toks_sig` pins the exact token
    * SEQUENCE, not just counts: the DuckDB oracle replays the identical
    * merge table as a chain of delimiter-guarded `replace` calls
    * (`BpeEncode.oracleEncodeSql`), so any divergence in merge order,
    * overlap handling, or word splitting hash-mismatches at the gate.
    * One map-side pass, no shuffle except the output sort. */
  val qTextTokensBpe = Q(
    "q_text_tokens_bpe",
    (s, d) => tokensBpeFrame(s, d).sortedOnce("doc_id"),
    Some {
      val chain = graft.functions.BpeEncode.oracleEncodeSql("w")
      s"""WITH e AS (SELECT doc_id,
                flatten(list_transform(
                  list_filter(string_split(text, ' '), w -> len(w) > 0),
                  w -> string_split(trim($chain, '|'), '||'))) AS tk
              FROM documents)
         SELECT doc_id,
                CAST(len(tk) AS INT) AS n_tokens,
                CAST(len(list_distinct(tk)) AS INT) AS n_vocab,
                md5(array_to_string(tk, '|')) AS toks_sig
         FROM e ORDER BY doc_id"""
    })

  /** Tokenizer fertility by domain — the metric a tokenizer is JUDGED
    * by after training ([[graft.ops.Corpus.qBpeLearn]] is the trainer):
    * subword tokens per word and per 100 characters, per source. High
    * fertility on a domain means its text fragments into many subwords
    * — under-represented in the merge table, over-billed in the token
    * budget. One map-side encode pass feeding a two-phase aggregation
    * on the (low-cardinality) source key; ratios Det-rounded. */
  val qTextFertility = Q(
    "q_text_fertility",
    (s, d) => {
      import graft.util.Det.r2
      val toks = graft.functions.BpeEncode.encode(col("text"))
      T.documents(s, d)
        .select(col("source"),
          size(toks).cast("long").as("nb"),
          size(graft.functions.TextKernels.spaceTokensCol(col("text")))
            .cast("long").as("nw"),
          length(col("text")).cast("long").as("nc"))
        .groupBy("source")
        .agg(sum("nb").as("n_bpe"), sum("nw").as("n_words"),
          sum("nc").as("n_chars"))
        .select(col("source"), col("n_bpe"), col("n_words"),
          // greatest(_, 1): a source of all-empty texts would make these
          // 0/0 — NaN compares engine-divergently; with the guard the
          // numerator is also 0 there and the ratio is an honest 0
          r2(col("n_bpe").cast("double") / greatest(col("n_words"), lit(1L)))
            .as("tok_per_word"),
          r2(col("n_bpe").cast("double") * 100.0
              / greatest(col("n_chars"), lit(1L)))
            .as("tok_per_100c"))
        .orderBy("source")
    },
    Some {
      val chain = graft.functions.BpeEncode.oracleEncodeSql("w")
      import graft.util.Det.sqlR2
      s"""WITH e AS (SELECT source,
               len(flatten(list_transform(
                 list_filter(string_split(text, ' '), w -> len(w) > 0),
                 w -> string_split(trim($chain, '|'), '||')))) AS nb,
               len(list_filter(string_split(text, ' '), w -> len(w) > 0))
                 AS nw,
               length(text) AS nc
             FROM documents),
           a AS (SELECT source, CAST(sum(nb) AS BIGINT) AS n_bpe,
                   CAST(sum(nw) AS BIGINT) AS n_words,
                   CAST(sum(nc) AS BIGINT) AS n_chars
                 FROM e GROUP BY source)
         SELECT source, n_bpe, n_words,
                ${sqlR2("CAST(n_bpe AS DOUBLE) / greatest(n_words, 1)")} AS tok_per_word,
                ${sqlR2("CAST(n_bpe AS DOUBLE) * 100.0 / greatest(n_chars, 1)")}
                  AS tok_per_100c
         FROM a ORDER BY source"""
    })

  /** Winnowed rolling-hash near-dup candidates: explode each document's
    * fingerprint set ([[graft.functions.Winnow]]), group the postings by
    * fingerprint, emit each group's C(df, 2) doc pairs and keep pairs
    * sharing >= 10 fingerprints — the same linear posting-list shape as
    * minhash banding, but edit-position-robust. ScaleGuardSpec pins the
    * rows against a plain-Scala reference; the DuckDB oracle replays the
    * hash itself.
    *
    * This is the aggregated (a, b, n_shared >= 10) pair frame BEFORE the
    * report checkpoint/sort — split out so specs (and `graft.Explain
    * winnow_pairs_agg`) can see the pair-stage plan, which the
    * localCheckpoint in [[winnowPairs]] truncates to a Scan ExistingRDD.
    * `maxDf` and `pairTarget` are exposed for tests; the declared query
    * runs at [[Dedup.MaxPostingDf]] and the default budget. */
  private[graft] def winnowPairsAgg(s: org.apache.spark.sql.SparkSession,
      d: String, maxDf: Int,
      pairTarget: Long = Dedup.PairStageTargetRawPerTask)
      : org.apache.spark.sql.DataFrame = {
    val fpAll = T.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.fingerprints(col("text"))).as("fp"))
    // Df guard (same rationale as Dedup.pairsFromGroups): a fingerprint
    // shared by more than maxDf documents is noise, not signal, and its
    // pair expansion is quadratic. The count partial-aggregates
    // map-side; the hot set is tiny by definition (stopword keys).
    //
    // The census feeds TWO consumers (VERDICT r17 #1): the hot-key cap
    // and the pair-stage provision bound. r19 rework (guide §1.2 —
    // sf0.1 lost ~0.7 s to serial driver round trips): BOTH ride ONE
    // aggregation row — the raw-pair sum over cold keys and the
    // collect_list of hot keys — so the census shuffle runs once with
    // no localCheckpoint block traffic, no second steering job, and no
    // broadcast-exchange build; the hot set returns to the driver in
    // the same action that was already collecting the provisioning
    // bound (tiny by the stopword argument). The cap then applies as a
    // map-side InSet filter on the re-exploded postings instead of an
    // anti-join.
    //
    // EXACT raw pair cardinality of the df-capped pair stage: per-doc
    // fingerprints are distinct (winnow min-selection dedupes), so the
    // grouped emission yields exactly C(df, 2) pairs per retained
    // fingerprint. The same action also fetches the doc-id extent (a
    // pruned one-column scan of documents, far cheaper than the
    // fingerprint explode) so the pair stage can decide the packed-key
    // spelling without another driver round trip: both 1-row aggs ride
    // one crossJoin.
    val steer = fpAll.groupBy("fp").agg(count(lit(1)).as("graft_df"))
      .agg(
        coalesce(sum(when(col("graft_df") <= maxDf,
          (col("graft_df") * (col("graft_df") - 1) / 2).cast("long"))),
          lit(0L)).as("raw_pairs"),
        collect_list(when(col("graft_df") > maxDf, col("fp"))).as("hot_fps"))
      .crossJoin(T.documents(s, d)
        .agg(min(col("doc_id")).as("id_min"), max(col("doc_id")).as("id_max")))
      .head
    val rawPairs = steer.getLong(0)
    val hotFps = steer.getSeq[Long](1)
    // Packed-key guard: (a << 32) | b is a bijection on pairs iff every
    // doc_id sits in [0, 2^31) — true for every fixture and any corpus
    // below two billion documents; an id space past that takes the
    // struct-pair fallback below, same rows.
    val packable = !steer.isNullAt(2) && steer.getLong(2) >= 0L &&
      steer.getLong(3) < (1L << 31)
    val sessionParts = s.sessionState.conf.numShufflePartitions
    val parts = Dedup.pairStageParts(rawPairs, sessionParts, pairTarget)
    // Aggregation-stage width from the same census bound, at its own
    // (smaller) budget: an agg task holds a hash map over its DISTINCT
    // pairs, so raw-rows-per-task must keep that map inside a task's
    // execution-memory share — a tighter constraint than the emission
    // stage's (state-free) one.
    val aggParts = Dedup.pairStageParts(rawPairs, sessionParts,
      Dedup.PairAggTargetRawPerTask)
    // Hot-key cap as a pure map-side filter: isInCollection over >10
    // elements plans an InSet (hash-set membership, whole-stage codegen)
    // — no broadcast exchange, no join operator, same surviving rows as
    // the former anti-join (fp is never null: explode of a non-null
    // array).
    val fp0 = if (hotFps.isEmpty) fpAll
              else fpAll.filter(!col("fp").isInCollection(hotFps))
    // Pair-stage provisioning (VERDICT r17 #1, the SCALE.md r17 rule
    // moved from an env var into the engine): when the census bound
    // says the session-default stage would outrun per-task execution
    // memory (the sf20 ENOSPC regime), widen the pair-GENERATION stage
    // — repartition on fp becomes the group exchange itself, so the
    // C(df,2) emission runs at `parts` tasks while every other exchange
    // in the query keeps the session default. This is the scoped
    // reproduction of the measured-good sf20@256 global override, minus
    // its +40% whole-query dispatch tax at sf10.
    val fp = if (parts > sessionParts) fp0.repartition(parts, col("fp"))
             else fp0
    // Grouped emission (r18, guide §2.4 "remove shuffles outright" /
    // §3.1 "broadcast only what you KNOW is small"): the earlier
    // self-join spelling let the planner turn fp ⋈ fp into a
    // BroadcastHashJoin whose build side was the ENTIRE posting frame
    // (sized from the pre-Generate scan estimate, which Catalyst cannot
    // see through) — measured at sf3: a 10.7M-row broadcast relation,
    // the fingerprint explode computed twice (once per side), and
    // 1.6 µs/pair of BHJ probe + UnsafeRow-copy machinery in the
    // emission stage. The posting frame grows with the corpus, so that
    // plan hits the 8 GB broadcast hard cap long before 100 TB. One
    // groupBy(fp) of the postings (the provisioning repartition above
    // doubles as its exchange) feeds [[TextKernels.PackedPairs]], which
    // emits each list's C(df,2) pairs as one primitive long array —
    // `explode` over it stays inside whole-stage codegen, unlike the
    // CodegenFallback PairCombinations generator. The df cap bounds any
    // group's emission at C(cap,2), so a hot fingerprint's whole
    // expansion inside one task is ≤ ~500k longs — milliseconds, which
    // retires the "spread hot keys across tasks" argument the join
    // spelling was keeping alive.
    //
    // Shared-count aggregation — the query's dominant cost at scale.
    // Measured shape before r18 (sf3, per-stage task metrics): the
    // default partial+final aggregation spilled 42 GB to aggregate a
    // 2.8 GB shuffle — 14 GB in the pair stage's partial agg and 28 GB
    // in the 32-reducer final agg. The partial agg is STRUCTURALLY
    // ineffective here: the pair rows are partitioned by fp, and a
    // pair's duplicate rows (one per shared fingerprint) live in
    // different fp-partitions, so map-side merging only catches the few
    // copies that happen to share a partition (measured reduction 2.16x
    // at sf3 — the map + sort-fallback cost far exceeds the shuffle
    // bytes it saves). Two changes (guide §1.2 "fix the distributed
    // algorithm first", §2.3 "shuffle fewer bytes"):
    //
    //  1. PACK the key: with doc ids under 2^31 the (a, b) pair packs
    //     losslessly into ONE long — grouping/shuffle rows shrink
    //     24 -> 16 bytes and key hashing halves. The bijection makes
    //     groupBy(ab) produce exactly the groupBy(a, b) groups;
    //     unpacking after the >= 10 filter touches only survivors.
    //  2. Shuffle RAW pairs once, partitioned BY THE PAIR KEY, into a
    //     census-provisioned number of agg tasks: the explicit
    //     repartition on the key IS the aggregation exchange
    //     (EnsureRequirements adds none), so the emission stage carries
    //     no agg state at all — the ENOSPC regime's uncompressed
    //     sort-fallback spill is gone by construction, replaced by
    //     compressed shuffle files — and the agg runs where ALL copies
    //     of a pair meet, with per-task groups sized by the budget to
    //     fit execution memory. Measured (sf3, same session): 42 GB
    //     spill -> 0, executor time 3640 s -> ~1100 s, wall 61.6 ->
    //     ~35 s.
    if (packable)
      fp.groupBy("fp")
        .agg(collect_list(col("doc_id")).as("ds"))
        .select(explode(
          graft.functions.TextKernels.packedPairsCol(col("ds"))).as("ab"))
        .repartition(aggParts, col("ab"))
        .groupBy(col("ab"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 10)
        .select(shiftright(col("ab"), 32).as("a"),
          col("ab").bitwiseAND(lit(0xFFFFFFFFL)).as("b"),
          col("n_shared"))
    else
      // Doc ids outside [0, 2^31): the same grouped emission with an
      // (a, b) pair instead of the packed long, through the shared
      // PairCombinations generator. Per-doc fingerprints are DISTINCT,
      // so each group's doc list has no repeats and the ascending sort
      // makes every emitted pair satisfy a < b — the packed path's exact
      // pair multiset, aggregated on (a, b).
      fp.groupBy("fp")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(graft.functions.PairCombinations.pairs(col("ds")))
        .repartition(aggParts, col("a"), col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 10)
  }

  /** [[winnowPairsAgg]] plus the report boundary. Materialization
    * before the global sort (VERDICT r13 probe): orderBy's range
    * partitioner SAMPLES its child, and an unmaterialized child means
    * the whole final aggregation re-executes for the sampling job —
    * measured at sf3: the 262M shuffled partial rows were re-aggregated
    * twice (14.2 s sampling + 16.3 s real), 91.3 s total vs 57.6 s with
    * the checkpoint. localCheckpoint (not persist) so each execution
    * pays its own honest cost — no CacheManager plan-dedup across bench
    * passes — and the sort stays a PARALLEL range sort (the report
    * frame scales with the near-dup pair count, so a single-partition
    * sort is not a 100 TB shape). LAZY checkpoint (ADVICE r13): eager
    * would execute the whole job at DataFrame-construction time — a
    * semantics change for any non-bench caller composing further
    * transforms. Lazy still kills the double execution: the sampling
    * job is the first to iterate the marked RDD, which persists its
    * blocks, and the sort pass reads them. */
  private[ops] def winnowPairs(s: org.apache.spark.sql.SparkSession,
      d: String, maxDf: Int,
      pairTarget: Long = Dedup.PairStageTargetRawPerTask)
      : org.apache.spark.sql.DataFrame =
    winnowPairsAgg(s, d, maxDf, pairTarget)
      .localCheckpoint(false)
      .orderBy("a", "b")
      // Pair-cardinality stamp (VERDICT r15 #5): near-dup pairs (the
      // clone-family C(n,2) curve that drives this query's sf10 cost)
      // observed zero-cost ABOVE the sort — below it, the range
      // partitioner's sampling job double-counts; see qDedupEditdist
      // for the full placement rationale.
      .observe("graft_pairs_q_text_winnow_pairs", count(lit(1)).as("pairs"))

  /** The winnow hash is a plain polynomial rolling hash (base 257 mod
    * 1e9+7) over BYTES, and the corpus is ASCII — so the oracle replays
    * the whole construction relationally: a recursive-CTE power table
    * (257^i and its modular inverse), per-window hash recovered from a
    * per-doc modular prefix sum (see the spelling note below — exact
    * integer identity with the 16-term weighted character sum),
    * the w=8 window minimum as a frames window function, DISTINCT
    * selection, then the same df-capped fingerprint equi-join. The
    * hash-match gate pins the fingerprints bit-for-bit; a divergence in
    * byte handling, window edges, or the tie rule would flip rows. */
  val qTextWinnowPairs = Q(
    "q_text_winnow_pairs",
    (s, d) => winnowPairs(s, d, Dedup.MaxPostingDf),
    // Oracle hash construction, r16 respelling: the old hs CTE expanded
    // every character row against the 16-power table and re-aggregated
    // (ch × pows → GROUP BY doc,p — ~2.8G intermediate rows at sf10's
    // 177M characters), the sole reason this oracle blew the 600 s
    // DuckDB watchdog. The respelling computes the identical 16-gram
    // polynomial hash from a per-doc modular PREFIX SUM: with
    // I = 257⁻¹ mod p (70038911), H(q) = 257^(q+15) · (PS(q+15) −
    // PS(q−1)) mod p where PS cumulates c(i)·I^i mod p — one window
    // cumsum + one lag(16) over the 177M character rows, no expansion.
    // The character rows come from ZIPPED unnests (aligned position +
    // ascii lists), so no row carries the whole document — the naive
    // unnest(range)+substring shape shipped the full text on every one
    // of 177M rows (~60 GB through the window sorts at sf10).
    // Exact integer identity (mod distributes; the HUGEINT cumsum never
    // truncates), pinned by the unchanged hash gate at sf0.01 and the
    // fps-set A/B run bit-identical before the swap.
    Some(s"""WITH RECURSIVE mx AS (
               SELECT CAST(max(len(text)) AS BIGINT) AS m FROM documents),
             pw(e, p257, pinv) AS (
               SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT),
                      CAST(1 AS BIGINT)
               UNION ALL
               SELECT e + 1, p257 * 257 % 1000000007,
                      pinv * 70038911 % 1000000007
               FROM pw WHERE e < (SELECT m FROM mx)),
             d AS (SELECT doc_id, text, len(text) AS n FROM documents),
             ch AS (SELECT doc_id, n,
                      unnest(range(1, n + 1)) AS i,
                      unnest(list_transform(string_split(text, ''),
                        x -> CAST(ascii(x) AS BIGINT))) AS c
                    FROM d),
             pref AS (SELECT ch.doc_id, ch.i, ch.n, w.p257,
                        sum(ch.c * w.pinv % 1000000007) OVER (
                          PARTITION BY ch.doc_id ORDER BY ch.i) AS ps
                      FROM ch JOIN pw w ON w.e = ch.i),
             hv AS (SELECT doc_id, i - 15 AS p,
                      CAST((ps - coalesce(lag(ps, 16) OVER (
                             PARTITION BY doc_id ORDER BY i), 0))
                           % 1000000007 AS BIGINT)
                        * p257 % 1000000007 AS h,
                      n - 15 AS nh
                    FROM pref QUALIFY i >= 16),
             win AS (SELECT doc_id, p, nh,
                       min(h) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
                     FROM hv),
             fps AS (SELECT DISTINCT doc_id, m AS fp FROM win
                     WHERE nh > 8 AND p <= nh - 7
                     UNION
                     SELECT doc_id, min(h) AS fp FROM hv WHERE nh <= 8
                     GROUP BY doc_id),
             ok AS (SELECT doc_id, fp FROM fps ${Dedup.coldSql("fp")})
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
           FROM ok x JOIN ok y ON x.fp = y.fp AND x.doc_id < y.doc_id
           GROUP BY a, b HAVING count(*) >= 10 ORDER BY a, b"""))

  /** Array-function matrix over token arrays: size, membership,
    * element extraction from both ends, sorted-prefix — the list-ops
    * surface beyond explode. */
  val qScalarArray = Q(
    "q_scalar_array",
    (s, d) =>
      T.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_toks"),
          array_contains(col("toks"), "the").as("has_the"),
          element_at(col("toks"), 1).as("first_tok"),
          element_at(col("toks"), -1).as("last_tok"),
          concat_ws(" ", slice(sort_array(col("toks")), 1, 3)).as("sorted3"))
        .sortedOnce("doc_id"),
    Some("""SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           string_split(text, ' ')[1] AS first_tok,
           string_split(text, ' ')[-1] AS last_tok,
           array_to_string(list_sort(string_split(text, ' '))[1:3], ' ')
             AS sorted3
           FROM documents ORDER BY doc_id"""))

  /** End-to-end training-data filter — the pipeline the mandate
    * describes, composed from the building blocks above: keep documents
    * that (a) survive exact dedup (min doc_id per text), (b) pass the
    * stopword language heuristic, and (c) clear quality floors on token
    * count and mean token length. Output is the per-source survivor
    * count plus total tokens — what a curation run reports. */
  val qPipelineFilter = Q(
    "q_pipeline_filter",
    (s, d) => {
      // Dedup groups key on md5(text), not the text body — the window
      // exchange ships 32-char hashes instead of whole documents (see
      // Dedup.qDedupExact for the scale rationale).
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      T.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("toks", split(col("text"), " "))
        .filter(col("rn") === 1)
        .filter(graft.functions.TextKernels.countTokensInCol(col("toks"), Seq("the", "a", "of"))
          .cast("double") / size(col("toks")) >= 0.03)
        .filter(size(col("toks")) >= 10 &&
          length(col("text")).cast("double") / size(col("toks")) >= 3.0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(size(col("toks")).cast("long")).as("n_tokens"))
        .orderBy("source")
    },
    Some("""WITH survivors AS (
             SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                    AS rn,
                    string_split(text, ' ') AS toks
             FROM documents)
           SELECT source, count(*) AS n_docs,
                  CAST(sum(len(toks)) AS BIGINT) AS n_tokens
           FROM survivors
           WHERE rn = 1
             AND CAST(len(list_filter(toks,
                     t -> t IN ('the', 'a', 'of'))) AS DOUBLE)
                 / len(toks) >= 0.03
             AND len(toks) >= 10
             AND CAST(length(text) AS DOUBLE) / len(toks) >= 3.0
           GROUP BY source ORDER BY source"""))

  /** TF-IDF keyword core (see [[qTextTfidf]] for the full rationale):
    * top-`k` tokens per row of `(idCol, textCol)` by tf × integer
    * floor(log2(n/df)) idf, ties total-ordered on the token.
    *
    * Caching policy (same as every operator cache in the library):
    * the persisted tf frame is deduplicated by Spark's CacheManager —
    * repeated calls over the SAME input hold one cached aggregate, not
    * one per call; distinct corpora hold one each, evicted by
    * [[graft.Graft.clearCaches]]. */
  def tfidfKeywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfFrame = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfFrame, "tok").crossJoin(broadcast(nDocs))
      .select(col(idCol), col("tok"), col("tf"),
        (col("tf") *
          (length(bin(expr("n_docs div df"))).cast("long") - 1L))
          .as("score"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("tok").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(idCol, "tok", "tf", "score", "rk")
  }

  /** TF-IDF keyword extraction: each document's top-3 tokens by
    * `tf × idf` where idf is the INTEGER `floor(log2(n_docs / df))`
    * (`bitlength(n_docs // df) - 1` — same exact-integer-space trick as
    * [[Curation.qTextSurprisal]], because float `ln` differs by 1 ulp
    * between engines). A token in every document scores 0; rarity in
    * fewer docs doubles up the bit count. Ties break on the token
    * string, so top-3 is total-ordered.
    *
    * Scale shape: tf is the (doc, token) aggregation (one shuffle); df
    * derives from the ALREADY-AGGREGATED tf frame (vocab-sized); the
    * doc count broadcasts as a scalar; scoring joins tf to the vocab
    * frame keyed on the token; top-3 is one row_number window keyed on
    * doc_id. The tf frame feeds two consumers (df + the scoring join),
    * and column pruning gives each a different subtree — defeating
    * exchange reuse — so tf is PERSISTED: the corpus is scanned and
    * exploded once, df reads the (smaller-than-input) cached aggregate.
    * Evicted by [[graft.Graft.clearCaches]]. */
  val qTextTfidf = Q(
    "q_text_tfidf",
    (s, d) =>
      tfidfKeywords(T.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "rk"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                          FROM documents),
             tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                    GROUP BY doc_id, tok),
             df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             n AS (SELECT count(*) AS n_docs FROM documents),
             sc AS (SELECT t.doc_id, t.tok, t.tf,
                      t.tf * (length(printf('%b', n_docs // df)) - 1)
                        AS score
                    FROM tf t JOIN df USING (tok), n),
             rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, tok) AS rk FROM sc)
           SELECT doc_id, tok, tf, score, rk
           FROM rk WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** Higher-order-function (lambda) parity matrix: `filter`,
    * `transform` + `aggregate` (fold), and `exists` over token arrays,
    * each against DuckDB's list_* lambda spellings — the declarative
    * array-processing surface beyond [[qScalarArray]]'s point lookups.
    * All outputs are integers/booleans, so parity is exact. (HOFs are
    * interpreted per element — fine for a capability query; the
    * engine's HOT array paths use the fused codegen expressions in
    * graft.functions instead, by design.) */
  val qScalarLambda = Q(
    "q_scalar_lambda",
    (s, d) =>
      T.documents(s, d)
        .withColumn("tk", split(col("text"), " "))
        .select(col("doc_id"),
          size(filter(col("tk"),
            t => length(t) >= 5)).cast("long").as("n_long"),
          aggregate(transform(col("tk"), t => length(t)),
            lit(0), (acc, x) => acc + x).cast("long").as("chars_sum"),
          exists(col("tk"), t => t === lit("the")).as("has_the"))
        .sortedOnce("doc_id"),
    Some("""SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
               t -> length(t) >= 5)) AS BIGINT) AS n_long,
             CAST(list_sum(list_transform(string_split(text, ' '),
               t -> length(t))) AS BIGINT) AS chars_sum,
             len(list_filter(string_split(text, ' '),
               t -> t = 'the')) > 0 AS has_the
           FROM documents ORDER BY doc_id"""))

  /** Sequence-length distribution per source in LOG2 buckets — the
    * context-budget diagnostic read before choosing a packing window
    * (`q_pack_sequences`' budget) or a truncation policy: bucket b
    * holds docs of 2^b..2^(b+1)-1 tokens, with doc and token mass per
    * bucket, so "what share of the corpus outlives a 256-token window"
    * is one scan of the report. The bucket is the token count's integer
    * BIT LENGTH minus one (`length(bin(n))` ≡ DuckDB
    * `length(printf('%b', n))` — the [[Corpus]] surprisal trick), so
    * the log2 floor is exact integer arithmetic in both engines, never
    * a float log. One map-side pass; the aggregation shuffles one row
    * per (source, bucket) — bounded by 64·|sources| regardless of
    * corpus size. */
  val qTextLengthHist = Q(
    "q_text_length_hist",
    (s, d) =>
      T.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("bucket",
          (length(bin(col("n_tok"))) - 1).cast("long"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
        .orderBy("source", "bucket"),
    Some("""WITH t AS (SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents)
           SELECT source,
             CAST(length(printf('%b', n_tok)) - 1 AS BIGINT) AS bucket,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             min(n_tok) AS min_tok, max(n_tok) AS max_tok
           FROM t GROUP BY source, bucket ORDER BY source, bucket"""))

  /** Token-entropy quality signal per document — the lexical-diversity
    * complement of the repetition rules: a gibberish generator or a
    * template spammer both collapse the within-doc unigram distribution,
    * and Shannon entropy over it is the standard scalar for that
    * (low-entropy = repetitive/templated, suspiciously-high = random
    * noise). True entropy is float log in data-dependent order, so the
    * score is the integer-quantized form (the q_text_surprisal cure):
    * each token position pays `bitlength(n_tok div cnt)` bits — a
    * ceil-ish log2 of its inverse in-doc frequency — and the doc's
    * ent_bits is the exact integer sum, with mean bits/token and
    * type-token ratio at the Det 2dp grid. Scale shape: one map-side
    * explode carrying the per-doc token count computed AT THE SCAN
    * (no second pass, no window), one (doc, tok)-keyed two-phase count,
    * one doc-keyed rollup; the sort is the only corpus-wide exchange. */
  val qTextEntropy = Q(
    "q_text_entropy",
    // r18: the per-document counting runs inside the codegen
    // TokenEntropy kernel (one bounded hash map per row), replacing an
    // exploded |corpus tokens|-row frame through two aggregations —
    // same integer bit arithmetic, spelled once (TextKernelsSpec pins
    // kernel == relational spelling row-for-row; the oracle is
    // unchanged).
    (s, d) =>
      T.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.functions.TextKernels.tokenEntropyCol(col("text")).as("te"))
        .select(col("doc_id"), col("source"),
          col("te.n_tok").as("n_tok"), col("te.n_vocab").as("n_vocab"),
          col("te.ent_bits").as("ent_bits"),
          r2(col("te.ent_bits").cast("double") / col("te.n_tok").cast("double"))
            .as("mean_bits"),
          r2(col("te.n_vocab").cast("double") / col("te.n_tok").cast("double"))
            .as("ttr"))
        .sortedOnce("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               unnest(string_split(text, ' ')) AS tok FROM documents),
             c AS (SELECT doc_id, source, n_tok, tok, count(*) AS cnt
               FROM t GROUP BY doc_id, source, n_tok, tok),
             b AS (SELECT doc_id, source, n_tok, cnt,
               CAST(length(printf('%b', n_tok // cnt)) AS BIGINT) AS bits
               FROM c)
           SELECT doc_id, source, n_tok, count(*) AS n_vocab,
             CAST(sum(cnt * bits) AS BIGINT) AS ent_bits,
             ${sqlR2("CAST(sum(cnt * bits) AS DOUBLE) / CAST(n_tok AS DOUBLE)")}
               AS mean_bits,
             ${sqlR2("CAST(count(*) AS DOUBLE) / CAST(n_tok AS DOUBLE)")}
               AS ttr
           FROM b GROUP BY doc_id, source, n_tok ORDER BY doc_id"""))

  /** Vocabulary size the OOV report closes over: top-[[OovVocabTopK]]
    * corpus tokens by (count desc, token) — a deterministic boundary.
    * 16 of the fixture's 31 token types, so both the in-vocab and OOV
    * regimes carry real traffic at the gate. */
  val OovVocabTopK = 16

  /** Out-of-vocabulary rate per source — the tokenizer-coverage
    * diagnostic beside fertility (`q_text_fertility`): given a vocab of
    * the corpus's own top-K tokens (standing in for a trained
    * tokenizer's vocabulary — any broadcastable token list drops in),
    * what fraction of each source's token mass falls outside it. High
    * OOV for a source = the vocab under-serves that domain, exactly
    * what a fertility spike means for a merge table. oov_ppm is
    * half-up integer rounding, `(2e6·oov + n) div 2n` — exact in both
    * engines (valid while 2e6·n_oov fits an i64 per source, i.e. below
    * ~4.6e12 OOV tokens; DuckDB widens to HUGEINT earlier). Scale
    * shape: ONE corpus explode aggregated to the (source, token)
    * frequency frame (persisted — the global vocab re-aggregates THAT
    * frame, not the corpus), top-K via TakeOrderedAndProject, vocab
    * broadcast back; everything after the first aggregation is bounded
    * by |sources|·|vocab|. */
  val qTextOovRate = Q(
    "q_text_oov_rate",
    (s, d) => {
      val st = T.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab = st.groupBy("tok").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("tok")).limit(OovVocabTopK)
        .select(col("tok"), lit(1).as("in_vocab"))
      st.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(sum("cnt").as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L))
            .as("n_oov"),
          count(lit(1)).as("n_types"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov_types"))
        .withColumn("oov_ppm",
          expr("(2000000 * n_oov + n_tokens) div (2 * n_tokens)"))
        .orderBy("source")
    },
    Some(s"""WITH st AS (SELECT source, tok, count(*) AS cnt FROM (
               SELECT source, unnest(string_split(text, ' ')) AS tok
               FROM documents) GROUP BY source, tok),
             vocab AS (SELECT tok FROM (
               SELECT tok, sum(cnt) AS n FROM st GROUP BY tok
               ORDER BY n DESC, tok LIMIT $OovVocabTopK)),
             j AS (SELECT st.source, st.cnt,
                     (v.tok IS NOT NULL) AS iv
                   FROM st LEFT JOIN vocab v USING (tok))
           SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN iv THEN 0 ELSE cnt END) AS BIGINT) AS n_oov,
             count(*) AS n_types,
             count(*) FILTER (WHERE NOT iv) AS n_oov_types,
             CAST((2000000 * CAST(sum(CASE WHEN iv THEN 0 ELSE cnt END)
                     AS BIGINT) + CAST(sum(cnt) AS BIGINT))
                  // (2 * CAST(sum(cnt) AS BIGINT)) AS BIGINT) AS oov_ppm
           FROM j GROUP BY source ORDER BY source"""))

  val all: Seq[Q] =
    Seq(qArrayExplode, qTextStats, qTextTokens, qTextFingerprint,
      qTextLanguage, qTextLanguageNgram, qTextTokensRegex, qTextTokensBpe,
      qTextFertility, qTextWinnowPairs, qPipelineFilter, qScalarArray,
      qTextTfidf, qScalarLambda, qTextLengthHist, qTextEntropy,
      qTextOovRate)
}
