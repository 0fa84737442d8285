package graft

import graft.ops.{Dedup, Similarity}

import org.apache.spark.sql.functions._

/** Semantics of the dedup family on hand-built corpora (no-oracle ops get
  * their correctness argument here — SURVEY.md §5.2.2). */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("unit"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
  }

  private val tmp = java.nio.file.Files.createTempDirectory("dedup").toString

  test("WordShingles expression matches the five-HOF built-in spelling") {
    val hof = Tables.documents(spark, sf)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        array_distinct(expr(
          "transform(sequence(1, greatest(size(tk) - 1, 1))," +
          " i -> concat_ws(' ', slice(tk, i, 2)))")).as("sh"))
    val fast = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.WordShingles.shingles(col("text")).as("sh"))
    assert(fast.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(fast).count() === 0)
    // degenerate inputs: single token, consecutive spaces, empty string
    val s2 = spark
    import s2.implicits._
    val edge = Seq("one", "a  b", "", " ", "x y z").toDF("text")
    val a = edge.select(graft.functions.WordShingles.shingles(col("text")).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(a(0) === Seq("one"))
    assert(a(1) === Seq("a ", " b"))
    assert(a(2) === Seq(""))
    assert(a(3) === Seq(" "))
    assert(a(4) === Seq("x y", "y z"))
  }

  test("MinHashSig expression matches the built-in md5/substring spelling") {
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.WordShingles.shingles(col("text")).as("sh"))
    val hof = sh.select(col("doc_id"),
        transform(col("sh"), x => md5(concat(lit("0:"), x))).as("m0"),
        transform(col("sh"), x => md5(concat(lit("1:"), x))).as("m1"))
      .select(col("doc_id"), array((0 until 8).map { i =>
        val src = if (i < 4) col("m0") else col("m1")
        array_min(transform(src, m => substring(m, (i % 4) * 8 + 1, 8)))
      }: _*).as("sig"))
    val fast = sh.select(col("doc_id"),
      graft.functions.MinHashSig.minhash(col("sh")).as("sig"))
    assert(fast.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(fast).count() === 0)
  }

  test("SimHashSig expression matches the relational groupBy spelling") {
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long"))
    val bitSums = (0 until 32).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$i")
    }
    val sig = (0 until 32)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    val relational = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
    val fused = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.SimHashSig.simhash(split(col("text"), " "))
          .as("simhash"))
    assert(fused.exceptAll(relational).count() === 0)
    assert(relational.exceptAll(fused).count() === 0)
  }

  test("exact dedup keeps one survivor per identical text") {
    docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      3L -> "a completely different document text")
    val out = Dedup.qDedupExact.fn(spark, tmp).collect()
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap === Map("en" -> 2L))
  }

  test("incremental dedup verdicts partition the batch and replay in Scala") {
    // sf0.01 — the gate's scale: the smoke corpus has no in-batch dups,
    // which would leave the third verdict untested
    val gateSf = "/root/testdata/sf0.01"
    val got = Dedup.qDedupIncremental.fn(spark, gateSf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rows = Tables.documents(spark, gateSf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def fpOf(text: String): String =
      md5hex(text.split(" ", -1).take(8).mkString(" "))
    val index = rows.filter(r => md5hex(r._1.toString).substring(0, 2) < "e6")
      .map(r => fpOf(r._3)).toSet
    val batch = rows.filter(r => md5hex(r._1.toString).substring(0, 2) >= "e6")
    val firstOwner = batch.groupBy(r => fpOf(r._3))
      .map { case (fp, xs) => fp -> xs.map(_._1).min }
    val expected = batch.map { case (id, src, text) =>
      val fp = fpOf(text)
      val verdict =
        if (index.contains(fp)) "dup_of_corpus"
        else if (firstOwner(fp) != id) "dup_in_batch"
        else "accepted"
      (src, verdict)
    }.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    assert(got === expected)
    // verdict totals must cover the whole batch
    assert(got.values.sum === batch.length.toLong)
    // all three verdicts occur (the corpus plants duplicates)
    assert(got.keys.map(_._2).toSet ===
      Set("accepted", "dup_of_corpus", "dup_in_batch"))
  }

  test("minhash quality: estimates track exact Jaccard on candidate pairs") {
    val rows = Dedup.qDedupMinhashQuality.fn(spark, SparkSpec.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, nMatch, nInter, nUnion) =>
      assert(nMatch >= 0 && nMatch <= 8, s"($a,$b)")
      assert(nInter >= 0 && nInter <= nUnion, s"($a,$b)")
    }
    // candidates with near-total overlap must agree on most planes, and
    // the average estimate must sit within 25% of the average truth —
    // the unbiasedness MinHash promises, coarse at 8 planes
    val strong = rows.filter(r => r._4.toDouble / r._5 >= 0.9)
    strong.foreach { case (a, b, nMatch, _, _) =>
      assert(nMatch >= 6, s"high-overlap pair ($a,$b) matched $nMatch/8")
    }
    val estMean = rows.map(_._3.toDouble / 8).sum / rows.size
    val truthMean = rows.map(r => r._4.toDouble / r._5).sum / rows.size
    assert(math.abs(estMean - truthMean) < 0.25,
      s"estimate mean $estMean vs truth mean $truthMean")
  }

  test("edit distances replay a reference Levenshtein and bound len_diff") {
    val out = Dedup.qDedupEditdist.fn(spark, SparkSpec.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val texts = Tables.documents(spark, SparkSpec.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length).toLong
    }
    out.foreach { case (a, b, d, ld) =>
      assert(ld === math.abs(texts(a).length - texts(b).length).toLong)
      assert(d >= ld, s"edit dist below length diff for ($a,$b)")
      assert(d === lev(texts(a), texts(b)), s"levenshtein mismatch ($a,$b)")
    }
  }

  test("minhash LSH: identical texts collide, disjoint texts do not") {
    docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six seven")
    val pairs = Dedup.qDedupMinhash.fn(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: identical = 1.0, near-dup above threshold") {
    docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy cat",
      4L -> "entirely unrelated words here nothing shared")
    val got = Dedup.qDedupNgramJaccard.fn(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) >= 0.5 && got((1L, 3L)) < 1.0)
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: deterministic, identical texts collide, near-dups are close") {
    docs(
      1L -> "shared tokens make similar fingerprints here truly",
      2L -> "shared tokens make similar fingerprints here truly",
      3L -> "shared tokens make similar fingerprints here really",
      4L -> "absolutely nothing in common with others whatsoever")
    def run() = Dedup.qDedupSimhash.fn(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h1 = run()
    assert(h1 === run(), "simhash must be deterministic")
    assert(h1(1L) === h1(2L), "identical text => identical simhash")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h1(1L), h1(3L)) < hamming(h1(1L), h1(4L)),
      "near-dup must be closer than unrelated")
  }

  test("LSH embedding near-dup: planted near-identical pairs surface on top") {
    val s = spark
    import s.implicits._
    val dim = 16
    // 5 planted clusters of 2 near-identical vectors + 50 scattered.
    // Components are md5-derived — deterministic, no RNG, and (unlike a
    // linear-congruential formula) decorrelated across vectors, so no
    // accidental near-collinear scatter pairs.
    def hvec(tag: String): Array[Float] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val h = md.digest(s"$tag:$i".getBytes("UTF-8"))
        (((h(0) & 0xff) - 128) / 128.0f)
      }
    }
    def base(c: Int): Array[Float] = hvec(s"cluster$c")
    def scatter(j: Int): Array[Float] = hvec(s"noise$j")
    val planted = (0 until 5).flatMap { c =>
      val b = base(c)
      val near = b.clone(); near(0) = near(0) + 0.01f
      Seq((c * 2L, b, c), (c * 2L + 1, near, c))
    }
    val noise = (0 until 50).map(j => (100L + j, scatter(j), 99))
    val tmp = java.nio.file.Files.createTempDirectory("lsh_dedup").toString
    (planted ++ noise).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Dedup.qDedupEmbeddingLsh.fn(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val plantedPairs = (0 until 5).map(c => (c * 2L, c * 2L + 1)).toSet
    val found = got.collect {
      case (a, b, _) if plantedPairs((a, b)) => (a, b) }.toSet
    // a planted pair can straddle a hyperplane in both bands; allow one
    assert(found.size >= 4, s"planted pairs found: $found of $plantedPairs")
    // nothing scattered should score as a near-dup
    got.filter { case (a, b, _) => !plantedPairs((a, b)) }
      .foreach { case (a, b, c) =>
        assert(c < 0.99, s"unplanted pair ($a,$b) scored $c") }

    // census: nothing was capped on this corpus, and the columns ride
    // every row (the pair_degree "no silent caps" contract)
    Dedup.qDedupEmbeddingLsh.fn(spark, tmp).collect().foreach { r =>
      assert(r.getLong(3) === 0L && r.getLong(4) === 0L)
    }

    // full saturation must NOT read as "no duplicates": with a cap the
    // corpus exceeds in every band, the pair list is empty but ONE row
    // survives carrying the census — null pair, nonzero capped counts
    // accounting for every vector (the regime the 2x4-bit layout hit
    // silently at 60k vectors before the 3x8-bit widening)
    val sat = Dedup.embeddingLshTopPairs(spark, tmp, maxBucket = 1)
      .collect()
    assert(sat.length === 1, s"expected lone census row, got ${sat.toSeq}")
    assert(sat(0).isNullAt(0) && sat(0).isNullAt(1) && sat(0).isNullAt(2))
    assert(sat(0).getLong(3) > 0L, "n_capped_bands must be nonzero")
    // every planted vector shares all 3 bands with its near-twin, so at
    // least the 10 planted ones hold a capped band at cap=1
    assert(sat(0).getLong(4) >= 10L,
      s"n_capped_vecs ${sat(0).getLong(4)} must cover the planted twins")
  }

  test("semantic dedup: planted clusters prune to their min-id member " +
      "at the production epsilon") {
    val s = spark
    import s.implicits._
    val dim = 16
    def hvec(tag: String): Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val h = md.digest(s"sem:$tag:$i".getBytes("UTF-8"))
        (((h(0) & 0xff) - 128) / 128.0)
      }
    }
    // 4 planted clusters of 3 near-identical vectors + 36 scattered, ids
    // interleaved so clusters span the stride-seeded cells arbitrarily.
    val planted = (0 until 4).flatMap { c =>
      val b = hvec(s"cluster$c")
      Seq.tabulate(3) { j =>
        val v = b.clone(); v(0) += j * 0.005
        (c * 12L + j, v)
      }
    }
    val noise = (0 until 36).map(j => (100L + j, hvec(s"noise$j")))
    val tmp = java.nio.file.Files.createTempDirectory("sem_dedup").toString
    (planted ++ noise).toDF("vec_id", "v")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val got = Graft.semanticDedup(
        spark.read.parquet(s"$tmp/embeddings.parquet"), "vec_id", "v",
        k = 4, eps = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    // every input vector gets exactly one verdict
    assert(got.length == planted.size + noise.size)
    assert(got.map(_._1).distinct.length == got.length)
    val byId = got.map(g => g._1 -> g).toMap
    (0 until 4).foreach { c =>
      val ids = Seq.tabulate(3)(j => c * 12L + j)
      // near-identical vectors assign to the same cell (assignment is a
      // pure function of the values), so the min id survives and the
      // rest point at it
      assert(byId(ids.head)._3, s"cluster $c min id must be kept")
      ids.tail.foreach { id =>
        assert(!byId(id)._3, s"planted dup $id must be pruned")
        assert(byId(id)._4 == ids.head,
          s"dup $id must point at the cluster min ${ids.head}")
      }
    }
    // scattered vectors survive at the production epsilon
    noise.foreach { case (id, _) =>
      assert(byId(id)._3, s"scatter $id wrongly pruned") }
  }

  test("semantic sweep: curve is monotone non-increasing and bounded") {
    val got = Dedup.qDedupSemanticSweep.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq ==
      Dedup.SemanticSweepEps.map(e => (e * 100).round))
    // tightening the threshold can only prune fewer documents
    got.sliding(2).foreach { case Array((e1, n1), (e2, n2)) =>
      assert(n1 >= n2, s"curve not monotone at $e1->$e2: $n1 < $n2") }
    val corpus = Tables.embeddings(spark, sf).count()
    got.foreach { case (e, n) =>
      assert(n >= 0 && n < corpus, s"eps $e prunes $n of $corpus") }
  }

  test("semantic sweep: each eps prunes exactly what semantic dedup prunes") {
    val swept = Dedup.qDedupSemanticSweep.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vectors = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
    Dedup.SemanticSweepEps.foreach { eps =>
      val pruned = Dedup.semanticDedup(vectors, "vec_id", "v", eps = eps)
        .filter(!col("kept")).count()
      assert(swept((eps * 100).round) === pruned, s"eps $eps")
    }
  }

  test("dedup agreement: planted corpus surfaces all three verdicts") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("agree").toString
    // Text side: docs 0/1 share their text (lexical pair), docs 2/3
    // share theirs, docs 4..9 are long unique texts (enough distinct
    // shingles that nothing else pairs).
    def uniq(id: Long): String =
      (0 until 30).map(i => s"u${id}w$i").mkString(" ")
    val shared1 = (0 until 30).map(i => s"sharedA$i").mkString(" ")
    val shared2 = (0 until 30).map(i => s"sharedB$i").mkString(" ")
    val docs = Seq(
      0L -> shared1, 1L -> shared1,
      2L -> shared2, 3L -> shared2) ++ (4L to 9L).map(id => id -> uniq(id))
    docs.toDF("doc_id", "text").withColumn("source", lit("s"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    // Vector side (same id domain, one label so blocking keeps pairs
    // together): ids 0/1 near-identical (-> both), ids 4/5
    // near-identical (-> semantic_only); everything else decorrelated
    // md5 vectors (ids 2/3 lexical-only by construction).
    def hvec(tag: String): Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(16) { i =>
        val h = md.digest(s"agree:$tag:$i".getBytes("UTF-8"))
        (((h(0) & 0xff) - 128) / 128.0)
      }
    }
    val near = hvec("near")
    val near2 = near.clone(); near2(0) += 0.01
    val vecs = Seq(0L -> near, 1L -> near2, 4L -> near, 5L -> near2) ++
      Seq(2L, 3L, 6L, 7L, 8L, 9L).map(id => id -> hvec(s"far$id"))
    vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", lit(0))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val got = Dedup.qDedupAgreement.fn(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("both", "lexical_only", "semantic_only"), got)
    assert(got("both") >= 1L, got)          // 0-1: same text AND near vecs
    assert(got("lexical_only") >= 1L, got)  // 2-3: same text, far vecs
    assert(got("semantic_only") >= 1L, got) // 4-5: near vecs, unique text
  }

  test("exact-substring dedup: planted shared span cuts only the later doc") {
    // A 10-token span planted in docs 1 and 2 (SubstrSpanTokens = 10).
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    docs(
      1L -> s"$span p1 p2 p3",        // owner of the span (min doc_id)
      2L -> s"a b c $span",           // same span, later doc -> cut
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12", // unique, full windows
      4L -> "short doc only")         // < 10 tokens -> no spans at all
    val got = Dedup.qDedupSubstring.fn(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // 13 tokens -> 4 sliding windows each for docs 1 and 2; 12 -> 3 for doc 3.
    assert(got(1L) === ((4L, 0L, true)))  // owns the span, cuts nothing
    assert(got(2L) === ((4L, 1L, false))) // exactly the planted span is cut
    assert(got(3L) === ((3L, 0L, true)))
    assert(got(4L) === ((0L, 0L, true)))
  }

  test("exact-substring dedup: repeated span inside one doc counts once") {
    // The same span twice in a single document must not self-duplicate:
    // spans are array_distinct per doc, and a df=1 span has no owner row.
    val span = (1 to 10).map(i => s"r$i").mkString(" ")
    docs(7L -> s"$span $span")
    val got = Dedup.qDedupSubstring.fn(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // 20 tokens -> 11 windows, but windows 1 and 11 are the same span:
    // 10 distinct spans, none shared across docs -> nothing cut.
    assert(got(7L) === ((10L, 0L, true)))
  }

  test("cosine expression: self-similarity 1, orthogonal 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0, 0.0, 2.0), Array(1.0, 0.0, 2.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) === 0.0)
  }

  test("band sweep: capped-band census is honest, 2x4 matches production") {
    val rows = graft.ops.Dedup.qDedupBandSweep.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8))
    // truth never exceeds candidates; all counters non-negative
    rows.foreach { case (_, ncap, nc, nt) =>
      assert(nt <= nc && ncap >= 0 && nc >= 0)
    }
    // where NO bucket blew the sweep cap, candidate sets nest (a pair
    // agreeing on a coarse band agrees on every refinement), so
    // candidates can only grow with band count
    if (rows.forall(_._2 == 0))
      rows.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._3) }
    // the declared production banding (2x4) is part of the sweep; with
    // every observed 2x4 bucket far below the sweep cap (production max
    // df is 33), it must reproduce q_dedup_minhash's candidates exactly
    val prod = graft.ops.Dedup.qDedupMinhash.fn(spark, sf).count()
    assert(rows.find(_._1 == 2).get._3 === prod)
  }

  test("capCensus reports exactly what pairsFromGroups' df-cap dropped") {
    val s = spark
    import s.implicits._
    // two hot keys (df 3 and 4) and one cold key (df 2) under maxDf = 2
    val bands = Seq(
      (1L, 0, "hot"), (2L, 0, "hot"), (3L, 0, "hot"),
      (1L, 1, "cold"), (4L, 1, "cold"),
      (5L, 0, "hot2"), (6L, 0, "hot2"), (7L, 0, "hot2"), (1L, 0, "hot2"))
      .toDF("doc_id", "band_no", "band")
    val row = Dedup.capCensus(bands, Seq("band_no", "band"), maxDf = 2)
      .collect().head
    // 2 capped keys; docs {1,2,3} ∪ {1,5,6,7} = 6 distinct
    assert((row.getLong(0), row.getLong(1)) === ((2L, 6L)))
    // and the drop is real: only the cold key's single pair survives
    assert(Dedup.pairsFromGroups(bands, Seq("band_no", "band"), maxDf = 2)
      .count() === 1L)
    // empty-hot-set regime (the production sf fixture): census is 0/0
    // and rides every q_dedup_pair_degree row as a constant
    val hist = graft.ops.Graph.qDedupPairDegree.fn(spark, sf).collect()
    assert(hist.nonEmpty)
    assert(hist.forall(r => r.getLong(4) == 0L && r.getLong(5) == 0L))
  }

  test("each near-dup law is spelled once in src/main") {
    import scala.jdk.CollectionConverters._
    // whitespace-free needles, matched against whitespace-free sources,
    // so a reformatted copy still counts
    val laws = Map(
      "MinHash oracle seed" -> "md5('0:'||sh)",
      "oracle shingle range" -> "greatest(len(tk)-1,1)",
      "oracle cosine norm" -> "/(sqrt(list_inner_product(",
      "engine hot-key filter" -> ".filter(col(\"graft_df\")>",
      "oracle hot-key cap" -> "QUALIFYcount(*)OVER(",
      "oracle hot-key set" -> "HAVINGcount(*)>$",
      // the train/val/test split the contamination scans protect
      "engine split law" -> "<\"cc\"",
      "oracle split law" -> "<'cc'",
      // the vector-search laws of Similarity and the embedding dedups
      "engine query set" -> "filter(col(\"vec_id\")<",
      "oracle query set" -> "WHEREvec_id<",
      "engine embedding frame" -> "col(\"embedding\").cast(\"array<double>\")",
      "oracle embedding frame" -> "CAST(embeddingASDOUBLE[])",
      "engine top-k tail" -> "row_number().over(w)).filter(col(rank)<=k)",
      "oracle top-k tail" -> "qidORDERBY",
      "engine IVF probe ranking" -> "dot(col(\"cv\"),col(\"cv\"))/2",
      "oracle IVF distance" -> "list_inner_product(c.cv,c.cv)/2",
      "engine IVF candidate join" -> "col(\"pcell\")===col(\"cell\")",
      "oracle IVF candidate join" -> "ONa.cell=p.pcellANDa.vec_id<>p.qid",
      "multi-probe flip set" -> "yield(1L<<i)|(1L<<j)",
      "oracle LSH probes" -> ",f.flip)",
      "oracle PQ query LUT" -> "FROMqCROSSJOINmsCROSSJOINseedss",
      "engine stride seeds" -> "%stride===0",
      "oracle stride seeds" -> "%p.stride=0",
      "engine semantic cells" -> "min(struct(col(\"negsim\")",
      "oracle semantic cells" -> "ORDERBYsimDESC,cell)=1",
      "oracle label-blocked pairs" -> "ONx.label=y.labelANDx.vec_id<y.vec_id",
      "oracle brute-force truth" -> "JOINeONe.vec_id<>q.qid")
    // spellings with no place in src/main at all: the oracle cosine is
    // Similarity.cosineSql, never DuckDB's own kernel
    val banned = Seq("list_cosine_similarity")
    val main = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sources = try main.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f -> java.nio.file.Files.readString(f).replaceAll("\\s", ""))
      .toList
    finally main.close()
    val respelled = laws.toSeq.sorted.map { case (law, needle) =>
      law -> sources.flatMap { case (f, text) =>
        val n = java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
        Seq.fill(n)(f.getFileName)
      }
    }.filter(_._2.size != 1)
    assert(respelled.isEmpty, respelled.map { case (law, sites) =>
      s"$law spelled ${sites.size} times (${sites.mkString(", ")})" }.mkString("; "))
    val used = banned.filter(b => sources.exists(_._2.contains(b)))
    assert(used.isEmpty, s"banned in src/main: ${used.mkString(", ")}")
  }
}
