package graft.ops

import graft.SparkSpec

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Hot-key / hot-block guards that keep the dedup family linear at corpus
  * scale: document-frequency caps on posting lists and fingerprint joins,
  * and the per-label block-size cap on the embedding self-join. Each test
  * shows the guard bounding a pathological input while leaving normal
  * inputs untouched (the declared queries run with caps far above any
  * observed sf0.1 group size, so gate results are unchanged).
  */
class ScaleGuardSpec extends SparkSpec {

  private val tmp =
    java.nio.file.Files.createTempDirectory("scale_guard").toString

  private def writeDocs(rows: (Long, String)*): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("unit"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
  }

  test("pairsFromGroups drops hot keys above maxDf, keeps the rest intact") {
    val s = spark
    import s.implicits._
    // key "hot" spans 5 docs, key "ok" spans 3 — with maxDf = 4 only the
    // ok-key pairs may appear
    val posting = (
      (1L to 5L).map(i => ("hot", i)) ++ (10L to 12L).map(i => ("ok", i))
    ).toDF("k", "doc_id")
    val capped = Dedup.pairsFromGroups(posting, Seq("k"), maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((10L, 11L), (10L, 12L), (11L, 12L)),
      s"hot-key pairs must be dropped, got $capped")
    // with the cap above every df, all pairs appear (5C2 + 3C2 = 13)
    val uncapped = Dedup.pairsFromGroups(posting, Seq("k"), maxDf = 100)
    assert(uncapped.count() === 13)
  }

  test("winnow pair generation drops fingerprints above maxDf") {
    val body = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
      "do eiusmod tempor incididunt ut labore et dolore magna aliqua ut " +
      "enim ad minim veniam quis nostrud exercitation ullamco laboris")
    writeDocs(1L -> body, 2L -> body, 3L -> body)
    // every fingerprint has df = 3: above a cap of 2 nothing may pair...
    assert(TextOps.winnowPairs(spark, tmp, maxDf = 2).count() === 0)
    // ...below the declared cap all three pairs appear
    val full = TextOps.winnowPairs(spark, tmp, maxDf = Dedup.MaxPostingDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  /** Plain-Scala winnow pair reference, with no Spark operator and no
    * packedPairs: each document's [[graft.functions.Winnow.kernel]]
    * fingerprints, grouped by fingerprint with groups over maxDf
    * dropped, each pair's shared-fingerprint count, pairs sharing >= 10
    * kept. */
  private def winnowReference(dir: String,
      maxDf: Int = Dedup.MaxPostingDf): Set[(Long, Long, Long)] = {
    val postings = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect().toSeq
      .filterNot(_.isNullAt(1))
      .flatMap { r =>
        graft.functions.Winnow.kernel(UTF8String.fromString(r.getString(1)),
          16, 8).toLongArray().toSeq.map(_ -> r.getLong(0))
      }
    postings.groupBy(_._1).values.map(_.map(_._2).sorted)
      .filter(_.size <= maxDf)
      .flatMap(_.combinations(2).map { case Seq(a, b) => (a, b) })
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .collect { case ((a, b), n) if n >= 10 => (a, b, n) }.toSet
  }

  private def winnowRows(dir: String): Set[(Long, Long, Long)] =
    TextOps.winnowPairs(spark, dir, Dedup.MaxPostingDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("winnow pairs equal a plain-Scala reference on sf0.001") {
    // checked on the sf0.001 documents table, which has genuine
    // near-dup clusters, so the >= 10 filter and the df cap both bite
    val engine = winnowRows(SparkSpec.Sf0001)
    val ref = winnowReference(SparkSpec.Sf0001)
    assert(ref.nonEmpty, "fixture produced no winnow pairs at all")
    assert(engine === ref, s"engine diverged: only-engine=${
      (engine -- ref).take(5)} only-reference=${(ref -- engine).take(5)}")
  }

  test("winnow doc ids past 2^31 take the struct-pair fallback, same rows " +
      "as the reference") {
    // (a << 32) | b is no bijection once an id leaves [0, 2^31): the
    // ids here start at 2^31 and one sits past 2^32, so a packed key
    // would corrupt every pair
    val body = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
      "do eiusmod tempor incididunt ut labore et dolore magna aliqua ut " +
      "enim ad minim veniam quis nostrud exercitation ullamco laboris")
    val base = 1L << 31
    writeDocs(base -> body, (base + 1) -> (body + " nisi ut aliquip"),
      ((1L << 32) + 7) -> ("lorem ipsum dolor sit amet but then " +
        "something else entirely, with no further overlap to speak of"),
      ((1L << 32) + 9) -> body.reverse)
    val engine = winnowRows(tmp)
    val ref = winnowReference(tmp)
    assert(ref.map(r => (r._1, r._2)) === Set((base, base + 1)),
      s"fixture must yield exactly the planted pair, got $ref")
    assert(engine === ref)
    val plan = TextOps.winnowPairsAgg(spark, tmp, Dedup.MaxPostingDf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("graft_packed_pairs"),
      "ids past 2^31 must not reach the packed-key emission")
    assert(plan.linesIterator.exists(l => l.contains("REPARTITION_BY_NUM") &&
      l.contains("hashpartitioning(a")),
      "fallback pairs must shuffle by (a, b) before aggregating")
  }

  test("a hot band beyond the DECLARED cap never reaches pair expansion") {
    // End-to-end stress at the production cap (MaxPostingDf = 1000), not
    // a unit-sized stand-in: 1500 byte-identical documents put every
    // MinHash band at df = 1500 > cap, whose uncapped expansion is
    // 1500C2 = 1,124,250 pairs. With the cap those bands are dropped
    // before collect_list, so the ONLY pair the full minhash path may
    // emit is the planted 2-document cluster — remove the cap in
    // pairsFromGroups and this equality fails by a million rows (and the
    // runtime blows up with it).
    val s = spark
    import s.implicits._
    val hotBody = (1 to 40).map(i => s"hot$i").mkString(" ")
    val planted = "planted near duplicate cluster body " * 8
    val rows =
      (1L to 1500L).map(i => (i, hotBody)) ++
        Seq(9001L -> planted, 9002L -> planted)
    writeDocs(rows: _*)
    val pairs = Dedup.minhashPairs(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((9001L, 9002L)),
      s"hot-band pairs must never materialize, got ${pairs.size} pairs")
  }

  test("pair-stage provision estimator: session default until the bound " +
      "demands more, then ceil(raw/target), capped") {
    import Dedup.pairStageParts
    val t = Dedup.PairStageTargetRawPerTask
    assert(pairStageParts(0L, 32) === 32)
    assert(pairStageParts(32L * t, 32) === 32) // exactly fits the default
    assert(pairStageParts(32L * t + 1, 32) === 33) // first row over engages
    // the r17/r18 measured census points (SCALE.md): sf10 2.97e9 raw
    // pairs — the just-fits-at-32 regime — engages; sf20 5.33e9 — the
    // ENOSPC-at-32 regime — provisions wider than the failure config
    // explicit maxParts (ADVICE r18): pins the arithmetic regardless of
    // the host's fd limit / core count (the default ceiling is
    // machine-derived and can drop below these widths on many-core or
    // low-ulimit hosts)
    assert(pairStageParts(2970297334L, 32, target = 32000000L,
      maxParts = 1024) === 93)
    assert(pairStageParts(5325791261L, 32, target = 32000000L,
      maxParts = 1024) === 167)
    // an injected ceiling below the demanded width clamps to it
    assert(pairStageParts(5325791261L, 32, target = 32000000L,
      maxParts = 96) === 96)
    // backstop cap is the fd-safe ceiling (r18: one open bypass file
    // per partition per running task — a flat 1024 blew the 20k fd
    // limit at sf10), never below the session default
    assert(pairStageParts(Long.MaxValue / 4, 32) === Dedup.PairStageMaxParts)
    assert(Dedup.PairStageMaxParts >= 64 && Dedup.PairStageMaxParts <= 1024)
    assert(pairStageParts(Long.MaxValue / 4, 2000) === 2000)
    assert(pairStageParts(7L, 4, target = 1) === 7) // forced tiny target
    intercept[IllegalArgumentException](pairStageParts(7L, 4, target = 0))
  }

  test("pair-stage provision: forced engagement widens the fp stage and " +
      "is row-identical to the default plan") {
    val sf = SparkSpec.Sf0001
    def run(target: Long) =
      TextOps.winnowPairs(spark, sf, Dedup.MaxPostingDf, pairTarget = target)
    // the engagement fingerprint is an EXPLICIT-width hash exchange on
    // fp (REPARTITION_BY_NUM); the spread guard's round-robin exchange
    // is also BY_NUM, so both markers must sit on one Exchange line
    def fpRepartition(target: Long): Boolean =
      TextOps.winnowPairsAgg(spark, sf, Dedup.MaxPostingDf,
          pairTarget = target).queryExecution.executedPlan.toString
        .linesIterator.exists(l => l.contains("REPARTITION_BY_NUM") &&
          l.contains("hashpartitioning(fp"))
    // default budget at sf0.001: bound fits the session default -> the
    // certified plan, no fp repartition exchange anywhere
    val dflt = run(Dedup.PairStageTargetRawPerTask)
    assert(!fpRepartition(Dedup.PairStageTargetRawPerTask),
      "un-engaged provision must leave the certified plan untouched")
    // target = 1 raw pair/task: the estimator must engage (parts =
    // min(rawPairs, 1024) > 4 session parts) and the pair multiset must
    // be bit-identical — provisioning changes stage widths, never rows
    val forced = run(1L)
    assert(fpRepartition(1L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (d, f) = (rows(dflt), rows(forced))
    assert(d.nonEmpty, "fixture produced no winnow pairs at all")
    assert(f === d, s"engaged spelling diverged: only-forced=${
      (f -- d).take(5)} only-default=${(d -- f).take(5)}")
  }

  test("packed pair key (r18): groupBy((a<<32)|b) is row-identical to " +
      "groupBy(a, b), and the agg exchange is the explicit ab repartition") {
    val sf = SparkSpec.Sf0001
    // the reference counts shared fingerprints per (a, b) tuple, so the
    // equality is the packed key against groupBy(a, b)
    val (packed, twoLong) = (winnowRows(sf), winnowReference(sf))
    assert(packed.nonEmpty, "fixture produced no winnow pairs at all")
    assert(packed === twoLong, s"packed key diverged: only-packed=${
      (packed -- twoLong).take(5)} only-reference=${(twoLong -- packed).take(5)}")
    // plan shape: the aggregation's exchange is the census-provisioned
    // explicit repartition on the packed key (raw pairs shuffle BY THE
    // PAIR KEY; no partial agg runs before the exchange — the r18
    // measured fix for the 42 GB fp-partitioned partial-agg spill)
    val plan = TextOps.winnowPairsAgg(spark, sf, Dedup.MaxPostingDf)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("REPARTITION_BY_NUM") &&
      l.contains("hashpartitioning(ab")),
      "pair aggregation must shuffle raw packed pairs by ab")
    // and no partial PAIR COUNT may sit BELOW that exchange (map-side
    // partial aggregation of fp-partitioned pairs is the measured
    // anti-pattern). The grouped emission's collect_list aggregate
    // (posting-list build, r18) legitimately sits below it, so the
    // check targets the count function, not the operator name.
    val tail = plan.substring(plan.indexOf("hashpartitioning(ab"))
    assert(!tail.contains("partial_count"),
      "no partial pair aggregation below the pair-key exchange")
    // the emission below the exchange is the grouped packed-pair
    // generator, not a join of the posting frame against itself (the
    // r18 fix: the planner turned that self-join into a full-frame
    // broadcast, which cannot scale past the 8 GB broadcast cap)
    assert(tail.contains("graft_packed_pairs"),
      "pair emission must be the grouped packed-pair generator")
    assert(!tail.contains("BroadcastHashJoin Inner"),
      "no posting-frame self-join below the pair-key exchange")
  }

  test("packedPairs fails with its named bound where n * (n - 1) leaves Int") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import graft.functions.TextKernels
    val small = TextKernels.packedPairs(
      UnsafeArrayData.fromPrimitiveArray(Array(3L, 1L, 2L))).toLongArray()
    assert(small.toSeq === Seq((1L << 32) | 2L, (1L << 32) | 3L, (2L << 32) | 3L))
    // 46342 * 46341 is the first product past Int.MaxValue: the old
    // n <= 65536 check admitted it and the Int size went negative
    val ids = UnsafeArrayData.fromPrimitiveArray(Array.tabulate(46342)(_.toLong))
    val e = intercept[IllegalArgumentException](TextKernels.packedPairs(ids))
    assert(e.getMessage.contains("46341 bound"), e.getMessage)
  }

  test("embedding near-dup blocks are bounded by maxBlock") {
    val s = spark
    import s.implicits._
    // four identical vectors in one label block: uncapped -> 6 pairs;
    // capped at 2 -> only the first two (by vec_id) may pair
    (1L to 4L).map(i => (i, Array(1.0f, 2.0f, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val capped = Dedup.embeddingPairs(spark, tmp, maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)), s"block must cap at 2 vectors, got $capped")
    assert(Dedup.embeddingPairs(spark, tmp, Dedup.MaxEmbeddingBlock)
      .count() === 6)
  }
}
