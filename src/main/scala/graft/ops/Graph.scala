package graft.ops

import graft.{Q, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate **cluster assignment**: connected components over the
  * MinHash-LSH candidate-pair graph, the step every production dedup
  * pipeline runs between pair generation and survivor selection (pairs
  * alone over-delete: {A~B, B~C} must collapse to ONE cluster {A,B,C}
  * with one survivor, not two independent pair decisions).
  *
  * The algorithm is iterative min-label propagation — each round every
  * vertex takes the min of its own label and its neighbours' labels —
  * run to a fixed point. Rounds = graph diameter; near-dup graphs are
  * dense little cliques (LSH connects most members of a cluster
  * directly), so the fixed point lands in 2-4 rounds in practice. Each
  * round is one shuffle keyed on vertex id over the PAIR GRAPH ONLY —
  * vertices with no candidate edge never enter the loop and are closed
  * as singletons by the final left join — so the iteration cost scales
  * with the (small) near-dup fraction of the corpus, not the corpus.
  * Lineage is cut with an eager localCheckpoint per round, otherwise
  * the plan doubles each iteration. For adversarial graph shapes the
  * alternating large-star/small-star variant
  * ([[alternatingStarComponents]]) bounds rounds at O(log n) with the
  * same per-round shuffle shape; [[connectedComponents]] falls back to
  * it automatically if propagation ever hits its round cap, so no input
  * shape can make the clustering fail.
  */
object Graph {

  /** Connected components of an undirected edge list `(a, b)`.
    * Returns `(v, comp)` for every vertex that appears in an edge, where
    * `comp` is the minimum vertex id of the component.
    *
    * Each round does min-label propagation along edges PLUS one pointer
    * jump (follow `comp` to ITS label — every label is a vertex id, so
    * the join is well-defined): jumping halves label-chain depth per
    * round, so convergence is O(log diameter) rounds, not O(diameter) —
    * a 2^25-diameter path converges inside the default cap. If the cap
    * is ever hit unconverged the method falls back to
    * [[alternatingStarComponents]] (theorem-bounded rounds) instead of
    * returning a silently-wrong clustering or throwing. */
  def connectedComponents(
      edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // Symmetrize once and materialize: every round re-reads this frame.
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("comp", col("v"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val prop = sym.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("comp"))
      val gathered = labels.union(prop)
        .groupBy("v").agg(min("comp").as("comp"))
      val parents = gathered
        .select(col("v").as("pv"), col("comp").as("pcomp"))
      val next = gathered.join(parents, col("comp") === col("pv"))
        .select(col("v"), col("pcomp").as("comp"))
        .localCheckpoint()
      // Convergence probe: one count over the (small) label frame per
      // round — the standard price of a driver-steered fixed point.
      changed = next
        .join(labels.withColumnRenamed("comp", "prev"), "v")
        .filter(col("comp") =!= col("prev"))
        .count()
      labels = next
      i += 1
    }
    if (changed != 0L) alternatingStarComponents(edges) else labels
  }

  /** Connected components by alternating large-star / small-star rounds
    * (the MapReduce CC algorithm of Kiveris, Lattanzi, Mirrokni, Rastogi
    * & Vassilvitskii, "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — public literature). Same output contract as
    * [[connectedComponents]]: `(v, comp)` for every vertex appearing in
    * an edge, comp = component minimum.
    *
    * Each round is two shuffles over the current edge frame:
    *  - large-star(u): every neighbor LARGER than u re-attaches to the
    *    minimum of u's closed neighborhood;
    *  - small-star(u): u and its smaller neighbors all attach to their
    *    minimum.
    * Both preserve connectivity and strictly shrink the potential; the
    * paper PROVES convergence in O(log² n) alternations for ANY graph —
    * long chains included — and reports O(log n) empirically, which is
    * why this is the fallback that makes the propagation cap a
    * performance knob rather than a correctness risk. The round cap here
    * is sized to the PROVEN bound (4·log2(n)² + 16 with n from a
    * one-time count — a generous constant over the theorem, not the
    * empirical log n), so no input shape the cluster could hold can
    * exhaust it; it exists only to bound a hypothetical implementation
    * bug, and convergence is verified by an exact edge-set fixed-point
    * check (exceptAll both ways), not by trusting the cap. */
  def alternatingStarComponents(edges: DataFrame): DataFrame = {
    // canonical undirected edge frame: (a, b) with a > b, loops dropped
    var e = edges
      .select(greatest(col("a"), col("b")).as("a"),
              least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // vertices that appear at all (self-loop-only vertices included) —
    // they must come back as singletons, matching propagation's contract
    val allV = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    val n = allV.count()
    // proven bound is O(log^2 n) (Kiveris et al. SoCC 2014, Thm 4.1);
    // the empirical behavior is ~log n rounds, but the cap must hold for
    // adversarial graphs too, so it is sized to the theorem
    val lg = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    val cap = 4 * lg * lg + 16
    var converged = false
    var i = 0
    while (!converged && i < cap && e.limit(1).count() > 0) {
      // large-star: symmetrize, find the closed-neighborhood min per
      // node, re-attach every strictly-larger neighbor to it
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .union(e.select(col("b").as("u"), col("a").as("w")))
      val lsMin = sym.groupBy("u").agg(min("w").as("mw"))
        .select(col("u"), least(col("u"), col("mw")).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(col("w") > col("u"))
        .select(col("w").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      // small-star: edges already point larger->smaller (a > b); per
      // larger endpoint, attach it and all its smaller neighbors to
      // the smallest of them
      val ssMin = ls.groupBy("a").agg(min("b").as("m"))
      val next = ls.join(ssMin, "a")
        .select(col("b").as("na"), col("m").as("nb"))
        .union(ssMin.select(col("a").as("na"), col("m").as("nb")))
        .filter(col("na") =!= col("nb"))
        .select(col("na").as("a"), col("nb").as("b"))
        .distinct()
        .localCheckpoint()
      // exact fixed-point probe (not a checksum): both frames are
      // candidate-pair scale, so two anti-join counts per round are cheap
      converged =
        next.exceptAll(e).limit(1).count() == 0L &&
        e.exceptAll(next).limit(1).count() == 0L
      e = next
      i += 1
    }
    require(converged || e.limit(1).count() == 0L,
      s"alternating-star did not reach its fixed point in $cap rounds " +
        "(proven O(log^2 n) bound exceeded - implementation bug)")
    // converged edges are stars: (v, root) per non-root vertex. Roots
    // label themselves; edge-less vertices (self-loop inputs) are their
    // own component.
    val stars = e.select(col("a").as("v"), col("b").as("comp"))
    allV.join(stars, Seq("v"), "left")
      .select(col("v"), coalesce(col("comp"), col("v")).as("comp"))
  }

  /** The component assignment is a dedup-pipeline *index artifact*
    * (cluster map), not per-query work: memoize it per (session,
    * dataset) so the assignment query and the size report share one
    * propagation run. The frame is localCheckpointed, so the cached
    * handle is a materialized table, safe to fan out. */
  // Session INSTANCE as key, not identityHashCode (hash reuse after GC
  // could hand a collision victim another session's frame) — same policy
  // as Similarity's index caches.
  private val ccCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Drop this session's memoized component assignments. The frames are
    * localCheckpointed RDD state — dropping the last reference lets the
    * ContextCleaner reclaim the blocks. Hook for
    * [[graft.Graft.clearCaches]]. */
  private[graft] def clearSessionCaches(s: SparkSession): Unit =
    ccCache.keySet.toSeq.filter(_._1 eq s).foreach(ccCache.remove)

  private def componentsFor(s: SparkSession, d: String): DataFrame =
    ccCache.getOrElseUpdate((s, d),
      connectedComponents(Dedup.minhashPairs(s, d)))

  /** Cluster id per document: min doc_id reachable through the MinHash
    * candidate graph; documents with no near-dup candidate are their own
    * cluster. The DuckDB oracle replays the same fixed point as a
    * recursive CTE (labels flood along symmetrized edges, min per
    * vertex), so the gate checks the clustering itself, not just the
    * pair set. */
  val qDedupComponents = Q(
    "q_dedup_components",
    (s, d) => {
      val comp = componentsFor(s, d)
      T.documents(s, d).select(col("doc_id"))
        .join(comp, col("doc_id") === col("v"), "left")
        .select(col("doc_id"),
                coalesce(col("comp"), col("doc_id")).as("comp"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${Dedup.minhashPairsSqlCte},
            e AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand
                  UNION ALL
                  SELECT b AS src, a AS dst FROM cand),
            -- linear min-label propagation (VERDICT r11 §2): the GROUP BY
            -- in the recursive term keeps ONE proposed label per target
            -- per wave (the min over the previous wave's frontier), so
            -- the component minimum floods BFS-style in O(E·diameter) —
            -- the old unaggregated closure accumulated ALL reachable
            -- smaller labels, O(k²) per k-doc clone clique (>50 CPU-min
            -- at sf3; this spelling: ~22 s, same result set)
            reach(v, l) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.dst, min(r.l) FROM reach r JOIN e ON e.src = r.v
              GROUP BY e.dst),
            comp AS (SELECT v, min(l) AS comp FROM reach GROUP BY v)
          SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
          ORDER BY d.doc_id"""))

  /** Cluster-size histogram: how many clusters of each size the
    * candidate graph collapses to — the dedup report a curation run
    * ships (size 1 = unique docs; the tail is the duplication mass).
    * Same component computation, two more tiny aggregations. */
  val qDedupClusterSizes = Q(
    "q_dedup_cluster_sizes",
    (s, d) => {
      val comp = componentsFor(s, d)
      T.documents(s, d).select(col("doc_id"))
        .join(comp, col("doc_id") === col("v"), "left")
        .select(coalesce(col("comp"), col("doc_id")).as("comp"))
        .groupBy("comp").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    },
    Some(s"""WITH RECURSIVE ${Dedup.minhashPairsSqlCte},
            e AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand
                  UNION ALL
                  SELECT b AS src, a AS dst FROM cand),
            -- linear min-label propagation (VERDICT r11 §2): the GROUP BY
            -- in the recursive term keeps ONE proposed label per target
            -- per wave (the min over the previous wave's frontier), so
            -- the component minimum floods BFS-style in O(E·diameter) —
            -- the old unaggregated closure accumulated ALL reachable
            -- smaller labels, O(k²) per k-doc clone clique (>50 CPU-min
            -- at sf3; this spelling: ~22 s, same result set)
            reach(v, l) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.dst, min(r.l) FROM reach r JOIN e ON e.src = r.v
              GROUP BY e.dst),
            comp AS (SELECT v, min(l) AS comp FROM reach GROUP BY v),
            assign AS (SELECT coalesce(c.comp, d.doc_id) AS comp
                       FROM documents d LEFT JOIN comp c ON d.doc_id = c.v),
            sizes AS (SELECT comp, count(*) AS sz FROM assign GROUP BY comp)
          SELECT sz, count(*) AS n_clusters FROM sizes
          GROUP BY sz ORDER BY sz"""))

  /** Generic survivor-selection core: one row per `groupCol` group —
    * the member with the highest `qualityCol` (ties to the smallest
    * `idCol`) — with the group size appended as `graft_sz` (namespaced
    * so it can never clobber a caller's column). Both windows share the
    * group partition, so selection and size ride ONE exchange; dedup
    * clusters are small by construction, so the per-group window never
    * skews a task. */
  def bestPerGroup(df: DataFrame, groupCol: String, qualityCol: String,
      idCol: String): DataFrame = {
    val byQuality = Window.partitionBy(groupCol)
      .orderBy(col(qualityCol).desc, col(idCol))
    df.withColumn("graft_rn", row_number().over(byQuality))
      .withColumn("graft_sz", count(lit(1)).over(Window.partitionBy(groupCol)))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
  }

  /** Survivor selection — the step a dedup run actually ships: per
    * near-dup cluster, keep the HIGHEST-QUALITY member (here: most
    * tokens, ties to the smallest doc_id), not the arbitrary min-id.
    * One row per cluster: id, survivor, survivor's token count, size. */
  val qDedupSurvivors = Q(
    "q_dedup_survivors",
    (s, d) => {
      val comp = componentsFor(s, d)
      val assigned = T.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(comp, col("doc_id") === col("v"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
      bestPerGroup(assigned, "comp", "n_tok", "doc_id")
        .select(col("comp"), col("doc_id").as("survivor"),
          col("n_tok").as("survivor_tokens"), col("graft_sz").as("sz"))
        .orderBy("comp")
    },
    Some(s"""WITH RECURSIVE ${Dedup.minhashPairsSqlCte},
            e AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand
                  UNION ALL
                  SELECT b AS src, a AS dst FROM cand),
            -- linear min-label propagation (VERDICT r11 §2): the GROUP BY
            -- in the recursive term keeps ONE proposed label per target
            -- per wave (the min over the previous wave's frontier), so
            -- the component minimum floods BFS-style in O(E·diameter) —
            -- the old unaggregated closure accumulated ALL reachable
            -- smaller labels, O(k²) per k-doc clone clique (>50 CPU-min
            -- at sf3; this spelling: ~22 s, same result set)
            reach(v, l) AS (
              SELECT src, src FROM e
              UNION
              SELECT e.dst, min(r.l) FROM reach r JOIN e ON e.src = r.v
              GROUP BY e.dst),
            comp AS (SELECT v, min(l) AS comp FROM reach GROUP BY v),
            assign AS (SELECT d.doc_id,
                              CAST(len(string_split(d.text, ' ')) AS BIGINT)
                                AS n_tok,
                              coalesce(c.comp, d.doc_id) AS comp
                       FROM documents d LEFT JOIN comp c ON d.doc_id = c.v),
            ranked AS (SELECT comp, doc_id, n_tok,
                              row_number() OVER (PARTITION BY comp
                                ORDER BY n_tok DESC, doc_id) AS rn,
                              count(*) OVER (PARTITION BY comp) AS sz
                       FROM assign)
          SELECT comp, doc_id AS survivor, n_tok AS survivor_tokens, sz
          FROM ranked WHERE rn = 1 ORDER BY comp"""))

  /** Degree distribution of the candidate-pair graph — the dedup-run
    * health dashboard read BEFORE trusting the clustering: a healthy
    * near-dup graph is almost all degree-0 with a thin tail of small
    * cliques; a fat tail (one doc with hundreds of partners) means a
    * boilerplate shingle or an under-capped hot band is about to chain
    * half the corpus into one component, and this histogram is where
    * that shows first. Per degree: doc count + id extents; degree-0
    * docs are closed in by a left join against the corpus (the
    * interesting row — "how much of the corpus is dup-free" — would
    * otherwise be missing). Scale shape: both union legs reuse ONE
    * cached pair frame; degrees aggregate on doc_id (near-dup-sized,
    * not corpus-sized), and the final histogram is bounded by the max
    * degree, which the band df-cap already bounds at [[Dedup.MaxPostingDf]]. */
  val qDedupPairDegree = Q(
    "q_dedup_pair_degree",
    (s, d) => {
      // the bands frame feeds BOTH the pair generation and the cap
      // census — build it once (persisted inside minhashBands); the pair
      // frame then feeds two union legs, so cache it too (see
      // [[qGraphTriangles]]); both evicted by [[graft.Graft.clearCaches]]
      val bands = Dedup.minhashBands(s, d)
      val pairs = Dedup
        .pairsFromGroups(bands, Seq("band_no", "band")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = pairs.select(col("a").as("doc_id"))
        .unionAll(pairs.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      // the cap census rides every report row (a broadcast 1-row scalar
      // graft — the q_subquery_scalar shape): the dashboard this
      // histogram feeds must SAY when the df-cap suppressed candidates
      // (VERDICT r9 §2 — "no silent caps" on the production path), or a
      // boilerplate-shingle corpus would read as duplicate-free
      val census = Dedup.capCensus(bands, Seq("band_no", "band"))
      T.documents(s, d).select(col("doc_id"))
        .join(deg, Seq("doc_id"), "left")
        .withColumn("degree", coalesce(col("degree"), lit(0L)))
        .groupBy("degree")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .crossJoin(broadcast(census))
        .orderBy("degree")
    },
    Some(s"""WITH ${Dedup.minhashPairsSqlCte},
           ${Dedup.capCensusSqlCte("bands_all")},
           ends AS (SELECT a AS doc_id FROM cand
                    UNION ALL SELECT b AS doc_id FROM cand),
           deg0 AS (SELECT doc_id, count(*) AS degree
                    FROM ends GROUP BY doc_id),
           deg AS (SELECT d.doc_id,
                     coalesce(g.degree, CAST(0 AS BIGINT)) AS degree
                   FROM documents d LEFT JOIN deg0 g USING (doc_id))
           SELECT degree, count(*) AS n_docs,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc,
             c.n_capped_bands, c.n_capped_docs
           FROM deg CROSS JOIN census c
           GROUP BY degree, c.n_capped_bands, c.n_capped_docs
           ORDER BY degree"""))

  /** Triangle census + global clustering coefficient of the
    * candidate-pair graph — the graph-analytics companion to
    * [[qDedupPairDegree]]: near-dup graphs should be CLIQUE-LIKE
    * (members of one cluster all pair with each other → high clustering
    * coefficient); a triangle-poor, wedge-rich graph means chains of
    * borderline pairs are bridging unrelated documents and the
    * components will over-merge. Triangles count via the standard
    * ordered two-join (a<b<c, so each triangle counts exactly once);
    * wedges from the degree frame (Σ d·(d−1)/2); coefficient =
    * 3·triangles/wedges in half-up integer ppm. Scale: all joins key on
    * vertex ids of the df-capped pair graph — per-vertex degree is
    * bounded by [[Dedup.MaxPostingDf]], so the e1.b=e2.a expansion is
    * bounded per vertex and the pair graph (near-dup-sized, never
    * corpus-sized) is the largest frame anywhere. */
  val qGraphTriangles = Q(
    "q_graph_triangles",
    (s, d) => {
      // the pair frame feeds FIVE consumers (three triangle legs, the
      // degree frame, the edge count) — without a cache the banded
      // pair-generation aggregation re-executes per reference (the
      // persisted bands save the corpus scan, not the pair pipeline).
      // The pair frame itself is near-dup-sized; evicted by
      // [[graft.Graft.clearCaches]].
      val pairs = Dedup.minhashPairs(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tri = pairs.as("e1")
        .join(pairs.as("e2"), col("e1.b") === col("e2.a"))
        .join(pairs.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = pairs.select(col("a").as("v"))
        .unionAll(pairs.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      val wed = deg.agg(count(lit(1)).as("n_vertices"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
      val ne = pairs.agg(count(lit(1)).as("n_edges"))
      wed.crossJoin(ne).crossJoin(tri)
        .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          when(col("n_wedges") === 0L, 0L)
            .otherwise(expr(
              "(2000000 * 3 * n_triangles + n_wedges) div (2 * n_wedges)"))
            .as("clustering_ppm"))
    },
    Some(s"""WITH ${Dedup.minhashPairsSqlCte},
           deg AS (SELECT v, count(*) AS dg FROM (
               SELECT a AS v FROM cand UNION ALL SELECT b AS v FROM cand)
             GROUP BY v),
           tri AS (SELECT count(*) AS n_triangles
                   FROM cand e1
                   JOIN cand e2 ON e1.b = e2.a
                   JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b),
           wed AS (SELECT count(*) AS n_vertices,
                     CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges
                   FROM deg),
           ne AS (SELECT count(*) AS n_edges FROM cand)
           SELECT w.n_vertices, ne.n_edges, w.n_wedges, t.n_triangles,
             CASE WHEN w.n_wedges = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((2000000 * 3 * t.n_triangles + w.n_wedges)
                            // (2 * w.n_wedges) AS BIGINT) END
               AS clustering_ppm
           FROM wed w, ne, tri t"""))

  val all: Seq[Q] = Seq(qDedupComponents, qDedupClusterSizes, qDedupSurvivors,
    qDedupPairDegree, qGraphTriangles)
}
