package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LongVectorDot.vector_dot
import graft.functions.PartialTopK.partial_topk

/** k-nearest-neighbor GRAPH construction over the embedding corpus — the
  * backbone structure behind semantic clustering, agglomerative near-dup
  * grouping, diversity sampling, and graph-based label propagation
  * (every SemDeDup-style pipeline builds one before it prunes).
  *
  * Unlike the ANN query family ([[graft.ops.VectorAgg]]), where a SMALL
  * query set probes a large corpus, the kNN graph ranks neighbors for
  * EVERY corpus vector — so the scale axis is the candidate-generation
  * bound, not the query count:
  *
  *   - `knn_graph_exact` — the correctness baseline: all-pairs fused
  *     integer dots, per-vector top-k through the bounded-heap
  *     [[graft.functions.PartialTopK]] aggregate (exchange carries ≤ k
  *     rows per (vector, partition), never the n² candidate stream), plus
  *     a `mutual` flag (edge present in BOTH directions — the robust edge
  *     set mutual-kNN clustering uses). DuckDB-oracle hash-exact.
  *     Quadratic by contract, like the exact-Jaccard pair oracles: it
  *     exists to gate the bounded twin and is excluded from the bench.
  *   - `knn_graph_ivf` — the 100 TB form: every vector probes its 3
  *     nearest k-means cells (the session's shared Lloyd index, assignment
  *     map-side broadcast-argmin), candidates are probed-cell occupants
  *     meeting in a cell equi-join, same top-k tail. Candidate work per
  *     vector is probed-cell occupancy — Σ occupancy² total, the SemDeDup
  *     bound — instead of n². Recall vs the exact twin pinned by KnnSpec.
  *   - `knn_graph_clusters` — mutual-kNN connected components over the
  *     IVF graph's edge set: mutual edges become 2-row buckets for the
  *     shared [[ScaleDedup.ccKeepers]] min-label propagation (O(log
  *     diameter) rounds), singletons keep themselves, cluster sizes from
  *     one bounded groupBy joined back. The output is the cluster
  *     assignment a semantic-dedup or stratified-sampling stage consumes.
  *
  * Reference anchor: the reference pipeline has no vector surface at all
  * (its nearest analog is variant grouping, track_parent_select.py:1-28 —
  * exact-key self-grouping); this family is part of the LLM-data-pipeline
  * surface the engine adds on top.
  */
object KnnGraph {

  private[ops] val K = 4

  /** Per-vector top-K neighbor edges from a scored (vec_id, neighbor_id,
    * dot) stream via the bounded-heap partial aggregate; ties broken by
    * neighbor_id asc, ranks 1-based.
    */
  private def topkEdges(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    scored
      .groupBy($"vec_id")
      .agg(partial_topk(
        struct((-$"dot").as("neg_dot"), $"neighbor_id".as("neighbor_id"), $"dot".as("dot")),
        K).as("topk"))
      .select($"vec_id", posexplode($"topk").as(Seq("pos", "s")))
      .select($"vec_id", ($"pos" + 1).cast("int").as("rank"),
        $"s.neighbor_id".as("neighbor_id"), $"s.dot".as("dot"))
  }

  /** Session-lifetime cache of the exact graph (the persisted-index-cache
    * discipline): at production scale the exact kNN graph is a landed
    * artifact the analytics jobs read, not something each of the seven
    * graph-analytics entries rebuilds with its own corpus² scored join.
    * The `knn_graph_exact` ENTRY still builds fresh — its bench row
    * measures the build; the analytics entries serve from this pin.
    */
  private val exactGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def exactGraphOf(spark: SparkSession, dir: String): DataFrame =
    exactGraphCache.synchronized {
      exactGraphCache.getOrElseUpdate((spark, dir),
        knnGraphExact(spark, dir).localCheckpoint())
    }

  /** Exact kNN graph (k=4) with the mutual-edge flag. The mutual check is
    * an equi-join of the n·k edge table against its own reversal — bounded
    * output, never touches the candidate stream.
    */
  def knnGraphExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = VectorAgg.quantized(spark, dir)
    val a = q.select($"vec_id", $"v".as("va"))
    val b = q.select($"vec_id".as("neighbor_id"), $"v".as("vb"))
    val scored = a.join(b, $"vec_id" =!= $"neighbor_id")
      .withColumn("dot", vector_dot($"va", $"vb"))
    withMutual(topkEdges(scored))
      .orderBy($"vec_id", $"rank")
  }

  private def withMutual(knn: DataFrame): DataFrame = {
    import knn.sparkSession.implicits._
    val back = knn.select($"vec_id".as("_b_src"), $"neighbor_id".as("_b_dst"))
    knn.join(back,
        knn("neighbor_id") === back("_b_src") && knn("vec_id") === back("_b_dst"),
        "left")
      .select($"vec_id", $"rank", $"neighbor_id", $"dot", $"_b_src".isNotNull.as("mutual"))
  }

  val knnGraphExactSql: String =
    s"""${LlmQueries.quantizedCte}, scored AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored
       |), knn AS (
       |  SELECT * FROM ranked WHERE rank <= $K
       |)
       |SELECT k.vec_id, CAST(k.rank AS INTEGER) AS rank, k.neighbor_id, k.dot,
       |  (m.vec_id IS NOT NULL) AS mutual
       |FROM knn k LEFT JOIN knn m
       |  ON m.vec_id = k.neighbor_id AND m.neighbor_id = k.vec_id
       |ORDER BY k.vec_id, k.rank""".stripMargin

  /** The IVF-bounded kNN graph: candidates restricted to each vector's 3
    * nearest k-means cells. Shares the session's cached Lloyd index
    * (k=16, iters=2) with the ANN family, so graph construction costs one
    * map-side assignment pass + the cell equi-join — the corpus never
    * self-joins unbounded.
    */
  def knnGraphIvf(spark: SparkSession, dir: String): DataFrame =
    withMutual(ivfEdges(spark, dir)).orderBy(col("vec_id"), col("rank"))

  private def ivfEdges(spark: SparkSession, dir: String): DataFrame =
    ivfEdgesOf(spark, dir, VectorAgg.quantized(spark, dir))

  /** Core over an injectable corpus slice (the saveKnnGraphOf append spec
    * builds the landed-half graph this way). Cells come from the
    * session's shared Lloyd index for `dir` — the coarse quantizer is
    * trained once per corpus, the FAISS IVF discipline.
    */
  private[graft] def ivfEdgesOf(spark: SparkSession, dir: String, q: DataFrame): DataFrame = {
    import spark.implicits._
    val cells = VectorAgg.kmeansCells(spark, dir, k = 16, iters = 2)
    val ranked = VectorAgg.withCellRank(q, cells)
    val assigned = ranked.select($"vec_id".as("neighbor_id"), $"v".as("vb"),
      element_at($"cellRank", 1).getField("cell").as("cell"))
    // 5-of-16-cell probe: the kNN graph is the hardest recall case in the
    // ANN family — EVERY vector queries, including the cell-boundary ones
    // whose rank-3/4 neighbors sit across the Voronoi edge — so it probes
    // deeper than the 2-3 cells the query-style entries use (still a >3×
    // candidate reduction; the probe depth, not the machinery, is the knob)
    val probed = ranked
      .select($"vec_id", $"v".as("va"),
        explode(transform(slice($"cellRank", 1, 5), s => s.getField("cell"))).as("cell"))
    // each neighbor lives in exactly one cell and a vector's probed cells
    // are distinct → every (vec, neighbor) pair appears at most once: no
    // dedup shuffle before the top-k aggregate
    val scored = probed.join(assigned, Seq("cell"))
      .filter($"vec_id" =!= $"neighbor_id")
      .withColumn("dot", vector_dot($"va", $"vb"))
    topkEdges(scored)
  }

  /** Mutual-kNN clusters over the IVF graph: undirected mutual edges →
    * min-label connected components ([[ScaleDedup.ccKeepers]]), singleton
    * vectors keep themselves, sizes from a bounded per-keeper rollup.
    */
  def knnGraphClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round 11: the EXACT mutual edge base (the kcore promotion's
    // rationale — the same oracle-expressible graph the triangle/
    // assortativity entries analyze), which makes the CC labels
    // hash-gated against a DuckDB reachability-closure oracle; the
    // IVF-built graph stays the 100 TB construction path with its own
    // entry (knn_graph_ivf — communities and pagerank moved to the
    // exact base with the rest of the analytics family this round)
    val knn = exactGraphOf(spark, dir)
    // materialize the edge table BEFORE label propagation: ccKeepersEdges
    // reads its input twice (the symmetric-adjacency union), and without
    // this each read would recompute the whole kNN-graph build (scored
    // join + top-k + mutual join) — measured 32 s vs ~2 s at sf0.1
    val edges = knn.filter($"mutual" && $"vec_id" < $"neighbor_id")
      .select($"vec_id".as("a"), $"neighbor_id".as("b"))
      .localCheckpoint()
    val keepers = ScaleDedup.ccKeepersEdges(edges)
    val all = VectorAgg.quantized(spark, dir).select($"vec_id")
    val labeled = all.join(keepers.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"keeper", $"vec_id").as("cluster"))
    val sizes = labeled.groupBy($"cluster").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster"))
      .select($"vec_id", $"cluster", $"cluster_size")
      .orderBy($"vec_id")
  }

  private val BeamWidth = 8
  private val BeamRounds = 3

  /** GRAPH-based ANN — HNSW-style best-first search re-expressed as
    * BOUNDED iterative joins (the third ANN paradigm beside IVF's
    * partitioning and PQ/PCA/SQ's compression: navigate a neighbor graph
    * instead of scanning cells): per round, every query's beam expands
    * through the undirected kNN adjacency, candidates score by the fused
    * integer dot, and the bounded-heap PartialTopK keeps the best
    * `BeamWidth` per query. A sequential HNSW descends one hop at a time
    * per query; the distributed form advances ALL queries one hop per
    * round — 3 rounds × (one equi-join on the node key + one partial-agg
    * top-B), beam state = queries×B rows, per-round candidate work ≤
    * queries×B×degree — INDEPENDENT of corpus size, the property that
    * makes graph ANN the serving-tier default.
    *
    * Mutual-kNN graphs disconnect into semantic clusters (that is what
    * [[knnGraphClusters]] exploits), so a single entry point would trap
    * the walk in the entry's component — HNSW solves this with upper
    * layers; the distributed analog here SEEDS every beam with each
    * k-means cell's min-id member (16 bounded seed rows, the coarse
    * layer the session's Lloyd index already provides). Self-matches are
    * screened at scoring. Rows-only; KnnGraphSpec pins recall@5 vs the
    * exact twin and dot-exactness on overlapping pairs.
    */
  def annTopkGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r16: ONE materialized quantized table feeds the edge build, the
    // vector store, and the query cohort — lazily each beam round's
    // score join re-ran the quantized scan (guide §1.2)
    val q = VectorAgg.quantized(spark, dir).localCheckpoint()
    val directed = ivfEdgesOf(spark, dir, q).select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    val adj = undirected(directed).localCheckpoint()
    val corpusVec = q.select($"vec_id".as("node"), $"v".as("nv"))
    val queries = q.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    beamSearch(queries, adj, cellSeeds(spark, dir), corpusVec)
      .filter(col("rank") <= 5)
      .select($"query_id", $"rank", $"node".as("neighbor_id"), $"dot")
      .orderBy($"query_id", $"rank")
  }

  private def undirected(directed: DataFrame): DataFrame = {
    import directed.sparkSession.implicits._
    directed.union(directed.select($"dst".as("src"), $"src".as("dst"))).distinct()
  }

  /** Per-cell min-id members: the ≤ k-row coarse entry layer. */
  private def cellSeeds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = VectorAgg.quantized(spark, dir)
    val cells = VectorAgg.kmeansCells(spark, dir, k = 16, iters = 2)
    VectorAgg.withCellRank(q, cells)
      .select($"vec_id", element_at($"cellRank", 1).getField("cell").as("cell"))
      .groupBy($"cell").agg(min($"vec_id").as("node"))
      .select($"node")
  }

  /** The shared beam core: every query advances one hop per round
    * through `adj`, scored by the fused integer dot against `corpusVec`
    * (node, nv), beam kept at `BeamWidth` by PartialTopK. Round-0
    * candidates = the seeds PLUS the query's own adjacency (known-item
    * seeding — harmless for non-member queries: the join finds no
    * edges). Self-matches screened at scoring. Returns the final ranked
    * beam (query_id, rank, node, dot).
    *
    * r16 (guide §2.3/§8 — shuffle keys, not payloads; SCALE_TREND
    * finding): the beam state and the per-round hop/dedup streams are
    * THIN (query_id, node, dot). The old form carried the query VECTOR
    * on every row — harmless at queries×BeamWidth grain, but the hop's
    * fan-out is beam × undirected DEGREE, and a mutual-kNN graph's hub
    * nodes concentrate exactly where beams converge: measured 3.67M
    * hop rows/round at the 10× corpus, each dragging a 64-long array
    * through the hop join, the two (query, node) dedup exchanges, and
    * the score join — ~1.9 GB per exchange per round, 18–28 s/round.
    * Now both vectors attach per round at the score join only (qv by a
    * query_id equi-join, nv by the node join), so exactly ONE exchange
    * per round carries an array and every other stream ships 3 longs.
    * `queries` is checkpointed here and `corpusVec` by the full-build and
    * from-index callers — each is referenced once per round and the lazy
    * form re-ran the shared quantized scan per reference. The append and
    * orphan-relink paths pass an unmaterialized `corpusVec`, so there
    * each round still re-runs that scan.
    */
  private def beamSearch(queries0: DataFrame, adj: DataFrame, seeds: DataFrame,
      corpusVec: DataFrame): DataFrame = {
    import queries0.sparkSession.implicits._
    val queries = queries0.localCheckpoint() // cohort-sized; read 5× below
    def topB(scored: DataFrame, b: Int): DataFrame =
      scored.groupBy($"query_id")
        .agg(partial_topk(
          struct((-$"dot").as("neg_dot"), $"node".as("node"), $"dot".as("dot")), b).as("topk"))
        .select($"query_id", posexplode($"topk").as(Seq("pos", "s")))
        .select($"query_id", ($"pos" + 1).cast("int").as("rank"),
          $"s.node".as("node"), $"s.dot".as("dot"))
    def score(cand: DataFrame): DataFrame =
      cand.join(queries, Seq("query_id"))
        .join(corpusVec, Seq("node"))
        .filter($"node" =!= $"query_id")
        .withColumn("dot", vector_dot($"qv", $"nv"))
        .select($"query_id", $"node", $"dot")
    val init = queries.select($"query_id", $"query_id".as("node"))
      .join(adj, col("node") === col("src"))
      .select($"query_id", $"dst".as("node"))
      .unionByName(queries.select($"query_id").crossJoin(broadcast(seeds)))
      .dropDuplicates("query_id", "node")
    var beam = topB(score(init), BeamWidth).localCheckpoint()
    for (_ <- 1 to BeamRounds) {
      val expanded = beam.select($"query_id", $"node", $"dot")
        .unionByName(
          score(beam.select($"query_id", $"node")
            .join(adj, col("node") === col("src"))
            .select($"query_id", $"dst".as("node"))
            .dropDuplicates("query_id", "node")))
        .dropDuplicates("query_id", "node")
      beam = topB(expanded, BeamWidth).localCheckpoint()
    }
    beam
  }

  /** Persist the navigable graph — the graph IS the index (what HNSW
    * serializes): the undirected adjacency + the seed layer. Vectors are
    * NOT copied; the embeddings table is the vector store the scoring
    * side reads (the hybrid_search_rrf_persisted division of labor).
    */
  def saveKnnGraph(spark: SparkSession, dir: String, indexPath: String): Unit =
    saveKnnGraphOf(spark, dir,
      VectorAgg.quantized(spark, dir), indexPath)

  /** Frame-based core (injectable for the append spec): builds the kNN
    * graph of `corpus` (same IVF-bounded construction as
    * [[knnGraphIvf]]) and lands adjacency + seeds.
    */
  private[graft] def saveKnnGraphOf(spark: SparkSession, dir: String,
      corpus: DataFrame, indexPath: String): Unit = {
    import spark.implicits._
    val directed = ivfEdgesOf(spark, dir, corpus)
      .select($"vec_id".as("src"), $"neighbor_id".as("dst"))
    undirected(directed)
      .repartition(1).write.mode("overwrite").parquet(s"$indexPath/adj")
    cellSeeds(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/seeds")
  }

  /** INCREMENTAL graph insertion — FAISS/HNSW `add()` on the graph axis:
    * each new vector finds its approximate nearest neighbors by running
    * the SAME beam search against the EXISTING graph (it is not in the
    * graph yet, so known-item seeding contributes nothing and the walk
    * starts from the seed layer), then links bidirectionally to its top
    * `K` results. Appended I/O is O(batch·K) edge rows; landed adjacency
    * files are untouched. Intra-batch edges (new↔new) are deliberately
    * not formed — the HNSW sequential-insert analog is folding smaller
    * batches; a periodic rebuild recovers them (the compaction cadence).
    */
  def appendToKnnGraph(spark: SparkSession, dir: String, batch: DataFrame,
      indexPath: String): Unit = {
    import spark.implicits._
    val adj = spark.read.parquet(s"$indexPath/adj")
    val seeds = spark.read.parquet(s"$indexPath/seeds")
    val corpusVec = VectorAgg.quantized(spark, dir)
      .select($"vec_id".as("node"), $"v".as("nv"))
    val newQ = batch.select($"vec_id".as("query_id"), $"v".as("qv"))
    val links = beamSearch(newQ, adj, seeds, corpusVec)
      .filter($"rank" <= K)
      .select($"query_id".as("src"), $"node".as("dst"))
    links.unionByName(links.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .repartition(1).write.mode("append").parquet(s"$indexPath/adj")
  }

  /** GDPR DELETE through the persisted graph — the append path's
    * inverse: every adjacency row touching a deleted vector drops (one
    * rewrite of the edge-metadata-sized `adj/` table; n·K rows, never
    * the corpus), deleted seeds leave the seed layer, and the SURVIVORS
    * that lost an edge re-link by running the SAME beam search against
    * the cleaned graph and appending bidirectional links to their top-K
    * results — exactly how a new vector joins, so the graph's
    * navigability invariant (every member holds ~K live links) is
    * restored by the machinery that created it. Deleted ids can never
    * be served afterwards: beam candidates come only from the cleaned
    * adjacency ∪ cleaned seeds, and the re-link scores against a
    * corpus view that excludes them. Re-delete is a no-op probe
    * (nothing in `adj/` or `seeds/` references the ids). Graph ANN is
    * approximate, so the spec pins containment and navigability — no
    * deleted id in state or results, orphans re-linked, queries still
    * k-deep — rather than bit-equality with a from-scratch rebuild.
    */
  def deleteFromKnnGraph(spark: SparkSession, dir: String, indexPath: String,
      vecIds: Seq[Long]): Unit = {
    import spark.implicits._
    val adjPath = s"$indexPath/adj"
    val seedsPath = s"$indexPath/seeds"
    val adj = spark.read.parquet(adjPath)
    val seeds = spark.read.parquet(seedsPath)
    val touched = adj.filter($"src".isin(vecIds: _*) || $"dst".isin(vecIds: _*))
      .localCheckpoint() // probed for the orphan set and the no-op guard
    val seedsDirty = !seeds.filter($"node".isin(vecIds: _*)).isEmpty
    if (touched.isEmpty && !seedsDirty) return // already deleted — no-op
    // survivors that lost an edge to a deleted node
    val orphans = touched.filter(!$"dst".isin(vecIds: _*))
      .select($"dst".as("vec_id")).distinct()
    val cleaned = adj
      .filter(!$"src".isin(vecIds: _*) && !$"dst".isin(vecIds: _*))
      .localCheckpoint() // pinned: the beam walks it, the final write lands it
    val liveSeeds = seeds.filter(!$"node".isin(vecIds: _*)).localCheckpoint()
    // the orphan re-link is computed BEFORE anything is written, against
    // the in-memory cleaned graph — so the adjacency lands as ONE atomic
    // replace of (cleaned ∪ new links). The earlier rewrite-then-append
    // form had an unrecoverable crash window: adj cleaned on disk but
    // links not yet appended meant the retry's no-op probe fired and the
    // orphans stayed under-linked forever.
    val q = VectorAgg.quantized(spark, dir)
    val corpusVec = q.filter(!$"vec_id".isin(vecIds: _*))
      .select($"vec_id".as("node"), $"v".as("nv"))
    val newQ = q.join(orphans, Seq("vec_id"), "left_semi")
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val links = beamSearch(newQ, cleaned, liveSeeds, corpusVec)
      .filter($"rank" <= K)
      .select($"query_id".as("src"), $"node".as("dst"))
    val nextAdj = cleaned.unionByName(
        links.unionByName(links.select($"dst".as("src"), $"src".as("dst"))))
      .distinct()
      .repartition(1)
      .localCheckpoint()
    // seeds first, then the adjacency: a crash between the two leaves
    // the old adjacency intact (ids still present → the retry's no-op
    // guard does NOT fire) and the whole op re-runs from scratch
    if (seedsDirty)
      AtomicRewrite.overwrite(liveSeeds.coalesce(1), seedsPath)
    AtomicRewrite.overwrite(nextAdj, adjPath)
  }

  /** Serve the fixed ANN query set from the LOADED graph. */
  def annTopkGraphFromIndex(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    import spark.implicits._
    val adj = spark.read.parquet(s"$indexPath/adj")
    val seeds = spark.read.parquet(s"$indexPath/seeds")
    // one materialized vector store for the per-round score joins (r16)
    val q = VectorAgg.quantized(spark, dir).localCheckpoint()
    val corpusVec = q.select($"vec_id".as("node"), $"v".as("nv"))
    val queries = q.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    beamSearch(queries, adj, seeds, corpusVec)
      .filter(col("rank") <= 5)
      .select($"query_id", $"rank", $"node".as("neighbor_id"), $"dot")
      .orderBy($"query_id", $"rank")
  }

  private val savedGraphs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  /** §2 entry `ann_topk_graph_persisted`: save-once per (session, dir),
    * then every call serves from the loaded adjacency — identical
    * algorithm and graph, so result-identity with the in-session entry is
    * spec-pinned (rows-only driver check).
    */
  def annTopkGraphPersisted(spark: SparkSession, dir: String): DataFrame = {
    val path = savedGraphs.synchronized {
      savedGraphs.getOrElseUpdate((spark, dir), {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_knn_graph_" +
          graft.Tables.dirKey(dir) +
          "_" + ProcessHandle.current().pid() +
          "_" + Integer.toHexString(System.identityHashCode(spark))
        saveKnnGraph(spark, dir, p)
        p
      })
    }
    annTopkGraphFromIndex(spark, dir, path)
  }

  /** The exact-graph mutual-edge prologue shared by the assortativity
    * and k-core oracles.
    */
  private[ops] def mutualCte: String =
    s"""${LlmQueries.quantizedCte}, scored AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, neighbor_id) AS rank
       |  FROM scored
       |), knn AS (
       |  SELECT * FROM ranked WHERE rank <= $K
       |), mutual AS (
       |  SELECT k.vec_id AS a, k.neighbor_id AS b
       |  FROM knn k JOIN knn m ON m.vec_id = k.neighbor_id AND m.neighbor_id = k.vec_id
       |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_graph_betweenness" -> (KnnCentrality.knnGraphBetweenness _),
    "knn_graph_closeness"   -> (KnnCentrality.knnGraphCloseness _),
    "knn_graph_link_predict" -> (KnnCensus.knnGraphLinkPredict _),
    "knn_graph_cc_star" -> (KnnCommunity.knnGraphCcStar _),
    "knn_graph_kcore" -> (KnnCensus.knnGraphKcore _),
    "knn_graph_assortativity" -> (KnnCensus.knnGraphAssortativity _),
    "knn_graph_communities" -> (KnnCommunity.knnGraphCommunities _),
    "knn_graph_triangles" -> (KnnCensus.knnGraphTriangles _),
    "knn_graph_exact"    -> (knnGraphExact _),
    "knn_graph_ivf"      -> (knnGraphIvf _),
    "knn_graph_clusters" -> (knnGraphClusters _),
    "knn_graph_pagerank" -> (KnnCentrality.knnGraphPagerank _),
    "knn_graph_hits"     -> (KnnCentrality.knnGraphHits _),
    "knn_graph_modularity" -> (KnnCommunity.knnGraphModularity _),
    "knn_graph_conductance" -> (KnnCommunity.knnGraphConductance _),
    "ann_topk_graph"     -> (annTopkGraph _),
    "ann_topk_graph_persisted" -> (annTopkGraphPersisted _)
  )

  /** Oracle for `knn_graph_ivf` (PROMOTED r11-cont): the shared
    * integer-exact Lloyd cells ([[VectorAgg.kmeansRankedCellsCte]]),
    * 5-deep probe for EVERY vector, exact-dot top-K edges, mutual flag
    * via the back-edge self-join — the approximate graph itself is
    * deterministic, so it hash-checks, not just its containment.
    */
  val knnGraphIvfSql: String =
    VectorAgg.kmeansRankedCellsCte +
      s"""
         |, assigned AS (
         |  SELECT vec_id AS neighbor_id, v AS nv, cell FROM ranked_cells WHERE rn = 1
         |), probed AS (
         |  SELECT vec_id, v AS va, cell FROM ranked_cells WHERE rn <= 5
         |), scored AS (
         |  SELECT p.vec_id, a.neighbor_id, ${VectorAgg.sqlDot("p.va", "a.nv")} AS dot
         |  FROM probed p JOIN assigned a USING (cell)
         |  WHERE p.vec_id <> a.neighbor_id
         |), knn2 AS MATERIALIZED (
         |  SELECT vec_id, neighbor_id, dot,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, neighbor_id) AS rank
         |  FROM scored QUALIFY rank <= $K
         |)
         |SELECT k.vec_id, CAST(k.rank AS INT) AS rank, k.neighbor_id, k.dot,
         |  (m.vec_id IS NOT NULL) AS mutual
         |FROM knn2 k LEFT JOIN knn2 m ON m.vec_id = k.neighbor_id AND m.neighbor_id = k.vec_id
         |ORDER BY k.vec_id, k.rank""".stripMargin

  /** Oracle for BOTH graph-ANN entries (PROMOTED r11-cont; the persisted
    * twin is spec-pinned row-identical): the navigable graph is the
    * deterministic IVF kNN graph, seeds are per-cell min members of the
    * unrolled Lloyd cells, and the beam is integer-dot scored with
    * (dot DESC, node) ties — so the 1 + BeamRounds beam states unroll
    * like every other iterative oracle (candidates = beam ∪ one-hop
    * expansion, DISTINCT, score, top-BeamWidth) and HNSW-style
    * graph search itself is hash-gated.
    */
  val annTopkGraphSql: String = {
    def beamRound(r: Int, cand: String) =
      s"""
         |, sc$r AS (
         |  SELECT c.query_id, c.node, ${VectorAgg.sqlDot("qq.qv", "nn.v")} AS dot
         |  FROM $cand c
         |  JOIN queriesg qq ON qq.query_id = c.query_id
         |  JOIN n nn ON nn.vec_id = c.node
         |  WHERE c.node <> c.query_id
         |), b$r AS MATERIALIZED (
         |  SELECT query_id, node, dot FROM (
         |    SELECT query_id, node, dot,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, node) AS rn
         |    FROM sc$r) WHERE rn <= $BeamWidth
         |)""".stripMargin
    val rounds = (1 to BeamRounds).map { r =>
      s"""
         |, cand$r AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM b${r - 1}
         |    UNION ALL
         |    SELECT b.query_id, a.dst AS node FROM b${r - 1} b JOIN adj a ON a.src = b.node)
         |)""".stripMargin + beamRound(r, s"cand$r")
    }.mkString
    VectorAgg.kmeansRankedCellsCte +
      s"""
         |, assignedg AS MATERIALIZED (
         |  SELECT vec_id AS neighbor_id, v AS nv, cell FROM ranked_cells WHERE rn = 1
         |), probedg AS (
         |  SELECT vec_id, v AS va, cell FROM ranked_cells WHERE rn <= 5
         |), scoredg AS (
         |  SELECT p.vec_id, a.neighbor_id, ${VectorAgg.sqlDot("p.va", "a.nv")} AS dot
         |  FROM probedg p JOIN assignedg a USING (cell)
         |  WHERE p.vec_id <> a.neighbor_id
         |), knn3 AS MATERIALIZED (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT vec_id, neighbor_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, neighbor_id) AS rank
         |    FROM scoredg) WHERE rank <= $K
         |), adj AS MATERIALIZED (
         |  SELECT vec_id AS src, neighbor_id AS dst FROM knn3
         |  UNION
         |  SELECT neighbor_id AS src, vec_id AS dst FROM knn3
         |), seedsg AS MATERIALIZED (
         |  SELECT MIN(neighbor_id) AS node FROM assignedg GROUP BY cell
         |), queriesg AS MATERIALIZED (
         |  SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id % 10 = 0
         |), cand0 AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT q3.query_id, a.dst AS node FROM queriesg q3 JOIN adj a ON a.src = q3.query_id
         |    UNION ALL
         |    SELECT q3.query_id, s.node FROM queriesg q3 CROSS JOIN seedsg s)
         |)""".stripMargin +
      beamRound(0, "cand0") + rounds +
      s"""
         |SELECT query_id, CAST(rn AS INT) AS rank, node AS neighbor_id, dot FROM (
         |  SELECT query_id, node, dot,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, node) AS rn
         |  FROM b$BeamRounds) WHERE rn <= 5
         |ORDER BY query_id, rank""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "knn_graph_betweenness" -> KnnCentrality.knnGraphBetweennessSql,
    "knn_graph_closeness"   -> KnnCentrality.knnGraphClosenessSql,
    "knn_graph_communities" -> KnnCommunity.knnGraphCommunitiesSql,
    "knn_graph_ivf" -> knnGraphIvfSql,
    "ann_topk_graph" -> annTopkGraphSql,
    "ann_topk_graph_persisted" -> annTopkGraphSql,
    "knn_graph_exact" -> knnGraphExactSql,
    "knn_graph_triangles" -> KnnCensus.knnGraphTrianglesSql,
    "knn_graph_link_predict" -> KnnCensus.knnGraphLinkPredictSql,
    "knn_graph_assortativity" -> KnnCensus.knnGraphAssortativitySql,
    "knn_graph_kcore" -> KnnCensus.knnGraphKcoreSql,
    "knn_graph_clusters" -> KnnCommunity.knnGraphCcSql,
    "knn_graph_cc_star" -> KnnCommunity.knnGraphCcSql,
    "knn_graph_pagerank" -> KnnCentrality.knnGraphPagerankSql,
    "knn_graph_hits" -> KnnCentrality.knnGraphHitsSql,
    "knn_graph_modularity" -> KnnCommunity.knnGraphModularitySql,
    "knn_graph_conductance" -> KnnCommunity.knnGraphConductanceSql
  )
}
