package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two paths:
  *   - `ann_topk`: brute-force cosine top-k — broadcast the (small) query
  *     set against a full corpus scan. The corpus is never shuffled; at
  *     100 TB this is one pass, embarrassingly parallel.
  *   - `ann_ivf`: coarse-quantized variant (sign-bit bucket on the leading
  *     dimensions) — queries only probe their own bucket, the IVF posture
  *     that prunes the scan at scale.
  *
  * Determinism: embeddings are quantized to integer fixed-point
  * (round(x·1000)), so dot products and squared norms are exact integer
  * aggregates (order-independent); the single cosine division afterwards is
  * one deterministic double op mirrored in the oracle.
  */
object Similarity extends QueryModule {
  /** Fixed-point quantized copy of the embedding. */
  private def quantized(e: Column): Column =
    transform(e, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd `long_dot` expression (no per-pair array allocation,
    * `functions/LongDotProduct.scala`), registered by GraftExtensions. */
  private def dot(a: Column, b: Column): Column =
    call_function("long_dot", a, b)

  /** Quantized corpus (vec_id, label, v, n2, cv, cn2), STAGED once per
    * fixture (r7): the fixed-point quantization and squared norms are
    * derived state — sign-once posture, like the snapshot store and the
    * MinHash signature store — so the six ANN queries (plus the recall
    * probe's three passes) scan pre-quantized longs instead of each
    * re-deriving them from the float embeddings. `cv`/`cn2` are the
    * scalar-quantized coarse copy (two decimal digits dropped —
    * floor(v/100), IEEE-exact in both engines) that `ann_sq_rerank`'s
    * first pass scans INSTEAD of `v`; columns a query never references
    * (`label`, and `v` itself in the coarse pass) are pruned from the
    * staged scan by Catalyst. The stage key is versioned: the staging
    * fingerprint tracks the FIXTURE, so a schema change to this frame
    * must move to a fresh key or a warm tmpdir would serve the old
    * columns. */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staging.stageFrame(spark, s"ann_corpus2_$dir",
      new java.io.File(dir, "embeddings.parquet"),
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          quantized(col("embedding")).as("v"))
        .withColumn("n2", dot(col("v"), col("v")))
        .withColumn("cv",
          transform(col("v"), e => floor(e.cast("double") / 100.0).cast("long")))
        .withColumn("cn2", dot(col("cv"), col("cv"))))

  /** Score → rank → keep k over a (corpus row × query) join. The rank
    * window partitions by `query_id` (few partitions when the query set
    * is small), but the plan never funnels the scored corpus through
    * them: the literal `rank <= k` filter triggers Catalyst's
    * InferWindowGroupLimit, which inserts a Partial-mode WindowGroupLimit
    * below the exchange — each input partition pre-reduces to its local
    * top-k per query, so the shuffle carries #partitions·k rows per
    * query, not the corpus. Plan shape is pinned by SimilaritySpec
    * ("pre-reduces per partition"). Shared by all three ANN variants —
    * they differ only in the candidate join. */
  private[ann] def scoreRankLimit(joined: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    joined
      .withColumn("cosine",
        dot(col("v"), col("qv")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private def cosineTopK(corpus: DataFrame, queries: DataFrame,
                         k: Int): DataFrame =
    scoreRankLimit(
      corpus.join(broadcast(queries), col("vec_id") =!= col("query_id")), k)

  /** Fused multi-arm top-k (r17): the recall rows used to run one full
    * candidate join + rank window PER arm (nprobe / coarse_k value) and
    * union the arms — the corpus was scanned and scored once per arm for
    * candidate sets that NEST by construction (arm a's candidates ⊆ arm
    * b's for a < b). Here the join runs ONCE at the deepest arm with
    * each candidate tagged `pmin` = the shallowest arm containing it;
    * candidates then explode into the arms that include them (bounded:
    * |arms| copies of top-k-bound rows, never of the corpus) and ONE
    * rank window partitioned by (arm, query) replays every arm's
    * ranking exactly. The literal rank filter still triggers
    * InferWindowGroupLimit, so each input partition pre-reduces to its
    * local top-k per (arm, query) before the window exchange. */
  private def armRankLimit(cand: DataFrame, arms: Seq[Int],
                           armCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cand
      .withColumn("cosine",
        dot(col("v"), col("qv")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .withColumn(armCol, explode(filter(array(arms.map(lit): _*),
        n => n >= col("pmin"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(armCol), col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col(armCol), col("query_id"), col("vec_id"))
  }

  /** Hits-vs-truth + per-(arm, query) recall grid shared by the fused
    * recall rows — one semi-join and one aggregate over all arms where
    * the unfused form paid one per arm. */
  private def recallGrid(truth: DataFrame, qids: DataFrame,
                         served: DataFrame, armCol: String,
                         arms: Seq[Int], k: Int): DataFrame = {
    val hits = served
      .join(truth, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col(armCol), col("query_id"))
      .agg(count(lit(1)).as("h"))
    qids.select(col("query_id"),
        explode(array(arms.map(lit): _*)).as(armCol))
      .join(hits, Seq(armCol, "query_id"), "left")
      .select(col("query_id"), col(armCol),
        coalesce(col("h"), lit(0L)).cast("int").as("hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / k)
          .as("recall_at_k"))
      .orderBy(armCol, "query_id")
  }

  /** Brute-force exact cosine top-k for a bounded query set. */
  def annTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
              k: Int = 10): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    cosineTopK(c, q, k)
  }

  /** Sign-bit coarse bucket over the first `bits` quantized dims
    * (2^bits cells). Cell population is N/2^bits on centered data, and
    * pair work inside a cell is quadratic in that population — pick
    * `bits` ≈ log2(N / target_cell_size) as the corpus grows (the 10×
    * scale probe in SCALING.md is the measured motivation). */
  private def bucket(v: Column, bits: Int = 3): Column =
    (1 to bits).map(i =>
      (element_at(v, i) > 0).cast("int") * (1 << (bits - i)))
      .reduce(_ + _)

  /** IVF-style bucketed ANN: probe only the query's own coarse cell. */
  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 5,
             k: Int = 10): DataFrame = {
    val c = corpus(spark, dir).withColumn("bucket", bucket(col("v")))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("qbucket"))
    scoreRankLimit(c.join(broadcast(q),
      col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id")), k)
  }

  /** Multi-probe IVF: each query probes its own cell plus the `bits`
    * Hamming-1 neighbor cells (one sign bit flipped) — the standard
    * `nprobe` recall knob. Sign-bit cells mis-bucket vectors that sit
    * near a quantization hyperplane; probing the adjacent cells recovers
    * them while still scanning only ~(bits+1)/2^bits of the corpus. The
    * probe fan-out explodes the (tiny, broadcast) query side, never the
    * corpus; each corpus vector lives in exactly one cell, so no pair is
    * scored twice. */
  def annIvfProbe(spark: SparkSession, dir: String, nQueries: Int = 5,
                  k: Int = 10, bits: Int = 3): DataFrame = {
    val c = corpus(spark, dir).withColumn("bucket", bucket(col("v"), bits))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("qbucket"))
    val probed = q.select(col("query_id"), col("qv"), col("qn2"),
      explode(array(col("qbucket") +: (0 until bits).map(j =>
        col("qbucket").bitwiseXOR(lit(1 << j))): _*)).as("pbucket"))
    scoreRankLimit(c.join(broadcast(probed),
      col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id")), k)
  }

  /** Scalar-quantized coarse scan + exact rerank — the two-stage shape a
    * 100 TB vector scan actually runs: pass 1 scans ONLY the coarse
    * columns (`cv`/`cn2`: two decimal digits dropped, so the scan reads
    * a fraction of the full-precision bytes; Catalyst prunes `v` out of
    * the parquet read, plan-asserted in SimilaritySpec) and keeps the
    * top `coarseK` candidates per query by coarse cosine; pass 2
    * re-scores ONLY those candidates (a broadcast of nQueries×coarseK
    * ids against a pruned `v` scan) with the exact integer dot and
    * emits the final top-k. Both ranks tie-break by vec_id, so the
    * two-stage result is deterministic and the oracle replays it
    * bit-exactly. Recall loss vs `ann_topk` is the coarseK knob (the
    * same trade `ann_recall` quantifies for the IVF family). */
  def annSqRerank(spark: SparkSession, dir: String, nQueries: Int = 5,
      k: Int = 10, coarseK: Int = 50): DataFrame = {
    val base = corpus(spark, dir)
    val q = base.filter(col("vec_id") < nQueries)
    val qCoarse = q.select(col("vec_id").as("query_id"),
      col("cv").as("qv"), col("cn2").as("qn2"))
    val cand = scoreRankLimit(
      base.select(col("vec_id"), col("cv").as("v"), col("cn2").as("n2"))
        .join(broadcast(qCoarse), col("vec_id") =!= col("query_id")),
      coarseK)
      .select(col("query_id"), col("vec_id"))
    val qExact = q.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("n2").as("qn2"))
    scoreRankLimit(
      base.select(col("vec_id"), col("v"), col("n2"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(qExact), "query_id"), k)
  }

  /** Dim guard shared by the training/assignment paths: `lloydUpdated`
    * builds centroid sums via element_at(v, 1..dim), so a vector shorter
    * than `dim` would yield NULL centroid elements that nearest_cell
    * then reads as undefined values — fail loudly instead (same guard
    * pattern as embeddingOutliers). */
  private def dimGuarded(df: DataFrame, dim: Int, who: String): DataFrame =
    df.withColumn("v",
      when(assert_true(size(col("v")) === dim,
        lit(s"$who: expected $dim-dim vector")).isNull,
        col("v")))

  /** One-row frame carrying the whole centroid set (cell ids ascending,
    * matrix flattened row-major), broadcast to make assignment a narrow
    * map (no join, no shuffle of the corpus). */
  private[ann] def packedCentroids(cents: DataFrame): DataFrame =
    cents
      .withColumn("c2", dot(col("c"), col("c")))
      .agg(sort_array(collect_list(
        struct(col("cell"), col("c"), col("c2")))).as("cs"))
      .select(
        transform(col("cs"), x => x.getField("cell")).as("cells"),
        flatten(transform(col("cs"), x => x.getField("c"))).as("flat"),
        transform(col("cs"), x => x.getField("c2")).as("c2s"))

  /** Nearest cell by exact integer distance (the ‖v‖² term cancels in
    * the argmin); ties -> lowest cell id. One codegen'd loop per row
    * (`functions/NearestCell.scala`) — the HOF form ran k×dim work
    * interpreted inside the lambda. */
  private[ann] def assignCells(df: DataFrame,
                               centsRow: DataFrame): DataFrame =
    df.crossJoin(broadcast(centsRow))
      .withColumn("cell", call_function("nearest_cell",
        col("v"), col("flat"), col("cells"), col("c2s")))
      .drop("cells", "flat", "c2s")

  /** Lloyd update: exact long sums per (cell, dim), ONE double division
    * + round per dimension back onto the integer lattice. */
  private def lloydUpdated(assignedDf: DataFrame, dim: Int): DataFrame =
    assignedDf.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"),
        array((1 to dim).map(i => sum(element_at(col("v"), i))): _*)
          .as("sv"))
      .select(col("cell"),
        transform(col("sv"),
          s => round(s.cast("double") / col("cnt"), 0).cast("long"))
          .as("c"))

  /** The k-means coarse-quantizer training (2 Lloyd iterations, seeds =
    * the first kCells vectors) — the index BUILD a real IVF runs at
    * scale, factored out so [[IvfStore]] can run it exactly once per
    * fixture and persist the result.
    *
    * Every arithmetic step is exact-integer so the training is
    * bit-reproducible against the oracle: vectors are the quantized long
    * lattice, centroids are re-quantized to longs after each mean update
    * (one double division + round per dimension — product-quantization
    * style), and distances are `n2 − 2·long_dot(v,c) + c2`, all longs.
    * Ties pick the lowest cell id (struct array_min ordering).
    *
    * Scale shape: the corpus is NEVER shuffled — assignment is a narrow
    * per-row argmin against a one-row broadcast of the (k × dim)
    * centroid array; each Lloyd round costs one corpus pass plus one
    * tiny hash aggregate whose exchange carries k·dim longs per map
    * partition. Returns the trained (cell, c) centroid frame. */
  private[ann] def trainCentroids(c: DataFrame, kCells: Int = 8,
                                  dim: Int = 64): DataFrame = {
    val g = dimGuarded(c, dim, "trainCentroids")
    // seeds = the kCells LOWEST vec_ids present — id-space-agnostic (a
    // live store whose ids start at 10⁶ seeds real vectors; a literal
    // `vec_id < kCells` filter would seed an EMPTY set there and train
    // garbage). On the dense 0-based fixture convention this selects
    // exactly {0..kCells-1}, so the oracle's `vec_id < 8` replay and
    // every staged index are byte-identical. Cell ids are the seed
    // RANKS (0..kCells-1), not raw vec_ids, for the same reason.
    import org.apache.spark.sql.expressions.Window
    val seeds = g.select(col("vec_id"), col("v"))
      .orderBy(col("vec_id")).limit(kCells) // TakeOrdered: partial top-k,
    // never a global sort; the rank window below runs on kCells rows
    val c0 = seeds
      .withColumn("cell", row_number().over(
        Window.orderBy(col("vec_id"))) - 1)
      .select(col("cell").cast("int"), col("v").as("c"))
    lloydUpdated(assignCells(g, packedCentroids(c0)), dim)
  }

  /** Trained-IVF query path, r8: reads the PERSISTED index
    * ([[IvfStore]] — trained centroids + per-vector cell assignments,
    * staged once per fixture) instead of re-running Lloyd training per
    * session. The plan is a parquet scan of assigned state joined on the
    * trained cell id exactly like `annIvf`; at 100 TB nobody retrains
    * per query — the index build is [[trainCentroids]], paid once inside
    * the staging write. Queries are a filter of the already-assigned
    * corpus (same centroids, deterministic argmin) — no assignment pass
    * anywhere in this plan. */
  def annIvfTrained(spark: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpusCells = IvfStore.fixtureIndex(spark, dir)
    val q = corpusCells.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    scoreRankLimit(corpusCells.join(broadcast(q),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id")), k)
  }

  /** Store-backed incremental IVF — the ingestion shape over the
    * persisted index (the `dedup_incremental_staged` posture applied to
    * ANN): the index is trained and assigned on the ACCUMULATED corpus
    * (doc-split convention vec_id % 10 < 8) and persisted; an incoming
    * batch (vec_id % 10 >= 8) is assigned against the STORED centroids —
    * one `nearest_cell` pass over the small batch only, never the
    * corpus — and queried together with the stored assignments. The
    * production append of the assigned batch is
    * [[IvfStore.appendAssigned]] (exercised by spec); this query keeps
    * the append out of its plan so repeated runs are idempotent. */
  /** The full store view of the incremental convention: the persisted
    * sub-index (accumulated corpus, vec_id % 10 < 8) UNION the incoming
    * batch assigned against the STORED (frozen) centroids — the frame
    * both [[annIvfStored]] queries and [[annIvfHealth]] audits. */
  private def storedAll(spark: SparkSession, dir: String,
                        keepMod: Int = 8): DataFrame = {
    val stored = IvfStore.subIndex(spark, dir, keepMod)
    val batch = corpus(spark, dir).filter(col("vec_id") % 10 >= keepMod)
      .select(col("vec_id"), col("v"), col("n2"))
    val batchAssigned = assignCells(
      dimGuarded(batch, 64, "annIvfStored"),
      IvfStore.subCentroidsRow(spark, dir, keepMod))
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
    stored.unionByName(batchAssigned)
  }

  def annIvfStored(spark: SparkSession, dir: String,
                   nQueries: Int = 5, k: Int = 10): DataFrame = {
    val all = storedAll(spark, dir)
    val q = IvfStore.fixtureSubIndex(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    scoreRankLimit(all.join(broadcast(q),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id")), k)
  }

  /** Multi-probe serving over the PERSISTED index — the production read
    * path of a trained IVF at scale: [[annIvfStored]] scans only each
    * query's own stored cell, which loses exactly the neighbors sitting
    * across a centroid boundary (the loss `annIvfHealth` measures).
    * Probing each query's `nprobe` NEAREST stored centroids — exact
    * integer distances against the SAME frozen centroid set the store
    * assigns batches with, ties to the lowest cell id — recovers them
    * while still scanning ~nprobe/kCells of the corpus.
    *
    * Scale shape: the centroid ranking runs entirely on the one-row
    * packed centroid broadcast (the scalar anchor batch assignment
    * already uses) — a per-query transform over kCells struct entries,
    * sorted in-row, top-`nprobe` exploded. The corpus side sees ONE
    * hash equi-join on cell against the (nQueries·nprobe)-row broadcast
    * — no corpus fan-out, no shuffle; each corpus vector lives in
    * exactly one cell so no pair is scored twice, and the partial
    * top-k of [[scoreRankLimit]] prunes before any exchange. */
  def annIvfStoredProbe(spark: SparkSession, dir: String,
                        nQueries: Int = 5, k: Int = 10, nprobe: Int = 2,
                        keepMod: Int = 8): DataFrame = {
    val all = storedAll(spark, dir, keepMod)
    val q = IvfStore.subIndex(spark, dir, keepMod)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    val probed = probedCells(q,
      IvfStore.subCentroidsRow(spark, dir, keepMod), nprobe)
    scoreRankLimit(all.join(broadcast(probed),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id")), k)
  }

  /** Each query's `nprobe` nearest stored centroids — the per-query
    * cell-ranking core of the multi-probe serving path, factored so
    * corpus-member queries ([[annIvfStoredProbe]]) and EXTERNAL query
    * frames ([[annQueryExternalProbe]]) share one plan: exact integer
    * distances against the one-row packed centroid broadcast, sorted
    * in-row (ties to the lowest cell id), top-`nprobe` exploded.
    * `q` must carry (query_id, qv, qn2). */
  private def scoredCells(q: DataFrame, centsRow: DataFrame): DataFrame =
    q.crossJoin(broadcast(centsRow))
      .withColumn("scored", transform(
        sequence(lit(0), size(col("cells")) - 1),
        i => struct(
          (col("qn2")
            - lit(2L) * call_function("long_dot", col("qv"),
                slice(col("flat"), i * size(col("qv")) + 1, size(col("qv"))))
            + element_at(col("c2s"), i + 1)).as("dist"),
          element_at(col("cells"), i + 1).as("cell"))))

  private def probedCells(q: DataFrame, centsRow: DataFrame,
                          nprobe: Int): DataFrame =
    scoredCells(q, centsRow)
      .select(col("query_id"), col("qv"), col("qn2"),
        explode(slice(sort_array(col("scored")), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("p.cell").as("qcell"))

  /** [[probedCells]] with each probed cell's RANK (1-based nearness
    * position) kept as `pmin` — the fused recall rows probe once at the
    * deepest requested nprobe and reconstruct every shallower arm from
    * this rank (a cell probed at rank r belongs to all arms np >= r). */
  private def probedCellsRanked(q: DataFrame, centsRow: DataFrame,
                                nprobe: Int): DataFrame =
    scoredCells(q, centsRow)
      .select(col("query_id"), col("qv"), col("qn2"),
        posexplode(slice(sort_array(col("scored")), 1, nprobe))
          .as(Seq("pidx", "p")))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("p.cell").as("qcell"), (col("pidx") + 1).as("pmin"))

  /** The fixture's EXTERNAL query frame — vectors NOT present in any
    * store or corpus scan: query q is the elementwise SUM of corpus
    * vectors 2q and 2q+1 (cosine is scale-invariant, so the sum IS the
    * pair's mean direction — a plausible "new document" embedding), in
    * exact integer arithmetic both engines replay. This is the frame
    * shape a retrieval user hands the serving path: (query_id, qv, qn2)
    * with ids in their own space, no corpus membership assumed. */
  private[ann] def externalQueries(spark: SparkSession, dir: String,
                                   nQueries: Int = 5): DataFrame = {
    val c = corpus(spark, dir)
    val a = c.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2L * nQueries)
      .select(expr("vec_id DIV 2").as("query_id"), col("v").as("va"))
    val b = c.filter(col("vec_id") % 2 === 1 && col("vec_id") < 2L * nQueries)
      .select(expr("(vec_id - 1) DIV 2").as("query_id"), col("v").as("vb"))
    a.join(b, "query_id")
      .select(col("query_id"),
        zip_with(col("va"), col("vb"), (x, y) => x + y).as("qv"))
      .withColumn("qn2", dot(col("qv"), col("qv")))
  }

  /** Quantize a caller's raw (query_id, embedding: Array[Float]) frame
    * into the serving shape (query_id, qv, qn2) — the SAME fixed-point
    * lattice the staged corpus lives on, so a literal vector a user
    * hands the serving tier scores with exact integer dots against
    * stored state. */
  def quantizeQueries(q: DataFrame): DataFrame =
    q.select(col("query_id"), quantized(col("embedding")).as("qv"))
      .withColumn("qn2", dot(col("qv"), col("qv")))

  /** Exact brute-force top-k of an ARBITRARY (query_id, qv, qn2) frame
    * against a quantized (vec_id, v, n2) corpus — the baseline serving
    * core for query vectors with no corpus membership: one broadcast
    * of the bounded query set against a full corpus scan, scored with
    * the codegen integer-dot kernel, pre-reduced per partition by the
    * rank window. No self-exclusion — external ids are their own
    * space. A real caller builds the frame from a literal vector
    * ([[quantizeQueries]]); the fixture form is [[annQueryExternal]]. */
  def annServe(corpus: DataFrame, queries: DataFrame,
               k: Int = 10): DataFrame =
    scoreRankLimit(
      corpus.select(col("vec_id"), col("v"), col("n2"))
        .crossJoin(broadcast(queries)), k)

  /** [[annServe]] on the fixture's derived external query frame. */
  def annQueryExternal(spark: SparkSession, dir: String,
                       nQueries: Int = 5, k: Int = 10): DataFrame =
    annServe(corpus(spark, dir), externalQueries(spark, dir, nQueries), k)

  /** Multi-probe serving of an ARBITRARY (query_id, qv, qn2) frame
    * over a PERSISTED index — the production read path for new
    * vectors: rank the stored centroids per query on the one-row
    * packed broadcast ([[probedCells]], the same machinery
    * corpus-member serving uses), then ONE hash equi-join on cell
    * against the assigned store — the corpus scans ~nprobe/kCells of
    * its cells and the query frame never needs corpus membership.
    * `assigned` is a (vec_id, v, n2, cell) frame ([[IvfStore]] scan ∪
    * assigned batch); `centsRow` the index's packed centroid row. This
    * is the first request a retrieval or embedding-dedup user makes
    * with a new document's vector. */
  def annServeProbe(assigned: DataFrame, centsRow: DataFrame,
                    queries: DataFrame, k: Int = 10,
                    nprobe: Int = 2): DataFrame =
    scoreRankLimit(assigned.join(
      broadcast(probedCells(queries, centsRow, nprobe)),
      col("cell") === col("qcell")), k)

  /** [[annServeProbe]] on the fixture store + derived query frame. */
  def annQueryExternalProbe(spark: SparkSession, dir: String,
                            nQueries: Int = 5, k: Int = 10,
                            nprobe: Int = 2, keepMod: Int = 8): DataFrame =
    annServeProbe(storedAll(spark, dir, keepMod),
      IvfStore.subCentroidsRow(spark, dir, keepMod),
      externalQueries(spark, dir, nQueries), k, nprobe)

  /** Recall@k of the external-query serving path vs its own brute-force
    * truth, per nprobe ∈ {1, 2, 4} — [[annStoredRecall]]'s shape for
    * queries OUTSIDE the corpus: how much of an external query's true
    * top-k each probed cell recovers, the number that tunes nprobe for
    * the serving tier. Deterministic end to end, oracle-replayed. */
  def annExternalRecall(spark: SparkSession, dir: String,
                        k: Int = 10): DataFrame = {
    val truth = annQueryExternal(spark, dir, k = k)
      .select(col("query_id"), col("vec_id"))
    val qids = truth.select(col("query_id")).distinct()
    // fused arms (r17, see armRankLimit): probe once at nprobe = 4 with
    // cell ranks kept, join the store ONCE (the annServeProbe join, no
    // self-exclusion — external ids are their own space), replay each
    // arm's ranking from the rank tags. Was: one store join + window +
    // semi-join per arm, unioned.
    val probed = probedCellsRanked(externalQueries(spark, dir),
      IvfStore.subCentroidsRow(spark, dir, 8), 4)
    val served = armRankLimit(
      storedAll(spark, dir).join(broadcast(probed),
        col("cell") === col("qcell")),
      Seq(1, 2, 4), "nprobe", k)
    recallGrid(truth, qids, served, "nprobe", Seq(1, 2, 4), k)
  }

  /** Index-freshness telemetry for the persisted IVF store — the drift
    * number an operator reads to decide when to RETRAIN: the store
    * appends batches assigned against frozen centroids
    * ([[IvfStore.appendAssigned]]), which is correct but decays silently
    * under distribution drift; `ann_recall`/`lsh_recall` watch their
    * derivations at train time, nothing watched the STORE. One row:
    *
    *   - cell occupancy of the stored assignments (sub-index + appended
    *     batch): `n_vecs`, `n_cells`, `max_cell`, `mean_cell`, and
    *     `cell_skew` = max/mean — a skew climbing over appends means
    *     incoming data is piling into few stale cells (the scan-pruning
    *     win of IVF evaporates for exactly the hot cells);
    *   - `store_hits` / `store_recall_at_k`: overlap of the store-served
    *     top-k ([[annIvfStored]]) with a FRESHLY-trained full-corpus
    *     index's top-k ([[annIvfTrained]]) on the same queries — the
    *     recall the operator is actually giving up by not retraining.
    *
    * Scale shape: occupancy is one map-side-combined aggregate of the
    * assignment scan (cell cardinality rows, then a single-row rollup);
    * the recall side joins two k·|queries|-row frames (both tiny top-k
    * results) — the corpus passes are the ones the underlying queries
    * already make, and every input is deterministic so the oracle
    * replays the whole computation exactly. */
  def annIvfHealth(spark: SparkSession, dir: String, k: Int = 10,
                   keepMod: Int = 8, nQueries: Int = 5): DataFrame = {
    val all = storedAll(spark, dir, keepMod)
    val occ = all
      .groupBy(col("cell")).agg(count(lit(1)).as("cn"))
      .agg(sum(col("cn")).as("n_vecs"), count(lit(1)).as("n_cells"),
        max(col("cn")).as("max_cell"),
        (sum(col("cn")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_cell"))
      .withColumn("cell_skew",
        col("max_cell").cast("double") / col("mean_cell"))
    val truth = annIvfTrained(spark, dir, nQueries = nQueries, k = k)
      .select(col("query_id"), col("vec_id"))
    // served top-k over the full store view with queries drawn from it
    // (identical to annIvfStored at the fixture split, where queries
    // vec_id < nQueries all live in the stored 80%; drawing from the
    // union keeps the same query set at ANY keepMod — what the oracle's
    // allv-vs-allv join replays)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    val served = scoreRankLimit(all.join(broadcast(q),
      col("cell") === col("qcell") && col("vec_id") =!= col("query_id")), k)
      .select(col("query_id"), col("vec_id"))
    val hits = truth.join(served, Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("store_hits"))
    val tn = truth.agg(count(lit(1)).as("truth_n"))
    occ.crossJoin(broadcast(hits)).crossJoin(broadcast(tn))
      .select(col("n_vecs"), col("n_cells"), col("max_cell"),
        col("mean_cell"), col("cell_skew"),
        col("store_hits").cast("int").as("store_hits"),
        (col("store_hits").cast("double") / col("truth_n").cast("double"))
          .as("store_recall_at_k"))
  }

  /** Embedding outlier detection — the curation stage that flags
    * mis-embedded/mislabeled vectors: cosine of each vector to its label
    * group's centroid, bottom-k least-central per label. Cosine is
    * scale-invariant, so the centroid is represented by the EXACT integer
    * sum vector (cos(v, mean) == cos(v, sum)) — the aggregate never
    * divides, every sum is a long, and the one double division per vector
    * is mirrored in the oracle. The per-label sum vectors are a tiny
    * broadcast; the corpus takes two narrow column-pruned passes (one
    * single-shuffle aggregate to build the label sums, one to score)
    * and the scoring pass is
    * pre-reduced per partition by the rank window (same
    * InferWindowGroupLimit shape as ann_topk). */
  def embeddingOutliers(spark: SparkSession, dir: String,
                        k: Int = 5, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(spark, dir)
    // per-label sum vector as ONE hash aggregate of `dim` long sums —
    // no posexplode (a dim× row blowup), no second shuffle, no
    // collect_list/sort array rebuild; partial aggregation means the
    // exchange carries labels×dim longs per map partition regardless of
    // corpus size. `dim` is a pipeline constant; the assert_true guard
    // fails the job loudly on a mismatched vector instead of letting
    // element_at's null silently drop a dimension from the centroid.
    val sumVecs = c
      .select(col("label"),
        when(assert_true(size(col("v")) === dim,
          lit(s"embeddingOutliers: expected $dim-dim vector")).isNull,
          col("v")).as("v"))
      .groupBy(col("label"))
      .agg(array((1 to dim).map(i => sum(element_at(col("v"), i))): _*)
        .as("sv"))
      .withColumn("s2", dot(col("sv"), col("sv")))
    c.join(broadcast(sumVecs), "label")
      .withColumn("centroid_cos",
        dot(col("v"), col("sv")).cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("s2").cast("double"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("centroid_cos").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("label"), col("vec_id"), col("rank"), col("centroid_cos"))
      .orderBy("label", "rank")
  }

  /** Embedding-cosine near-duplicate pairs: candidates only within the
    * same coarse bucket (never all-pairs), kept when cosine clears the
    * threshold — the embedding analog of MinHash near-dedup. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.95,
                       bucketBits: Int = 3): DataFrame = {
    val c = corpus(spark, dir)
      .withColumn("bucket", bucket(col("v"), bucketBits))
    val a = c.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("n2").as("na"), col("bucket"))
    val b = c.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("n2").as("nb"), col("bucket").as("bucket_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cosine",
        dot(col("va"), col("vb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** [[embeddingNearDup]] with the LSH bucket-size cap applied to cells
    * (SCALING.md "what breaks first" #2, same mechanics as
    * `NearDup.minhashLshFromSigs`): cells above `cap` sub-salt into
    * ceil(n/cap) deterministic sub-buckets via the shared md5-nibble
    * salt, bounding per-cell pair work at O(n·cap) — the fixed-bits
    * variant's quadratic blowup (measured 48 s at the 10× probe)
    * becomes linear in cell population. Within-sub-bucket duplicates
    * are still found; cross-sub-bucket pairs are the documented recall
    * trade (capped output ⊆ uncapped, spec-pinned), and replicated
    * duplicates of one vector still collide because the salt keys on
    * vec_id, spreading COPIES apart while each sub-bucket stays a
    * uniform sample of the cell. Complements [[embeddingNearDupAuto]]:
    * auto-sizing keeps the EXPECTED cell small; the cap bounds the
    * worst single cell (a degenerate embedding cluster) regardless. */
  def embeddingNearDupCapped(spark: SparkSession, dir: String,
                             threshold: Double = 0.5, bucketBits: Int = 3,
                             cap: Int = 256): DataFrame =
    nearDupCappedFrame(
      corpus(spark, dir).select(col("vec_id"), col("v"), col("n2")),
      threshold, bucketBits, cap)

  /** [[embeddingNearDupCapped]] over an explicit quantized
    * (vec_id, v, n2) frame — the spec-testable core. */
  private[ann] def nearDupCappedFrame(c0: DataFrame, threshold: Double,
                                      bucketBits: Int, cap: Int): DataFrame =
    cappedPairsWithin(c0
      .withColumn("bucket", bucket(col("v"), bucketBits))
      .select(col("vec_id"), col("v"), col("n2"), col("bucket")),
      threshold, cap)

  /** Capped within-partition cosine pairs over a PRE-PARTITIONED
    * (vec_id, v, n2, bucket) frame — the candidate-generation core
    * shared by the hash-bucket form ([[nearDupCappedFrame]]) and the
    * trained-cell form ([[embeddingNearDupSemantic]]); the partition
    * key's provenance (sign bits vs trained quantizer) is the only
    * difference between them. */
  private[graft] def cappedPairsWithin(c: DataFrame, threshold: Double,
                                       cap: Int): DataFrame = {
    // only cells over the cap survive — bounded by degenerate-cluster
    // count, not corpus size
    val oversized = c.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap)
    // r18: ONE exchange, no candidate rows (the r17 hamming_near_pairs
    // shape applied to vectors — guide §2.4). History of this site: the
    // r13 form carried both vectors through a (bucket, salt) sort-merge
    // self-join (measured allocation/GC residual, e = 1.31 at 10×→30×);
    // r14 late-materialized — skinny id self-join plus TWO id-keyed
    // vector fetch joins — which still materialized every candidate
    // pair as a joined row (O(n·cap), tens of millions at 10×) and
    // exchanged the pair stream twice more; an r18 two-coordinate bound
    // gate on the self-join pruned too little to matter (within-cell
    // members are already similar: 8.9 → 7.9 s at 10×, reverted). This
    // form groups each capped bucket's members ONCE (collect_list
    // bounded by the sub-salt cap) and runs the n(n−1)/2 loop inside
    // the native `cosine_near_pairs` kernel, emitting only survivors:
    // the vector frame crosses exactly one exchange, candidates never
    // materialize, and the cosine arithmetic is bit-identical (kernel
    // scaladoc pins the null/NaN edges).
    // PRECONDITION (every caller satisfies it: staged indexes,
    // quantized corpus scans, brute blocks — one row per vec_id): ids
    // are unique (the kernel still refuses id_a = id_b pairs, as the
    // join's id_a < id_b did).
    val keyed = c.select(col("vec_id"), col("v"), col("n2"), col("bucket"))
      .join(broadcast(oversized), Seq("bucket"), "left")
      .withColumn("salt",
        when(col("bn").isNull, lit(0L)).otherwise(
          pmod(graft.text.NearDup.saltHash(col("vec_id")),
            expr(s"(bn + ${cap - 1}) DIV $cap"))))
      .drop("bn")
    keyed.groupBy(col("bucket"), col("salt"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("n2")))
        .as("members"))
      .select(explode(call_function("cosine_near_pairs",
        col("members"), lit(threshold))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cosine").as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-shaped semantic near-dedup: candidate pairs only within
    * the same TRAINED IVF cell — the data-adaptive partition of the
    * embedding space — instead of the data-oblivious sign-bit bucket
    * the other `dedup_embedding*` forms key on. Clustering-then-
    * within-cluster-pairs is the published recipe for semantic
    * deduplication at corpus scale (pairs near in MEANING land in the
    * same k-means cell even when no sign bit separates their cosine
    * band), and it reuses the index the ANN serving path already
    * persists: the plan is a parquet scan of the staged assignments
    * ([[IvfStore.fixtureIndex]] — training happened once, inside the
    * staging write, never in this plan) through the shared capped pair
    * core. The bucket-size cap applies unchanged — a degenerate cell
    * (the mode cluster of a templated corpus) sub-salts instead of
    * going quadratic, the same worst-single-cell bound as the hash
    * forms. Third partition axis of the family: fixed sign bits
    * (priced quadratic demo), auto-sized bits (expected-cell control),
    * trained cells (semantic recall). */
  def embeddingNearDupSemantic(spark: SparkSession, dir: String,
                               threshold: Double = 0.5,
                               cap: Int = 256): DataFrame =
    cappedPairsWithin(
      IvfStore.fixtureIndex(spark, dir)
        .select(col("vec_id"), col("v"), col("n2"),
          col("cell").as("bucket")),
      threshold, cap)

  /** [[embeddingNearDupSemantic]] with the quantizer SIZED FOR DEDUP
    * instead of borrowed from the serving index: SemDeDup's recall
    * lever is k — cells shrink toward the target cell size n / k, so
    * more true near-pairs share a cell (recall) while per-cell pair
    * work drops (cost); the production rule is k ≈ n / targetCellSize
    * and the fixture pins `kCells` explicitly so the DuckDB oracle's
    * Lloyd replay stays a compile-time constant. Trains and stages its
    * own quantizer under a dedup key ([[IvfStore.dedupIndexPath]] —
    * training happened once, inside the staging write, never in this
    * plan); the serving index is untouched. The recall-vs-k trade is
    * MEASURED, not assumed: `graft.SemanticDedupSweep` prices k ∈
    * {8, 32, 128} against the brute-force truth (SCALING.md table). */
  def embeddingNearDupSemanticK(spark: SparkSession, dir: String,
                                kCells: Int = 32,
                                threshold: Double = 0.5,
                                cap: Int = 256): DataFrame =
    cappedPairsWithin(
      IvfStore.read(spark, IvfStore.dedupIndexPath(spark, dir, kCells))
        .select(col("vec_id"), col("v"), col("n2"),
          col("cell").as("bucket")),
      threshold, cap)

  /** EXHAUSTIVE near-dup pairs — the ground truth the recall sweep
    * divides by (`graft.SemanticDedupSweep`), deliberately quadratic
    * in WORK but parallel in SHAPE: a triangle block decomposition —
    * each vector lands in block id % `blocks`, a tiny broadcast
    * relation enumerates the (ga ≤ gb) block pairs, and each block
    * pair's task checks its (n/B)² candidates. Every unordered pair
    * appears exactly once (cross-block pairs once by side assignment;
    * diagonal blocks keep id_a < id_b), so this is complete — a
    * single-bucket spelling through the capped core would funnel the
    * whole n²/2 enumeration through ONE task. Every bucketed variant's
    * output is a SUBSET of this (pairs are exact-verified inside their
    * cells), so recall = count ratio, no pair join. Sweep telemetry
    * only — never a registered query, never a data path. */
  private[graft] def brutePairs(spark: SparkSession, dir: String,
                                threshold: Double = 0.5,
                                blocks: Int = 16): DataFrame =
    brutePairsFrame(spark,
      corpus(spark, dir).select(col("vec_id"), col("v"), col("n2")),
      threshold, blocks)

  /** [[brutePairs]] over an explicit (vec_id, v, n2) frame — the
    * media feature vectors' truth pass reuses the same triangle-block
    * decomposition (`graft.MediaSemanticSweep`). */
  private[graft] def brutePairsFrame(spark: SparkSession, c: DataFrame,
                                     threshold: Double,
                                     blocks: Int = 16): DataFrame = {
    val a = c.select(col("vec_id").as("ia"), col("v").as("va"),
      col("n2").as("na")).withColumn("ga", pmod(col("ia"), lit(blocks)))
    val b = c.select(col("vec_id").as("ib"), col("v").as("vb"),
      col("n2").as("nb")).withColumn("gb", pmod(col("ib"), lit(blocks)))
    import spark.implicits._
    val bp = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
        .toDF("ga", "gb"))
    a.join(bp, "ga").join(b, "gb")
      // diagonal blocks order by id; cross blocks take every (a, b)
      // combination once by construction — normalize the emitted pair
      .filter(col("ga") =!= col("gb") || col("ia") < col("ib"))
      .withColumn("cosine",
        dot(col("va"), col("vb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
  }

  /** IVF recall telemetry: recall@k of the bucketed variants against the
    * exact brute-force truth, per query and per `nprobe` (1 = own cell
    * only, `bits`+1 = multi-probe). This is THE tuning number an
    * operator reads at 100 TB — how much recall each probed cell buys
    * against the fraction of corpus scanned — quantifying what
    * SimilaritySpec only asserts qualitatively. All three inputs are
    * deterministic, so the oracle replays the whole computation exactly.
    *
    * Scale shape: the per-variant membership check is a left-semi join
    * of two k·|queries|-row frames (tiny — both sides are top-k
    * results), then one small aggregate; the corpus passes are the ones
    * the underlying ANN queries already make. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val truth = annTopK(spark, dir, k = k)
      .select(col("query_id"), col("vec_id"))
    val qids = truth.select(col("query_id")).distinct()
    // fused arms (r17, see armRankLimit): nprobe = 1 is the query's own
    // sign-bit cell (annIvf), nprobe = 4 adds the bits Hamming-1
    // neighbor cells (annIvfProbe) — nested by construction, so ONE
    // corpus join tagged with each probed cell's shallowest arm replays
    // both. Was: two corpus joins + windows + semi-joins, unioned.
    val bits = 3
    val c = corpus(spark, dir).withColumn("bucket", bucket(col("v"), bits))
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("qbucket"))
    val probed = q.select(col("query_id"), col("qv"), col("qn2"),
      explode(array(
        struct(col("qbucket").as("pbucket"), lit(1).as("pmin")) +:
          (0 until bits).map(j =>
            struct(col("qbucket").bitwiseXOR(lit(1 << j)).as("pbucket"),
              lit(4).as("pmin"))): _*)).as("p"))
      .select(col("query_id"), col("qv"), col("qn2"),
        col("p.pbucket").as("pbucket"), col("p.pmin").as("pmin"))
    val served = armRankLimit(
      c.join(broadcast(probed),
        col("bucket") === col("pbucket") &&
          col("vec_id") =!= col("query_id")),
      Seq(1, 4), "nprobe", k)
    recallGrid(truth, qids, served, "nprobe", Seq(1, 4), k)
  }

  /** Recall@k of the STORED-index serving path vs the exact brute-force
    * truth, per nprobe ∈ {1, 2, 4} — [[annRecall]]'s twin for the
    * persisted k-means index: where `ann_recall` tunes the sign-bit
    * bucketing family, this tunes the index production actually serves
    * ([[annIvfStored]] / [[annIvfStoredProbe]]). Read together with
    * [[annIvfHealth]] it closes the operator's decision loop: when
    * store recall drifts, this row says how much of the loss probing
    * more cells recovers — probe-count is a per-query knob, retraining
    * ([[IvfMaintenance.retrainIfStale]]) is a store rewrite; you spend
    * the cheap one first. Same deterministic construction as
    * [[annRecall]] (tiny top-k semi-joins over scans the serving
    * queries already make), so the oracle replays it exactly. */
  def annStoredRecall(spark: SparkSession, dir: String,
                      k: Int = 10): DataFrame = {
    val truth = annTopK(spark, dir, k = k)
      .select(col("query_id"), col("vec_id"))
    val qids = truth.select(col("query_id")).distinct()
    // fused arms (r17, see armRankLimit): probe once at nprobe = 4 with
    // cell ranks kept, join the store ONCE (the annIvfStoredProbe join,
    // self-exclusion included), replay each arm's ranking from the rank
    // tags. Was: one store join + window + semi-join per arm, unioned.
    val q = IvfStore.subIndex(spark, dir, 8)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    val probed = probedCellsRanked(q,
      IvfStore.subCentroidsRow(spark, dir, 8), 4)
    val served = armRankLimit(
      storedAll(spark, dir).join(broadcast(probed),
        col("cell") === col("qcell") &&
          col("vec_id") =!= col("query_id")),
      Seq(1, 2, 4), "nprobe", k)
    recallGrid(truth, qids, served, "nprobe", Seq(1, 2, 4), k)
  }

  /** Recall@k of the SQ rerank vs the brute-force truth, per coarseK —
    * the knob an operator moves when the coarse pass misses true
    * neighbors: a small candidate set maximizes the bandwidth win, a
    * larger one converges on exact. Same deterministic construction as
    * [[annRecall]], so the oracle replays it exactly. */
  def annSqRecall(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val truth = annTopK(spark, dir, k = k)
      .select(col("query_id"), col("vec_id"))
    val qids = truth.select(col("query_id")).distinct()
    // fused arms (r17, see armRankLimit): the coarse_k = 10 candidate
    // set is exactly the coarse-rank-<=-10 prefix of the coarse_k = 50
    // set, so ONE coarse pass at 50 (keeping each candidate's coarse
    // rank) + ONE exact rescore replays both arms. Was: two full
    // coarse scans + two exact rescores, unioned.
    val base = corpus(spark, dir)
    val q = base.filter(col("vec_id") < 5)
    val qCoarse = q.select(col("vec_id").as("query_id"),
      col("cv").as("qv"), col("cn2").as("qn2"))
    val cand = scoreRankLimit(
      base.select(col("vec_id"), col("cv").as("v"), col("cn2").as("n2"))
        .join(broadcast(qCoarse), col("vec_id") =!= col("query_id")),
      50)
      .select(col("query_id"), col("vec_id"), col("rank").as("pmin"))
    val qExact = q.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("n2").as("qn2"))
    val served = armRankLimit(
      base.select(col("vec_id"), col("v"), col("n2"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(qExact), "query_id"),
      Seq(10, 50), "coarse_k", k)
    recallGrid(truth, qids, served, "coarse_k", Seq(10, 50), k)
  }

  /** The documented cell-sizing rule, executable: bits ≈
    * log2(N / targetCell) with a floor of 3, so expected cell population
    * stays ~targetCell as the corpus grows and the in-cell quadratic
    * pair work stays bounded. The count is a metadata-cheap scalar probe
    * of the staged corpus (same class of driver-side scalar as
    * dedupClusters' convergence count — not a data collect).
    * Integer-exact on purpose: `ceil(log2(ceil(n/target)))` via bit
    * length, because a float log2 disagrees with the oracle's at exact
    * power-of-two cell counts (ln-ratio rounding). The identity
    * ceil(log2 x) == ceil(log2 ceil(x)) for x > 1 makes the integer
    * form equal to the real-valued sizing rule. */
  private[ann] def autoBits(n: Long, targetCell: Int = 256): Int = {
    val cells = (n + targetCell - 1) / targetCell
    if (cells <= 1) 3
    else math.max(3, 64 - java.lang.Long.numberOfLeadingZeros(cells - 1))
  }

  /** [[embeddingNearDup]] with the quantizer auto-sized from the corpus
    * count — the mitigation SCALING.md prescribes for the measured
    * quadratic in-cell growth, wired in rather than left as a manual
    * knob. The oracle derives the same bits from its own count. */
  def embeddingNearDupAuto(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame =
    embeddingNearDup(spark, dir, threshold,
      bucketBits = autoBits(corpus(spark, dir).count()))

  /** EMBEDDING-SPACE benchmark decontamination (r16 — the media
    * semantic-decontam shape on the text family's vectors, completing
    * the decontam grid: exact chunk signatures catch verbatim
    * benchmark text, this catches PARAPHRASED/near-duplicate leakage
    * that shares no window): judged vectors exact-cosine against the
    * SMALL broadcast benchmark set at the family's near-dup threshold.
    * Deliberately quantizer-free — a benchmark set is small by nature
    * and a recall trade on this path leaks an eval item. Fixture
    * convention mirrors `media_decontam`: benchmark = vec_id < 10,
    * judged = the arriving split. */
  def embeddingDecontam(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val c = corpus(spark, dir)
    semJudgeSmallSet(
      c.filter(col("vec_id") < 10),
      c.filter(col("vec_id") % 10 >= 8), threshold,
      "n_benchmark_sem_matches")
  }

  /** The benchmark-REFRESH direction ([[embeddingDecontam]]'s
    * [[graft.multimodal.Multimodal.mediaSemanticRetroSweep]] twin):
    * the persisted corpus vectors re-judged against only the DELTA
    * benchmark items (vec_id in [5, 10) — the media fixture's delta
    * convention), one broadcast pass over the store. */
  def embeddingDecontamRetro(spark: SparkSession, dir: String,
                             threshold: Double = 0.5): DataFrame = {
    val c = corpus(spark, dir)
    semJudgeSmallSet(
      c.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      c.filter(col("vec_id") % 10 < 8), threshold,
      "n_delta_sem_matches")
  }

  /** [[embeddingDecontamRetro]]'s verdicts made EFFECTIVE on a
    * vector/assignment store frame (r17 — the refresh row every other
    * gate family has, closing the semantic decontam grid ON DISK):
    * flagged vectors' rows delete (one broadcast anti-join of the
    * flagged ids — near-empty at benchmark cadence), survivors keep
    * their rows verbatim, and the pass sheds at-least-once replay
    * duplicates like compaction does. Shared VERBATIM by the on-disk
    * [[embeddingDecontamRefreshStore]] and the
    * `embedding_decontam_refresh` oracle row — the
    * [[graft.multimodal.Multimodal.mediaRefreshApply]] discipline in
    * embedding space. */
  def embeddingDecontamRefreshApply(store: DataFrame,
                                    verdicts: DataFrame): DataFrame =
    store.dropDuplicates("vec_id")
      .join(broadcast(verdicts.filter(!col("is_clean"))
        .select(col("vec_id"))), Seq("vec_id"), "left_anti")

  /** The benchmark-delta sweep over EXPLICIT frames — the
    * [[embeddingDecontamRetro]] judge generalized off the fixture
    * convention so a production store path can be swept: every stored
    * vector exact-cosine-judged against the (small, broadcast) delta
    * set; verdict per stored vector. Store side doc-deduped (the
    * at-least-once append contract). */
  def embeddingDecontamSweep(deltaVecs: DataFrame, storeVecs: DataFrame,
                             threshold: Double = 0.5): DataFrame =
    semJudgeSmallSet(deltaVecs, storeVecs.dropDuplicates("vec_id"),
      threshold, "n_delta_sem_matches")

  /** The embedding decontam refresh lifecycle CLOSED ON DISK — sweep
    * the persisted assignment store at `asgStorePath` (an
    * [[IvfStore]]-shaped (vec_id, v, n2[, cell]) parquet directory)
    * against the benchmark delta, then atomically rewrite the store
    * with the flagged vectors anti-joined away
    * ([[graft.sinks.StoreMaintenance.rewrite]] — a complete copy on
    * disk at every instant). Idempotent: a second sweep with the same
    * delta flags vectors that are already gone, and the no-op guard
    * probes the STORE (is any flagged vector still present?), never
    * the flagged set's size — the [[graft.text.QualityStore
    * .refreshCurated]] probe argument verbatim. The verdict frame is
    * pinned BEFORE the rewrite moves the files it derives from.
    * Returns the verdicts for telemetry. Runs at benchmark cadence. */
  def embeddingDecontamRefreshStore(spark: SparkSession,
                                    asgStorePath: String,
                                    deltaVecs: DataFrame,
                                    threshold: Double = 0.5): DataFrame = {
    graft.sinks.StoreMaintenance.recover(asgStorePath)
    val verdicts = embeddingDecontamSweep(deltaVecs,
      spark.read.parquet(asgStorePath), threshold).localCheckpoint(true)
    val flagged = verdicts.filter(!col("is_clean")).select(col("vec_id"))
    val pending = spark.read.parquet(asgStorePath)
      .join(flagged, Seq("vec_id"), "left_semi")
    if (!pending.isEmpty)
      graft.sinks.StoreMaintenance.rewrite(spark, asgStorePath)(
        embeddingDecontamRefreshApply(_, verdicts))
    verdicts
  }

  /** The judge-vs-broadcast-set core: distinct judge matches at
    * `threshold` per judged vector, NULL-match rows clean. */
  private[graft] def semJudgeSmallSet(judge: DataFrame, judged: DataFrame,
                                      threshold: Double,
                                      cntName: String): DataFrame = {
    val j = judge.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("n2").as("bn2"))
    val d = judged.select(col("vec_id"), col("v"), col("n2"))
    val matches = d.join(broadcast(j),
        dot(col("v"), col("bv")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("bn2").cast("double"))) >= threshold)
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("b_id")).as("nb"))
    d.select(col("vec_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nb"), lit(0L)).as(cntName),
        (coalesce(col("nb"), lit(0L)) === 0L).as("is_clean"))
  }

  // --- oracle SQL, then the registered queries ----------------------------

  private[graft] val qCte =
    """n AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(generate_series(1, len(v)),
      |      i -> v[i] * v[i])) AS n2
      |  FROM n)""".stripMargin

  /** 3-bit sign bucket of alias'd vector — mirrors `bucket(v, 3)`. */
  private def bucketSql(a: String): String =
    s"""(CAST($a.v[1] > 0 AS INTEGER) * 4 + CAST($a.v[2] > 0 AS INTEGER) * 2
       |  + CAST($a.v[3] > 0 AS INTEGER))""".stripMargin

  /** The scored top-10 SELECT (no WITH, no final ORDER BY) so the same
    * text serves both the standalone oracles and the recall oracle's
    * CTE composition. */
  private def topkCore(joinExtra: String): String =
    s"""SELECT q.vec_id AS query_id, a.vec_id,
       |  CAST(row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY CAST(list_sum(list_transform(generate_series(1, len(a.v)),
       |        i -> a.v[i] * q.v[i])) AS DOUBLE)
       |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) DESC,
       |      a.vec_id ASC) AS INTEGER) AS rank,
       |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
       |      i -> a.v[i] * q.v[i])) AS DOUBLE)
       |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cosine
       |FROM m a JOIN m q ON q.vec_id < 5 AND a.vec_id <> q.vec_id
       |$joinExtra
       |QUALIFY rank <= 10""".stripMargin

  private def topkSql(joinExtra: String): String =
    s"""WITH $qCte
       |${topkCore(joinExtra)}
       |ORDER BY query_id, rank""".stripMargin

  /** Coarse copy of `m`: cv = floor(v/100) per element, cn2 its squared
    * norm — mirrors the staged `cv`/`cn2` columns byte-exactly. */
  private val mcCtes =
    """mc AS (
      |  SELECT vec_id, v, n2,
      |    list_transform(v,
      |      e -> CAST(floor(CAST(e AS DOUBLE) / 100.0) AS BIGINT)) AS cv
      |  FROM m),
      |mcc AS (
      |  SELECT vec_id, v, n2, cv,
      |    list_sum(list_transform(generate_series(1, len(cv)),
      |      i -> cv[i] * cv[i])) AS cn2
      |  FROM mc)""".stripMargin

  /** The two-stage SQ pipeline as CTEs `cand$tag` / `sq$tag`: coarse
    * top-`ck` candidates per query by coarse cosine, then the exact
    * top-10 rerank. Composable (tagged) so the recall oracle can sweep
    * coarseK in one statement. */
  private def sqCtes(tag: String, ck: Int): String =
    s"""cand$tag AS (
       |  SELECT q.vec_id AS query_id, a.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      CAST(list_sum(list_transform(generate_series(1, len(a.cv)),
       |          i -> a.cv[i] * q.cv[i])) AS DOUBLE)
       |        / (sqrt(CAST(q.cn2 AS DOUBLE)) * sqrt(CAST(a.cn2 AS DOUBLE)))
       |        DESC, a.vec_id ASC) AS crank
       |  FROM mcc a JOIN mcc q ON q.vec_id < 5 AND a.vec_id <> q.vec_id
       |  QUALIFY crank <= $ck),
       |sq$tag AS (
       |  SELECT cd.query_id, cd.vec_id,
       |    CAST(row_number() OVER (PARTITION BY cd.query_id ORDER BY
       |      CAST(list_sum(list_transform(generate_series(1, len(a.v)),
       |          i -> a.v[i] * q.v[i])) AS DOUBLE)
       |        / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
       |        DESC, cd.vec_id ASC) AS INTEGER) AS rank,
       |    CAST(list_sum(list_transform(generate_series(1, len(a.v)),
       |        i -> a.v[i] * q.v[i])) AS DOUBLE)
       |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
       |      AS cosine
       |  FROM cand$tag cd
       |  JOIN m a ON a.vec_id = cd.vec_id
       |  JOIN m q ON q.vec_id = cd.query_id
       |  QUALIFY rank <= 10)""".stripMargin

  /** The quantizer-seeding CTE `s0` every Lloyd replay trains from:
    * the first 8 corpus vectors (`vec_id < 8` of the scaled-lattice
    * CTE `n`) as integer centroids with squared norms — ONE definition
    * of the seeding rule, so changing it (k, seed predicate) cannot
    * silently desync a subset of the training oracles. */
  private[graft] lazy val seedCte: String = seedCteK(8)

  /** [[seedCte]] at an explicit k — the dedup-sized quantizer rows
    * train with more cells than the serving index's 8 (cell ids are
    * seed RANKS; on the dense fixture the k lowest vec_ids ARE ranks
    * 0..k−1, the same identity the k = 8 replay leans on). */
  private[graft] def seedCteK(k: Int): String =
    s"""s0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS c,
       |    list_sum(list_transform(generate_series(1, len(v)),
       |      i -> v[i] * v[i])) AS c2
       |  FROM n WHERE vec_id < $k)""".stripMargin

  /** Tagged 2-iteration Lloyd replay over CTE `trainSrc` (m-shaped rows)
    * seeded from the shared `s0` ([[seedCte]]): emits
    * `<tag>a1/<tag>d1/<tag>c1/<tag>s1`
    * — the same arithmetic as the ann_ivf_trained oracle, factored so
    * the health oracle can train TWO quantizers (fresh full-corpus and
    * stored sub-corpus) in one statement without name collisions. */
  private[graft] def lloydCtes(tag: String, trainSrc: String): String =
    s"""${tag}a1 AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT m.vec_id, m.v, s.cell,
       |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
       |        m.n2 - 2 * list_sum(list_transform(
       |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
       |          + s.c2, s.cell) AS rn
       |    FROM $trainSrc m, s0 s) WHERE rn = 1),
       |${tag}d1 AS (
       |  SELECT cell, i AS pos, sum(v[i]) AS sv, count(*) AS cnt
       |  FROM ${tag}a1, unnest(generate_series(1, len(v))) AS t(i)
       |  GROUP BY cell, i),
       |${tag}c1 AS (
       |  SELECT cell, list(CAST(round(sv / cnt) AS BIGINT) ORDER BY pos)
       |    AS c
       |  FROM ${tag}d1 GROUP BY cell),
       |${tag}s1 AS (
       |  SELECT cell, c,
       |    list_sum(list_transform(generate_series(1, len(c)),
       |      i -> c[i] * c[i])) AS c2
       |  FROM ${tag}c1)""".stripMargin

  /** Assignment CTE: every `src` row argmin-assigned against centroid
    * CTE `cents` (ties to the lowest cell id) — `nearest_cell` replayed. */
  private[graft] def assignCte(name: String, src: String, cents: String): String =
    s"""$name AS (
       |  SELECT vec_id, v, n2, cell FROM (
       |    SELECT m.vec_id, m.v, m.n2, s.cell,
       |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
       |        m.n2 - 2 * list_sum(list_transform(
       |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
       |          + s.c2, s.cell) AS rn
       |    FROM $src m, $cents s) WHERE rn = 1)""".stripMargin

  /** Same-cell cosine top-10 over an assigned CTE, queries vec_id < 5 —
    * the trained/stored query shape as a composable CTE. */
  private def cellTopkCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT q.vec_id AS query_id, a.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY CAST(list_sum(list_transform(
       |          generate_series(1, len(a.v)), i -> a.v[i] * q.v[i]))
       |          AS DOUBLE)
       |        / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
       |        DESC, a.vec_id ASC) AS rank
       |  FROM $src a JOIN $src q
       |    ON q.vec_id < 5 AND a.cell = q.cell AND a.vec_id <> q.vec_id
       |  QUALIFY rank <= 10)""".stripMargin

  /** Shared CTE chain of the stored-index oracles: quantize, train on
    * the accumulated corpus (vec_id % 10 < 8; 2 Lloyd iterations,
    * exact-integer), assign sub + incoming batch against the SAME
    * frozen centroids (`s1`), union into `allv`. `ann_ivf_stored` and
    * `ann_ivf_stored_probe` differ only in the candidate predicate,
    * exactly like the engine plans. */
  private lazy val storedIdxCtes: String =
    s"""n AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(generate_series(1, len(v)),
      |      i -> v[i] * v[i])) AS n2
      |  FROM n),
      |sub AS (SELECT * FROM m WHERE vec_id % 10 < 8),
      |$seedCte,
      |a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT m.vec_id, m.v, s.cell,
      |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
      |        m.n2 - 2 * list_sum(list_transform(
      |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
      |          + s.c2, s.cell) AS rn
      |    FROM sub m, s0 s) WHERE rn = 1),
      |d1 AS (
      |  SELECT cell, i AS pos, sum(v[i]) AS sv, count(*) AS cnt
      |  FROM a1, unnest(generate_series(1, len(v))) AS t(i)
      |  GROUP BY cell, i),
      |c1 AS (
      |  SELECT cell, list(CAST(round(sv / cnt) AS BIGINT) ORDER BY pos)
      |    AS c
      |  FROM d1 GROUP BY cell),
      |s1 AS (
      |  SELECT cell, c,
      |    list_sum(list_transform(generate_series(1, len(c)),
      |      i -> c[i] * c[i])) AS c2
      |  FROM c1),
      |a2 AS (
      |  SELECT vec_id, v, n2, cell FROM (
      |    SELECT m.vec_id, m.v, m.n2, s.cell,
      |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
      |        m.n2 - 2 * list_sum(list_transform(
      |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
      |          + s.c2, s.cell) AS rn
      |    FROM sub m, s1 s) WHERE rn = 1),
      |b2 AS (
      |  SELECT vec_id, v, n2, cell FROM (
      |    SELECT m.vec_id, m.v, m.n2, s.cell,
      |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
      |        m.n2 - 2 * list_sum(list_transform(
      |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
      |          + s.c2, s.cell) AS rn
      |    FROM (SELECT * FROM m WHERE vec_id % 10 >= 8) m, s1 s)
      |  WHERE rn = 1),
      |allv AS (
      |  SELECT * FROM a2 UNION ALL SELECT * FROM b2)""".stripMargin

  /** The external query frame (qn: query_id, qv, qn2) over CTE `m` —
    * query q = elementwise sum of corpus vectors 2q and 2q+1, exact
    * integer arithmetic; mirrors `externalQueries` (nQueries = 5). */
  private val qxCtes =
    """qx AS (
      |  SELECT a.vec_id // 2 AS query_id,
      |    list_transform(generate_series(1, len(a.v)),
      |      i -> a.v[i] + b.v[i]) AS qv
      |  FROM m a JOIN m b ON b.vec_id = a.vec_id + 1
      |  WHERE a.vec_id % 2 = 0 AND a.vec_id < 10),
      |qn AS (
      |  SELECT query_id, qv,
      |    list_sum(list_transform(generate_series(1, len(qv)),
      |      i -> qv[i] * qv[i])) AS qn2
      |  FROM qx)""".stripMargin

  /** Brute-force external top-10 SELECT over `m` × `qn` (no WITH, no
    * final ORDER BY) — shared by the standalone external oracle and the
    * external-recall oracle's truth CTE. */
  private val externalTopkCore =
    """SELECT q.query_id, a.vec_id,
      |  CAST(row_number() OVER (PARTITION BY q.query_id
      |    ORDER BY CAST(list_sum(list_transform(generate_series(1, len(a.v)),
      |        i -> a.v[i] * q.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) DESC,
      |      a.vec_id ASC) AS INTEGER) AS rank,
      |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
      |      i -> a.v[i] * q.qv[i])) AS DOUBLE)
      |    / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
      |    AS cosine
      |FROM m a CROSS JOIN qn q
      |QUALIFY rank <= 10""".stripMargin

  /** The judge-vs-broadcast-set replay shared by the decontam pair:
    * distinct judge matches at the family's 0.5 near-dup threshold per
    * judged vector, NULL-match rows clean. */
  private def semJudgeOracleSql(judgePred: String, judgedPred: String,
                                cntName: String): String =
    s"""WITH $qCte,
       |jb AS (
       |  SELECT vec_id AS b_id, v AS bv, n2 AS bn2 FROM m
       |  WHERE $judgePred),
       |jd AS (SELECT vec_id, v, n2 FROM m WHERE $judgedPred),
       |mt AS (
       |  SELECT d.vec_id, count(DISTINCT b.b_id) AS nb
       |  FROM jd d JOIN jb b
       |    ON CAST(list_sum(list_transform(generate_series(1, len(d.v)),
       |        k -> d.v[k] * b.bv[k])) AS DOUBLE)
       |      / (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(b.bn2 AS DOUBLE)))
       |      >= 0.5
       |  GROUP BY d.vec_id)
       |SELECT d.vec_id, CAST(coalesce(mt.nb, 0) AS BIGINT) AS $cntName,
       |  coalesce(mt.nb, 0) = 0 AS is_clean
       |FROM jd d LEFT JOIN mt ON mt.vec_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin

  /** The refresh APPLIED, replayed: the judged store population minus
    * every vector with a delta match — survivors with their exact
    * squared norms (the frame a rewritten store would serve). */
  private def semRefreshOracleSql(judgePred: String,
                                  judgedPred: String): String =
    s"""WITH $qCte,
       |jb AS (
       |  SELECT vec_id AS b_id, v AS bv, n2 AS bn2 FROM m
       |  WHERE $judgePred),
       |jd AS (SELECT vec_id, v, n2 FROM m WHERE $judgedPred),
       |mt AS (
       |  SELECT DISTINCT d.vec_id
       |  FROM jd d JOIN jb b
       |    ON CAST(list_sum(list_transform(generate_series(1, len(d.v)),
       |        k -> d.v[k] * b.bv[k])) AS DOUBLE)
       |      / (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(b.bn2 AS DOUBLE)))
       |      >= 0.5)
       |SELECT d.vec_id, CAST(d.n2 AS BIGINT) AS n2
       |FROM jd d
       |WHERE d.vec_id NOT IN (SELECT vec_id FROM mt)
       |ORDER BY d.vec_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ann_recall", (s, d) => annRecall(s, d),
      // recall@10 of each IVF variant vs the brute-force truth, replayed
      // exactly: truth/ivf/probe are the same deterministic top-k CTEs
      s"""WITH $qCte,
         |truth AS (${topkCore("")}),
         |ivf AS (${topkCore(s"AND ${bucketSql("a")} = ${bucketSql("q")}")}),
         |probe AS (${topkCore(
        s"""JOIN (VALUES (0), (1), (2), (4)) p(o)
           |  ON ${bucketSql("a")} = xor(${bucketSql("q")}, p.o)""".stripMargin)}),
         |qids AS (SELECT DISTINCT query_id FROM truth),
         |h1 AS (
         |  SELECT t.query_id, count(*) AS h FROM truth t
         |  JOIN ivf i ON i.query_id = t.query_id AND i.vec_id = t.vec_id
         |  GROUP BY t.query_id),
         |h4 AS (
         |  SELECT t.query_id, count(*) AS h FROM truth t
         |  JOIN probe p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
         |  GROUP BY t.query_id)
         |SELECT query_id, nprobe, CAST(coalesce(h, 0) AS INTEGER) AS hits,
         |  CAST(coalesce(h, 0) AS DOUBLE) / 10 AS recall_at_k
         |FROM (
         |  SELECT q.query_id, 1 AS nprobe, h1.h
         |  FROM qids q LEFT JOIN h1 ON h1.query_id = q.query_id
         |  UNION ALL
         |  SELECT q.query_id, 4 AS nprobe, h4.h
         |  FROM qids q LEFT JOIN h4 ON h4.query_id = q.query_id)
         |ORDER BY nprobe, query_id""".stripMargin),

    QuerySpec("ann_topk", (s, d) => annTopK(s, d), topkSql("")),
    QuerySpec("ann_ivf", (s, d) => annIvf(s, d),
      topkSql(s"AND ${bucketSql("a")} = ${bucketSql("q")}")),
    QuerySpec("ann_ivf_probe", (s, d) => annIvfProbe(s, d),
      // probe list = own cell (xor 0) + each sign bit flipped (xor 1/2/4);
      // a corpus vector lives in exactly one cell, so no duplicate pairs
      topkSql(
      s"""JOIN (VALUES (0), (1), (2), (4)) p(o)
         |  ON ${bucketSql("a")} = xor(${bucketSql("q")}, p.o)""".stripMargin)),

    QuerySpec("ann_sq_rerank", (s, d) => annSqRerank(s, d),
      // the two-stage scalar-quantized scan replayed exactly: coarse =
      // floor(v/100) (IEEE double divide + floor, bit-identical in both
      // engines), coarse top-coarseK by (coarse cosine, vec_id), exact
      // rerank — see sqCtes
      s"""WITH $qCte, $mcCtes,
         |${sqCtes("", 50)}
         |SELECT query_id, vec_id, rank, cosine FROM sq
         |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("ann_sq_recall", (s, d) => annSqRecall(s, d),
      // recall@10 of the SQ rerank vs the same brute-force truth, swept
      // over the coarse candidate budget
      s"""WITH $qCte, $mcCtes,
         |${sqCtes("10", 10)},
         |${sqCtes("50", 50)},
         |truth AS (${topkCore("")}),
         |qids AS (SELECT DISTINCT query_id FROM truth),
         |h10 AS (
         |  SELECT t.query_id, count(*) AS h FROM truth t
         |  JOIN sq10 s ON s.query_id = t.query_id AND s.vec_id = t.vec_id
         |  GROUP BY t.query_id),
         |h50 AS (
         |  SELECT t.query_id, count(*) AS h FROM truth t
         |  JOIN sq50 s ON s.query_id = t.query_id AND s.vec_id = t.vec_id
         |  GROUP BY t.query_id)
         |SELECT query_id, coarse_k, CAST(coalesce(h, 0) AS INTEGER) AS hits,
         |  CAST(coalesce(h, 0) AS DOUBLE) / 10 AS recall_at_k
         |FROM (
         |  SELECT q.query_id, 10 AS coarse_k, h10.h
         |  FROM qids q LEFT JOIN h10 ON h10.query_id = q.query_id
         |  UNION ALL
         |  SELECT q.query_id, 50 AS coarse_k, h50.h
         |  FROM qids q LEFT JOIN h50 ON h50.query_id = q.query_id)
         |ORDER BY coarse_k, query_id""".stripMargin),

    QuerySpec("ann_ivf_trained", (s, d) => annIvfTrained(s, d),
      // the 2-iteration Lloyd training replayed exactly: integer-lattice
      // vectors, centroids re-quantized to longs after each mean update,
      // all distances exact longs, ties to the lowest cell id
      s"""WITH n AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_sum(list_transform(generate_series(1, len(v)),
        |      i -> v[i] * v[i])) AS n2
        |  FROM n),
        |$seedCte,
        |a1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT m.vec_id, m.v, s.cell,
        |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
        |        m.n2 - 2 * list_sum(list_transform(
        |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
        |          + s.c2, s.cell) AS rn
        |    FROM m, s0 s) WHERE rn = 1),
        |d1 AS (
        |  SELECT cell, i AS pos, sum(v[i]) AS sv, count(*) AS cnt
        |  FROM a1, unnest(generate_series(1, len(v))) AS t(i)
        |  GROUP BY cell, i),
        |c1 AS (
        |  SELECT cell, list(CAST(round(sv / cnt) AS BIGINT) ORDER BY pos)
        |    AS c
        |  FROM d1 GROUP BY cell),
        |s1 AS (
        |  SELECT cell, c,
        |    list_sum(list_transform(generate_series(1, len(c)),
        |      i -> c[i] * c[i])) AS c2
        |  FROM c1),
        |a2 AS (
        |  SELECT vec_id, v, n2, cell FROM (
        |    SELECT m.vec_id, m.v, m.n2, s.cell,
        |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
        |        m.n2 - 2 * list_sum(list_transform(
        |          generate_series(1, len(m.v)), i -> m.v[i] * s.c[i]))
        |          + s.c2, s.cell) AS rn
        |    FROM m, s1 s) WHERE rn = 1)
        |SELECT q.vec_id AS query_id, a.vec_id,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY CAST(list_sum(list_transform(
        |        generate_series(1, len(a.v)), i -> a.v[i] * q.v[i]))
        |        AS DOUBLE)
        |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
        |      DESC, a.vec_id ASC) AS INTEGER) AS rank,
        |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
        |      i -> a.v[i] * q.v[i])) AS DOUBLE)
        |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
        |    AS cosine
        |FROM a2 a JOIN a2 q
        |  ON q.vec_id < 5 AND a.cell = q.cell AND a.vec_id <> q.vec_id
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("ann_ivf_stored", (s, d) => annIvfStored(s, d),
      // the store-backed incremental path replayed exactly: train + assign
      // on the accumulated corpus (vec_id % 10 < 8; seeds vec_id < 8 are
      // all inside it), assign the incoming batch (vec_id % 10 >= 8)
      // against the SAME trained centroids, query the union
      s"""WITH $storedIdxCtes
         |SELECT q.vec_id AS query_id, a.vec_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY CAST(list_sum(list_transform(
         |        generate_series(1, len(a.v)), i -> a.v[i] * q.v[i]))
         |        AS DOUBLE)
         |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |      DESC, a.vec_id ASC) AS INTEGER) AS rank,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * q.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |    AS cosine
         |FROM allv a JOIN allv q
         |  ON q.vec_id < 5 AND a.cell = q.cell AND a.vec_id <> q.vec_id
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // multi-probe over the persisted index — the serving read path
    QuerySpec("ann_ivf_stored_probe", (s, d) => annIvfStoredProbe(s, d),
      // the serving multi-probe replayed exactly: queries ranked against
      // the SAME trained-on-sub centroid set (s1), the nprobe=2 nearest
      // cells kept (engine formula qn2 - 2·dot + c2, ties to lowest
      // cell), candidates = stored/append-assigned vectors in any probed
      // cell
      s"""WITH $storedIdxCtes,
         |qs AS (SELECT vec_id, v, n2 FROM a2 WHERE vec_id < 5),
         |pc AS (
         |  SELECT q.vec_id AS query_id, s.cell,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      q.n2 - 2 * list_sum(list_transform(
         |        generate_series(1, len(q.v)), i -> q.v[i] * s.c[i]))
         |        + s.c2, s.cell) AS crn
         |  FROM qs q, s1 s)
         |SELECT q.vec_id AS query_id, a.vec_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY CAST(list_sum(list_transform(
         |        generate_series(1, len(a.v)), i -> a.v[i] * q.v[i]))
         |        AS DOUBLE)
         |      / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |      DESC, a.vec_id ASC) AS INTEGER) AS rank,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * q.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |    AS cosine
         |FROM allv a
         |JOIN qs q ON a.vec_id <> q.vec_id
         |JOIN pc ON pc.query_id = q.vec_id AND pc.cell = a.cell
         |  AND pc.crn <= 2
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    // recall/nprobe telemetry for the stored serving path
    QuerySpec("ann_stored_recall", (s, d) => annStoredRecall(s, d),
      // recall@10 of the stored serving path vs exact brute-force truth,
      // swept over nprobe in {1,2,4}: the probe CTE ranks cells once,
      // each nprobe keeps its crn-prefix, hits counted per (nprobe, query)
      s"""WITH $storedIdxCtes,
         |truth AS (${topkCore("")}),
         |qs AS (SELECT vec_id, v, n2 FROM a2 WHERE vec_id < 5),
         |pc AS (
         |  SELECT q.vec_id AS query_id, s.cell,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      q.n2 - 2 * list_sum(list_transform(
         |        generate_series(1, len(q.v)), i -> q.v[i] * s.c[i]))
         |        + s.c2, s.cell) AS crn
         |  FROM qs q, s1 s),
         |srv AS (
         |  SELECT np, query_id, vec_id FROM (
         |    SELECT p.np, q.vec_id AS query_id, a.vec_id,
         |      row_number() OVER (PARTITION BY p.np, q.vec_id
         |        ORDER BY CAST(list_sum(list_transform(
         |            generate_series(1, len(a.v)), i -> a.v[i] * q.v[i]))
         |            AS DOUBLE)
         |          / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |          DESC, a.vec_id ASC) AS rank
         |    FROM (VALUES (1), (2), (4)) p(np)
         |    CROSS JOIN qs q
         |    JOIN pc ON pc.query_id = q.vec_id AND pc.crn <= p.np
         |    JOIN allv a ON a.cell = pc.cell AND a.vec_id <> q.vec_id)
         |  WHERE rank <= 10),
         |qids AS (SELECT DISTINCT query_id FROM truth),
         |hits AS (
         |  SELECT s.np, t.query_id, count(*) AS h FROM truth t
         |  JOIN srv s ON s.query_id = t.query_id AND s.vec_id = t.vec_id
         |  GROUP BY s.np, t.query_id)
         |SELECT query_id, nprobe, CAST(coalesce(h, 0) AS INTEGER) AS hits,
         |  CAST(coalesce(h, 0) AS DOUBLE) / 10 AS recall_at_k
         |FROM (
         |  SELECT q.query_id, p.np AS nprobe, hits.h
         |  FROM (VALUES (1), (2), (4)) p(np)
         |  CROSS JOIN qids q
         |  LEFT JOIN hits ON hits.np = p.np AND hits.query_id = q.query_id)
         |ORDER BY nprobe, query_id""".stripMargin),

    // EXTERNAL query vectors (not corpus members): brute-force baseline,
    // stored-index multi-probe serving, and the recall/nprobe telemetry
    QuerySpec("ann_query_external", (s, d) => annQueryExternal(s, d),
      // brute-force cosine top-10 for the literal external query set —
      // the baseline serving answer for non-corpus vectors
      s"""WITH $qCte,
         |$qxCtes
         |$externalTopkCore
         |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("ann_query_external_probe", (s, d) => annQueryExternalProbe(s, d),
      // stored-index multi-probe serving of the same external frame,
      // replayed exactly: centroids ranked per query against the frozen
      // trained set (s1), nprobe=2 nearest cells kept, candidates = the
      // stored/append-assigned vectors in any probed cell
      s"""WITH $storedIdxCtes,
         |$qxCtes,
         |pc AS (
         |  SELECT q.query_id, s.cell,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      q.qn2 - 2 * list_sum(list_transform(
         |        generate_series(1, len(q.qv)), i -> q.qv[i] * s.c[i]))
         |        + s.c2, s.cell) AS crn
         |  FROM qn q, s1 s)
         |SELECT q.query_id AS query_id, a.vec_id,
         |  CAST(row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY CAST(list_sum(list_transform(
         |        generate_series(1, len(a.v)), i -> a.v[i] * q.qv[i]))
         |        AS DOUBLE)
         |      / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |      DESC, a.vec_id ASC) AS INTEGER) AS rank,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * q.qv[i])) AS DOUBLE)
         |    / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |    AS cosine
         |FROM allv a
         |CROSS JOIN qn q
         |JOIN pc ON pc.query_id = q.query_id AND pc.cell = a.cell
         |  AND pc.crn <= 2
         |QUALIFY rank <= 10
         |ORDER BY q.query_id, rank""".stripMargin),

    QuerySpec("ann_external_recall", (s, d) => annExternalRecall(s, d),
      // recall@10 of the external serving path vs its own brute truth,
      // swept over nprobe — the ann_stored_recall shape for non-corpus
      // queries
      s"""WITH $storedIdxCtes,
         |$qxCtes,
         |truthx AS ($externalTopkCore),
         |pc AS (
         |  SELECT q.query_id, s.cell,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      q.qn2 - 2 * list_sum(list_transform(
         |        generate_series(1, len(q.qv)), i -> q.qv[i] * s.c[i]))
         |        + s.c2, s.cell) AS crn
         |  FROM qn q, s1 s),
         |srv AS (
         |  SELECT np, query_id, vec_id FROM (
         |    SELECT p.np, q.query_id, a.vec_id,
         |      row_number() OVER (PARTITION BY p.np, q.query_id
         |        ORDER BY CAST(list_sum(list_transform(
         |            generate_series(1, len(a.v)), i -> a.v[i] * q.qv[i]))
         |            AS DOUBLE)
         |          / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |          DESC, a.vec_id ASC) AS rank
         |    FROM (VALUES (1), (2), (4)) p(np)
         |    CROSS JOIN qn q
         |    JOIN pc ON pc.query_id = q.query_id AND pc.crn <= p.np
         |    JOIN allv a ON a.cell = pc.cell)
         |  WHERE rank <= 10),
         |qids AS (SELECT DISTINCT query_id FROM truthx),
         |hits AS (
         |  SELECT s.np, t.query_id, count(*) AS h FROM truthx t
         |  JOIN srv s ON s.query_id = t.query_id AND s.vec_id = t.vec_id
         |  GROUP BY s.np, t.query_id)
         |SELECT query_id, nprobe, CAST(coalesce(h, 0) AS INTEGER) AS hits,
         |  CAST(coalesce(h, 0) AS DOUBLE) / 10 AS recall_at_k
         |FROM (
         |  SELECT q.query_id, p.np AS nprobe, hits.h
         |  FROM (VALUES (1), (2), (4)) p(np)
         |  CROSS JOIN qids q
         |  LEFT JOIN hits ON hits.np = p.np AND hits.query_id = q.query_id)
         |ORDER BY nprobe, query_id""".stripMargin),

    QuerySpec("ann_ivf_health", (s, d) => annIvfHealth(s, d),
      // store-freshness telemetry: the stored path (sub-trained centroids,
      // batch append-assigned) and the fresh path (full-corpus retrain)
      // replayed side by side — occupancy of the store's assignments plus
      // the top-k overlap between what the store serves and what a fresh
      // retrain would serve
      s"""WITH n AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |sub AS (SELECT * FROM m WHERE vec_id % 10 < 8),
         |inc AS (SELECT * FROM m WHERE vec_id % 10 >= 8),
         |$seedCte,
         |${lloydCtes("f", "m")},
         |${assignCte("fa2", "m", "fs1")},
         |${cellTopkCte("ftk", "fa2")},
         |${lloydCtes("s", "sub")},
         |${assignCte("sa2", "sub", "ss1")},
         |${assignCte("sb2", "inc", "ss1")},
         |allv AS (SELECT * FROM sa2 UNION ALL SELECT * FROM sb2),
         |${cellTopkCte("stk", "allv")},
         |occ AS (SELECT cell, count(*) AS cn FROM allv GROUP BY cell),
         |oa AS (
         |  SELECT CAST(sum(cn) AS BIGINT) AS n_vecs,
         |    count(*) AS n_cells, CAST(max(cn) AS BIGINT) AS max_cell,
         |    CAST(sum(cn) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_cell
         |  FROM occ),
         |tn AS (SELECT count(*) AS truth_n FROM ftk),
         |h AS (
         |  SELECT count(*) AS hits FROM ftk t
         |  JOIN stk s2 ON s2.query_id = t.query_id AND s2.vec_id = t.vec_id)
         |SELECT oa.n_vecs, oa.n_cells, oa.max_cell, oa.mean_cell,
         |  CAST(oa.max_cell AS DOUBLE) / oa.mean_cell AS cell_skew,
         |  CAST(h.hits AS INTEGER) AS store_hits,
         |  CAST(h.hits AS DOUBLE) / CAST(tn.truth_n AS DOUBLE)
         |    AS store_recall_at_k
         |FROM oa, h, tn""".stripMargin),

    QuerySpec("embedding_outliers", (s, d) => embeddingOutliers(s, d),
      // per-label exact sum vector (HUGEINT sums equal Spark's long sums —
      // all magnitudes < 2^53, so the double casts agree bit-exactly),
      // cosine to it, bottom-5 per label
      """WITH n AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, label, v,
        |    list_sum(list_transform(generate_series(1, len(v)),
        |      i -> v[i] * v[i])) AS n2
        |  FROM n),
        |d AS (
        |  SELECT label, i AS pos, sum(v[i]) AS sval
        |  FROM n, unnest(generate_series(1, len(v))) AS t(i)
        |  GROUP BY label, i),
        |s AS (
        |  SELECT label, list(sval ORDER BY pos) AS sv,
        |    sum(sval * sval) AS s2
        |  FROM d GROUP BY label)
        |SELECT m.label, m.vec_id,
        |  CAST(row_number() OVER (PARTITION BY m.label
        |    ORDER BY CAST(list_sum(list_transform(generate_series(1, len(m.v)),
        |        i -> m.v[i] * s.sv[i])) AS DOUBLE)
        |      / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(s.s2 AS DOUBLE))) ASC,
        |      m.vec_id ASC) AS INTEGER) AS rank,
        |  CAST(list_sum(list_transform(generate_series(1, len(m.v)),
        |      i -> m.v[i] * s.sv[i])) AS DOUBLE)
        |    / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(s.s2 AS DOUBLE)))
        |    AS centroid_cos
        |FROM m JOIN s USING (label)
        |QUALIFY rank <= 5
        |ORDER BY label, rank""".stripMargin),

    QuerySpec("dedup_embedding", (s, d) =>
      embeddingNearDup(s, d, threshold = 0.5),
      s"""WITH $qCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM m a JOIN m b ON a.vec_id < b.vec_id
         |  AND (CAST(a.v[1] > 0 AS INTEGER) * 4 + CAST(a.v[2] > 0 AS INTEGER) * 2
         |    + CAST(a.v[3] > 0 AS INTEGER))
         |    = (CAST(b.v[1] > 0 AS INTEGER) * 4 + CAST(b.v[2] > 0 AS INTEGER) * 2
         |    + CAST(b.v[3] > 0 AS INTEGER))
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("dedup_embedding_auto", (s, d) => embeddingNearDupAuto(s, d),
      // the auto-sized twin: bits = max(3, ceil(log2(ceil(N/256)))),
      // derived from the oracle's own count exactly like the engine's
      // integer bit-length formula (log2 of a BIGINT power of two is
      // exact in libm, so CEIL agrees with the engine's bit arithmetic)
      s"""WITH $qCte,
         |nb AS (
         |  SELECT GREATEST(3, CAST(CEIL(LOG2(
         |    CAST(CEIL(count(*) / 256.0) AS BIGINT))) AS INTEGER)) AS bits
         |  FROM embeddings),
         |bkt AS (
         |  SELECT vec_id, v, n2,
         |    list_sum(list_transform(generate_series(1, nb.bits),
         |      i -> CAST(v[i] > 0 AS BIGINT) * (CAST(1 AS BIGINT) << (nb.bits - i))))
         |      AS bucket
         |  FROM m, nb)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id
         |  AND a.bucket = b.bucket
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("dedup_embedding_capped", (s, d) => embeddingNearDupCapped(s, d),
      // the bucket cap replayed exactly: same md5-nibble salt formula as
      // the LSH cap oracle, cells over 256 split into ceil(bn/256)
      // sub-buckets keyed on vec_id
      s"""WITH $qCte,
         |bkt AS (
         |  SELECT vec_id, v, n2, ${bucketSql("m")} AS bucket FROM m),
         |ov AS (
         |  SELECT bucket, count(*) AS bn FROM bkt GROUP BY bucket
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT bkt.vec_id, bkt.v, bkt.n2, bkt.bucket,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("bkt.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM bkt LEFT JOIN ov USING (bucket))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.bucket = b.bucket AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("dedup_embedding_semantic", (s, d) =>
      embeddingNearDupSemantic(s, d),
      // the trained-cell partition replayed exactly: the ann_ivf_trained
      // Lloyd chain (seeds vec_id < 8, 2 exact-integer iterations) +
      // full-corpus assignment, then the same md5-nibble cap salt and
      // within-cell pair predicate as the capped oracle
      s"""WITH $qCte,
         |$seedCte,
         |${lloydCtes("sem", "m")},
         |${assignCte("semav", "m", "sems1")},
         |ov AS (
         |  SELECT cell, count(*) AS bn FROM semav GROUP BY cell
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT semav.vec_id, semav.v, semav.n2, semav.cell,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("semav.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM semav LEFT JOIN ov USING (cell))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.cell = b.cell AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // the dedup-SIZED quantizer (k = 32 cells, its own staged
    // training): SemDeDup's recall lever priced at the k a dedup run
    // would pick, not the serving index's 8
    QuerySpec("dedup_embedding_semantic_k", (s, d) =>
      embeddingNearDupSemanticK(s, d),
      // the dedup-sized variant: identical machinery with the Lloyd
      // chain seeded at k = 32 (seedCteK — same seeding rule, wider)
      s"""WITH $qCte,
         |${seedCteK(32)},
         |${lloydCtes("semk", "m")},
         |${assignCte("semkav", "m", "semks1")},
         |ov AS (
         |  SELECT cell, count(*) AS bn FROM semkav GROUP BY cell
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT semkav.vec_id, semkav.v, semkav.n2, semkav.cell,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("semkav.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM semkav LEFT JOIN ov USING (cell))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.cell = b.cell AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),
    // embedding-space benchmark decontamination: paraphrased/near-dup
    // leakage exact chunk signatures miss — judged split vs the small
    // broadcast benchmark vector set at the family threshold
    QuerySpec("embedding_decontam", (s, d) =>
      embeddingDecontam(s, d).orderBy(col("vec_id")),
      semJudgeOracleSql(
      "vec_id < 10", "vec_id % 10 >= 8", "n_benchmark_sem_matches")),
    // the benchmark-refresh direction: persisted corpus vectors
    // re-judged against only the delta benchmark items
    QuerySpec("embedding_decontam_retro", (s, d) =>
      embeddingDecontamRetro(s, d).orderBy(col("vec_id")),
      semJudgeOracleSql(
      "vec_id >= 5 AND vec_id < 10", "vec_id % 10 < 8",
      "n_delta_sem_matches")),
    // the refresh APPLIED (r17 — the pure frame form of
    // embeddingDecontamRefreshStore's rewrite): the surviving corpus
    // vectors after the delta's flagged set anti-joins away
    QuerySpec("embedding_decontam_refresh", (s, d) =>
      embeddingDecontamRefreshApply(
        corpus(s, d).filter(col("vec_id") % 10 < 8),
        embeddingDecontamRetro(s, d))
        .select(col("vec_id"), col("n2"))
        .orderBy(col("vec_id")),
      semRefreshOracleSql(
      "vec_id >= 5 AND vec_id < 10", "vec_id % 10 < 8")))
}
