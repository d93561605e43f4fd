package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{QueryModule, QuerySpec}
import graft.sources.{Staging, Tables}
import graft.text.TextOps.norm

/** Near-duplicate detection over `documents` — the LSH family a
  * training-data pipeline needs at 100 TB.
  *
  * MinHash+LSH is the scale path: per-doc signatures (narrow, codegen'd),
  * band-bucket explode, and a bucket equi-join — candidate pairs are only
  * ever generated *within* a bucket, never all-pairs. SimHash gives a
  * per-doc 16-bit fingerprint (hamming-comparable). The n-gram Jaccard
  * query exercises the exact set-similarity kernel on a linear pair set.
  *
  * Cross-engine determinism: "hash function j" is the lexicographic MIN of
  * `md5(j || ':' || shingle)` hex strings — identical in Spark and DuckDB,
  * no engine-specific hash algorithm anywhere.
  */
object NearDup extends QueryModule {
  private val K = 8 // minhash functions
  private val B = 4 // bands (rows per band R = K/B = 2)
  private val MaxBucket = 256 // default bucket-size cap (sub-salt threshold)

  /** Distinct 3-word shingles of the normalized text (docs with <3 tokens
    * carry no shingles and are excluded) — the native one-pass
    * `word_shingles` expression (`functions/TextShingles.scala`); the
    * composable `array_distinct(transform(sequence, concat_ws))` form is
    * CodegenFallback-interpreted and materializes two intermediate
    * arrays per doc. */
  private def withShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("word_shingles", norm(col("text"))).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Deterministic sub-bucket salt, identical in Spark and DuckDB: the
    * first 6 hex nibbles of md5(doc_id) Horner-composed into a 24-bit
    * integer — uniform over ~16.7M values, so `pmod` spreads evenly for
    * any realistic ceil(bucket/cap) divisor (a raw two-ascii-code
    * composite has only 256 distinct values and collapses to 16 for
    * power-of-16 divisors — exactly the giant-bucket case the cap
    * exists for). Built from `ascii(substr(...))` arithmetic because
    * that is the portable subset: DuckDB has neither conv() nor
    * xxhash64; `saltHashSql` is the same formula for the oracle.
    * `private[graft]`: the embedding family's bucket cap
    * (`ann/Similarity.embeddingNearDupCapped`) shares the exact salt so
    * both oracles replay one formula. */
  private def nibble(m: Column, i: Int): Column = {
    val a = ascii(substring(m, i, 1))
    a - when(a >= 97, lit(87)).otherwise(lit(48))
  }

  private[graft] def saltHash(id: Column): Column = {
    val m = md5(id.cast("string").cast("binary"))
    (1 to 6).map(i => nibble(m, i))
      .foldLeft(lit(0L): Column)(_ * 16 + _)
  }

  private[graft] def saltHashSql(idExpr: String): String = {
    val m = s"md5(CAST($idExpr AS VARCHAR))"
    def nib(i: Int) =
      s"(ascii(substr($m, $i, 1)) - CASE WHEN ascii(substr($m, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
    (1 to 6).map(nib).reduceLeft((acc, t) => s"(($acc) * 16 + $t)")
  }

  /** MinHash/LSH candidate pairs with exact Jaccard verification — the
    * public entry. Signature caching is routed through [[memoSignatures]],
    * so repeat calls over the same docs plan (a bench loop, the property
    * suites) share ONE persisted signature frame instead of each pinning
    * a new cache.
    * Emits every bucket-colliding pair (doc_a < doc_b) with its true
    * 3-shingle Jaccard — callers threshold downstream.
    *
    * `maxBucket` is the bucket-size cap (SCALING.md "what breaks first" #2):
    * a templated/boilerplate corpus can put thousands of docs behind one
    * band signature, turning the candidate join quadratic in that bucket.
    * Buckets above the cap are SUB-SALTED — split into ceil(n/cap)
    * deterministic sub-buckets — so per-bucket pair work drops from O(n²)
    * to O(n·cap). Within-sub-bucket duplicates are still found (each
    * sub-bucket keeps one representative after downstream dedup); the
    * bounded loss is cross-sub-bucket pairs of an already-near-identical
    * cluster. The salt is md5-derived so the DuckDB oracle reproduces the
    * capped semantics exactly. Oversized-bucket detection is one
    * partial-agg count whose result (only the oversized buckets) is
    * broadcast back — no extra full-data shuffle.
    *
    * The expensive lineage — per-shingle double md5 + normalize — is
    * materialized ONCE in the narrow per-doc signature frame `sigs`
    * (persisted MEMORY_AND_DISK) before the cap aggregate and the two
    * self-join sides branch off it. Round 3 shipped this unpersisted and
    * evaluated the md5 banding three times (21.7 s at sf0.1, 7× the
    * round-2 cost); on a cluster that is 3× the scan+hash cost of the
    * corpus. Everything downstream of the cache is cheap: band explode,
    * a broadcast join, and the bounded candidate join. */
  def minhashLsh(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    minhashLshFromSigs(memoSignatures(docs), maxBucket)

  /** The lazy per-doc signature derivation (doc_id, shingles, band sigs)
    * — all the md5 work as one uncached plan. This is the frame a
    * signature STORE writes (a one-shot write needs no cache) and the
    * schema every signature consumer reads.
    * `minhash_bands` (`functions/TextShingles.scala`) fuses the two
    * md5 digests per shingle + 8 slice-minima + band concat into one
    * codegen'd pass; the 8 hash functions are the 8 disjoint
    * 8-hex-char slices of TWO md5s per shingle (prefixes "a:"/"b:") —
    * 4× fewer digests than one md5 per function, same banding quality
    * (32-bit slices, candidates are Jaccard-verified anyway). */
  private[text] def signatureFrame(docs: DataFrame): DataFrame =
    withShingles(docs)
      .select(col("doc_id"), col("shingles"),
        call_function("minhash_bands", col("shingles")).as("bsigs"))

  /** The persisted signature frame. PRIVATE since round 7: each call
    * registers one MEMORY_AND_DISK cache with no automatic unpersist
    * (the laziness contract leaves no completion hook), so every in-repo
    * path routes through [[memoSignatures]], which shares and eventually
    * releases the cache — external callers can no longer pin unmanaged
    * caches (r6 VERDICT item 7). */
  private def signatures(docs: DataFrame): DataFrame =
    signatureFrame(docs).persist(StorageLevel.MEMORY_AND_DISK)

  /** (doc_id, band, bsig) band-bucket rows of a signature frame — the
    * unit both the self-join dedup and the incremental (batch-vs-corpus)
    * dedup bucket on. */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(array((0 until B).map(b =>
        struct(lit(b).as("band"), element_at(col("bsigs"), b + 1).as("bsig"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))

  def minhashLshFromSigs(sigs: DataFrame, maxBucket: Int): DataFrame = {
    val bands = bandsOf(sigs)

    // only buckets over the cap survive this aggregate — bounded by the
    // number of over-cap duplicate clusters, not by corpus size (unique
    // and small-cluster docs never appear here)
    val oversized = bands.groupBy(col("band"), col("bsig"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket)
    val salted = bands.join(broadcast(oversized), Seq("band", "bsig"), "left")
      .withColumn("salt",
        when(col("bn").isNull, lit(0L)).otherwise(
          pmod(saltHash(col("doc_id")),
            expr(s"(bn + ${maxBucket - 1}) DIV $maxBucket"))))
      .drop("bn")

    // NOTE (r17): rewriting this self-join as the bucket-groupBy +
    // `hamming_near_pairs` shape that carried the SimHash families was
    // MEASURED SLOWER here (10×: 3.3 s → 7.5 s, reverted): LSH has no
    // in-kernel gate — every in-bucket pair is a candidate — so the
    // kernel's win (never materializing dropped candidates) does not
    // apply, and its per-pair generic-row allocation loses to the
    // codegen'd join, while the derivation-duplication cost the SimHash
    // rewrite removed is already absent here (sigs are memo-persisted).
    val cands = salted.as("x")
      .join(salted.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      // fused one-pass set Jaccard (functions/ArrayJaccard) — bit-identical
      // to size(array_intersect)/size(array_union) without materializing
      // the two intermediate arrays per candidate pair. No sort here: the
      // pair-list queries order for presentation; graph consumers
      // (dedupClusters) must not pay a wasted global sort exchange.
      .select(col("doc_a"), col("doc_b"),
        call_function("jaccard_sim", col("sa"), col("sb")).as("jaccard"))
  }

  /** Incremental dedup: which INCOMING docs are near-duplicates of the
    * EXISTING corpus — the shape every production ingestion pipeline
    * runs per batch (a daily increment is orders of magnitude smaller
    * than the accumulated corpus). Emits one row per incoming doc:
    * `n_dups` existing near-duplicates (band-bucket collision verified
    * at `jaccard >= threshold`) and `is_new = n_dups == 0`.
    *
    * Scale posture: the corpus side is ONE pass and ZERO exchanges — its
    * signature frame is scanned, band-exploded WITH the shingles carried
    * along, and hash-joined against the BROADCAST incoming bands, so a
    * collision emerges verify-ready (no join back to the corpus by id,
    * which would shuffle the corpus signatures). A pair colliding in
    * multiple bands is Jaccard-checked once per collision (≤ B times);
    * count_distinct dedups — bounded redundant scalar work, traded for
    * never exchanging the corpus. `broadcastIncoming = false` drops the
    * hints for a batch too large to broadcast — the joins then shuffle
    * on their keys, which AQE sizes.
    *
    * Within-batch duplicates are out of scope by design (run
    * [[minhashLsh]] over the batch for those); docs with no shingles
    * (<3 tokens) cannot collide and come out `is_new`. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       threshold: Double = 0.8,
                       broadcastIncoming: Boolean = true): DataFrame =
    incrementalDedupFromSigs(memoSignatures(existing), incoming,
      threshold, broadcastIncoming)

  /** [[incrementalDedup]] against an already-derived corpus signature
    * frame — the entry the PERSISTED store path uses: `esigs` can be a
    * plain parquet scan of signed state (see [[SignatureStore]]), so the
    * corpus is never re-shingled or re-hashed per session. The reference
    * itself persists derived state and re-reads it per refresh
    * (`virginia/database/read_from.py:129-167`); at 100 TB re-signing
    * the accumulated corpus on every ingestion batch is the difference
    * between a scan of narrow signatures and a full re-hash of the
    * corpus text. */
  def incrementalDedupFromSigs(esigs: DataFrame, incoming: DataFrame,
                               threshold: Double = 0.8,
                               broadcastIncoming: Boolean = true): DataFrame = {
    val isigs = memoSignatures(incoming)
    def bc(df: DataFrame): DataFrame = if (broadcastIncoming) broadcast(df) else df
    val ebands = esigs.select(
      col("doc_id").as("ex_id"), col("shingles").as("se"),
      explode(array((0 until B).map(b =>
        struct(lit(b).as("band"), element_at(col("bsigs"), b + 1).as("bsig"))): _*))
        .as("bb"))
      .select(col("ex_id"), col("se"),
        col("bb.band").as("band"), col("bb.bsig").as("bsig"))
    val dups = ebands
      .join(bc(bandsOf(isigs).select(col("doc_id").as("inc_id"),
        col("band"), col("bsig"))), Seq("band", "bsig"))
      .join(bc(isigs.select(col("doc_id").as("inc_id"),
        col("shingles").as("si"))), "inc_id")
      .filter(call_function("jaccard_sim", col("se"), col("si")) >= threshold)
      .groupBy(col("inc_id")).agg(count_distinct(col("ex_id")).as("nd"))
    incoming.select(col("doc_id"))
      // dups is bounded by the incoming count, so the same broadcast
      // contract applies — the output join must not shuffle either side
      .join(bc(dups.select(col("inc_id").as("doc_id"), col("nd"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_dups"),
        (coalesce(col("nd"), lit(0L)) === 0).as("is_new"))
      .orderBy("doc_id")
  }

  /** Near-duplicate CLUSTERS: connected components over the thresholded
    * LSH pair graph by iterative min-label propagation WITH pointer
    * jumping — the "keep one representative per duplicate cluster"
    * operator a dedup stage actually ships. cluster_id = the minimum
    * doc_id in the component; `is_keeper` marks the representative.
    *
    * Scale posture: each round is a bounded number of shuffles
    * (neighbor-min aggregate + label self-join) over the vertex set.
    * Pointer jumping (`label ← label(label)`) doubles the effective
    * propagation distance per round, so rounds = O(log diameter):
    * `maxIter` = 25 covers any component a real corpus can produce. If
    * the loop still hasn't converged it FAILS LOUDLY — a silently
    * truncated fixpoint would split clusters and keep duplicates (and
    * diverge from the exact recursive-CTE oracle). The per-round
    * `count` is a scalar convergence probe, not a data collect.
    *
    * NOTE this function is necessarily EAGER: constructing the result
    * runs the propagation loop (an iterative fixpoint cannot be one
    * lazy plan). The returned frame is backed by one lineage-truncated
    * in-memory copy of the final (doc_id, label) table — two longs per
    * doc — and all per-round caches are released before returning. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    threshold: Double = 0.8, maxIter: Int = 25): DataFrame =
    dedupClustersFromEdges(docs,
      pairs.filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b")), maxIter)

  /** The min-label fixpoint over pre-thresholded (doc_a, doc_b) edges —
    * factored out so the Jaccard (LSH) and Hamming (SimHash) cluster
    * views share one propagation implementation; the similarity
    * predicate is the caller's concern. */
  /** Edge-count bound under which the min-label fixpoint collapses to
    * ONE single-task union-find pass ([[localComponents]]): a fixpoint
    * loop over a few thousand edges spends its wall time on round
    * bookkeeping — per round one neighbor join, one pointer-jump join,
    * one eager checkpoint job and one convergence-count job, all over
    * near-empty frames (measured r17: the loop inside every curation
    * twin's intra-batch gate contributed a dozen-plus ~0.1 s jobs per
    * twin at sf0.1) — while the same graph union-finds in milliseconds
    * in one task. 1M edges ≈ a ~100 MB boxed map in the worst case,
    * comfortably one-executor-task sized; graphs past the bound keep
    * the distributed loop, whose per-round cost is then actually
    * data-bound. */
  private val LocalCcMaxEdges = 1000000L

  /** Single-task connected components over a SMALL edge list: min-root
    * union-find with path compression, one `mapPartitions` over the
    * edges coalesced to one partition — not a driver collect; the task
    * runs on an executor and returns (doc_id, label) rows, label = the
    * component's min doc_id (the exact fixpoint contract: union always
    * keeps the smaller root, so the final root IS the component min).
    * Deterministic regardless of edge order. Eagerly checkpointed like
    * the loop's result — the returned frame is a flat cached scan. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x0: Long): Long = {
          var x = x0
          if (!parent.containsKey(x)) { parent.put(x, x); return x }
          // pass 1: walk to the root
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          // pass 2: path compression
          while (parent.get(x) != r) { val nxt = parent.get(x); parent.put(x, r); x = nxt }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach(v => out += ((v.longValue(), find(v))))
        out.iterator
      }
      .toDF("doc_id", "label")
      .localCheckpoint(true)
  }

  def dedupClustersFromEdges(docs: DataFrame, edges: DataFrame,
                             maxIter: Int = 25): DataFrame = {
    // measure the edge set once: small graphs short-circuit to the
    // single-task union-find (see LocalCcMaxEdges), big ones run the
    // distributed fixpoint below on the same persisted frame
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e0.count()
    if (nEdges <= LocalCcMaxEdges) {
      val result = localComponents(e0)
      e0.unpersist()
      return docs.select(col("doc_id"))
        .join(result.select(col("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id"))
            .as("is_keeper"))
    }
    val biRaw = e0.unionByName(
      e0.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // size the loop's parallelism from the MEASURED edge count (the
    // count also materializes the persisted edge set): a fixpoint over
    // a few thousand edges should run single-task rounds — 32-partition
    // exchanges on near-empty frames made scheduling, not data, the
    // dominant round cost — while a billion-edge graph still spreads at
    // ~2M directed edges per partition. Pre-hash bi on the join key so
    // the cached partitioning is reused by every round's neighbor join.
    val maxParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(maxParts.toLong,
      nEdges * 2 / 2000000L + 1)).toInt
    val bi = biRaw.repartition(parts, col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bi.count() // materialize from the biRaw cache, then drop the raw copies
    biRaw.unpersist()
    e0.unpersist()

    // propagate ONLY over edge-endpoint vertices: every doc with no
    // near-dup edge is a singleton cluster by construction and rejoins
    // after the fixpoint. Loop work is proportional to the DUPLICATE
    // population, not the corpus — at 100 TB the near-dup graph is
    // orders of magnitude smaller than the document set, and dragging
    // a billion isolated vertices through every iteration's joins was
    // pure overhead in the round-4 shape.
    val verts = bi.select(col("doc_a").as("doc_id"))
      .repartition(parts, col("doc_id")).distinct()

    // each round ends in an EAGER localCheckpoint: the round's result is
    // materialized to a cached RDD and its logical plan truncated to a
    // flat scan. Without this the plan nests one join tree per round and
    // Catalyst re-optimizes the whole growing tree every iteration —
    // planning, not data, dominated the loop (~2 s/round on a
    // 100-edge graph). One checkpoint job + one cached-scan count per
    // round; superseded round RDDs are tiny (two longs per vertex) and
    // reclaimed by the ContextCleaner as references drop.
    var labels = verts.withColumn("label", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neigh = bi.join(labels, bi("doc_b") === labels("doc_id"))
        .groupBy(bi("doc_a").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      // pointer jump: the label of my label (labels only ever hold ids
      // from the same component, so the jump never crosses components)
      val jump = labels.select(col("doc_id").as("label"),
        col("label").as("jlabel"))
      val j = labels
        .join(neigh, Seq("doc_id"), "left")
        .join(jump, Seq("label"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("jlabel"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = j.filter(col("label") =!= col("old")).count()
      labels = j.select(col("doc_id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      bi.unpersist()
      throw new IllegalStateException(
        s"dedupClusters: min-label propagation did not converge in " +
          s"$maxIter rounds — component diameter exceeds 2^$maxIter, " +
          "which no near-dup pair graph should produce; returning a " +
          "truncated fixpoint would split clusters and keep duplicates.")
    }
    val result = labels
    bi.unpersist()
    // singletons (docs with no edge) never entered the loop; every one is
    // its own keeper. left join against the tiny converged label table —
    // isolated docs take the coalesce default without shuffling the
    // corpus through the fixpoint.
    docs.select(col("doc_id"))
      .join(result.select(col("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id"))
          .as("is_keeper"))
  }

  /** LSH candidate recall vs exact Jaccard ground truth, per 0.1
    * similarity bucket, on the deterministic `doc_id % sampleMod == 0`
    * sample — the dedup-side twin of `ann_recall`: banding trades
    * candidate volume against missed near-duplicates along an S-curve,
    * and this is the query an operator reads before moving the
    * bands×rows knob at 100 TB. Truth pairs are enumerated by shingle
    * co-occurrence (a pair below any threshold shares >= 1 shingle, so
    * nothing is missed; never an all-pairs cartesian) and verified with
    * the fused `jaccard_sim` kernel; candidates are the UNCAPPED band
    * buckets (the bucket cap is a perf knob measured elsewhere — recall
    * here isolates the banding itself). Cost is quadratic in per-shingle
    * sample document frequency, so the sample must be fixed-SIZE, not
    * fixed-fraction — a mod-k sample of a 10× corpus costs ~100× (the
    * first cut of this query measured exactly that: 7.2× at the 10×
    * probe). [[lshRecall]] derives the modulus from the corpus count so
    * telemetry cost stays flat at any scale; the oracle re-derives the
    * same modulus from its own per-doc CTE. */
  def lshRecall(sigs: DataFrame, targetSample: Long = 2500,
      minJaccard: Double = 0.25): DataFrame =
    // the count is eager: pass the MEMOIZED signature frame (docSigs) so
    // it materializes the shared cache rather than computing sigs twice
    lshRecallMod(sigs, math.max(2L, sigs.count() / targetSample), minJaccard)

  /** [[lshRecall]] with an explicit sample modulus. */
  def lshRecallMod(sigs: DataFrame, sampleMod: Long,
      minJaccard: Double = 0.25): DataFrame = {
    val sample = sigs.filter(col("doc_id") % sampleMod === 0)
    val sh = sample.select(col("doc_id"), explode(col("shingles")).as("s"))
    // the co-occurrence join ALREADY yields one row per shared shingle,
    // so counting it per pair IS the intersection size — never re-attach
    // the shingle arrays to pair rows (arrays × pairs dominated the
    // first cut of this query); |union| = na + nb − inter, and the two
    // size lookups broadcast (the sample is fixed-size by design)
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sample.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n"))
    val truth = inter
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"),
        col("n").as("na"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"),
        col("n").as("nb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("j"))
      .filter(col("j") >= minJaccard)
    val bands = bandsOf(sample)
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    truth
      .join(cands.withColumn("__hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", floor(col("j") * 10) / lit(10.0))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
      .orderBy("bucket")
  }

  private val oddNibbles = Seq("1", "3", "5", "7", "9", "b", "d", "f")

  /** The 16-bit audit signature as a PROJECTION of the 64-bit one:
    * `simhash16` bit k is the strict-majority vote on the parity (bit 0)
    * of md5 nibble k, and `simhash64` bit 2k is the SAME vote on the
    * same nibble with the same tie rule (`2*votes - n > 0` in both
    * kernels; md5 elements always carry 32 nibbles, so neither kernel's
    * width cap truncates differently over the shared range). So
    * sig16 = the even bits of sig64's low 32 bits, compressed — five
    * mask/shift steps of the classic parallel bit-compress (Hacker's
    * Delight §7-4), pure long arithmetic inside whole-stage codegen.
    * `simhash16` ([[graft.functions.HexSimHash]] at 16 bits) stays
    * registered as the independent definitional kernel; TextSpec
    * cross-checks this derivation against it so the two definitions
    * cannot drift apart silently. */
  def simhash16From64(sig64: Column): Column =
    Seq((1, 0x33333333L), (2, 0x0F0F0F0FL), (4, 0x00FF00FFL),
      (8, 0x0000FFFFL))
      .foldLeft(sig64.bitwiseAND(lit(0x55555555L))) { case (x, (s, m)) =>
        x.bitwiseOR(shiftright(x, s)).bitwiseAND(lit(m))
      }

  /** 16-bit SimHash over the distinct token set: bit k is the sign of the
    * ±1 vote sum where token t votes +1 iff hex nibble k of md5(t) is odd.
    *
    * Since r10 this is [[simhashBoth]] minus the 64-bit column: ONE
    * tokenize + md5-per-token + `simhash64` kernel pass (the expensive
    * part — the corpus's every token hashed), then the 16-bit view by
    * [[simhash16From64]] bit compression. Before, `simhash` and
    * `simhash64` each paid their own full hashing pass; now the audit
    * width is a few long ops on top of the scale width, and a corpus
    * with a persisted 64-bit store ([[SimHashStore]]) gets the audit
    * view with ZERO text reads via [[simhashAuditFromSigs]]. */
  def simhash(docs: DataFrame): DataFrame =
    simhashBoth(docs).select(col("doc_id"), col("simhash"))

  /** Both signature widths from ONE tokenize/md5/kernel pass — the form
    * to use wherever the audit and scale views are both wanted: the
    * per-token md5 stream (the dominant cost at corpus scale) is hashed
    * once, the 64-bit kernel votes once, and the 16-bit column is
    * derived by [[simhash16From64]] for a handful of per-row long ops.
    * Plan-asserted in TextSpec: exactly one `simhash64` call, no
    * `simhash16` call, one md5 transform. */
  def simhashBoth(docs: DataFrame): DataFrame =
    simhash64(docs).select(col("doc_id"), col("simhash64"),
      simhash16From64(col("simhash64")).as("simhash"))

  /** The 16-bit audit view from an already-signed frame
    * (doc_id, simhash64) — e.g. a [[SimHashStore]] scan: the persisted
    * 8 bytes/doc already contain the audit signature, so auditing a
    * signed corpus never re-reads text. */
  def simhashAuditFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      simhash16From64(col("simhash64")).as("simhash"))

  /** Banded SimHash near-dup pairs — the third text dedup family next to
    * MinHash/LSH (set overlap) and span dedup (exact substrings): SimHash
    * catches small-token-set edits whose Jaccard stays high but whose
    * shingle sets shift, at one 2-byte signature per doc.
    *
    * Candidates are BANDED, never all-pairs (the same plan shape as
    * `multimodal.mediaDedupNear`): the 16-bit signature splits into two
    * 8-bit bands and only docs agreeing on a band value meet in the join —
    * by the pigeonhole every Hamming-≤1 pair shares a band exactly, and
    * ≤2-bit pairs are caught unless the flips straddle both bands. The
    * banded exchange carries (doc_id, sig) only; a pair agreeing on both
    * bands meets twice, deduped once before the Hamming gate. At corpus
    * scale the knob is signature/band width (64-bit SimHash, 16-bit
    * bands), a parameter change on the same plan — the `autoBits` sizing
    * rule of the embedding family applies verbatim.
    *
    * Band buckets above `maxBucket` are SUB-SALTED with the family-shared
    * [[saltHash]] (same formula, same oracle replay as the LSH and
    * embedding caps): a 16-bit signature over a templated corpus
    * collapses many docs onto few band values (the sf fixture puts ~10%
    * of all pairs within Hamming 2), and the cap bounds per-bucket pair
    * work at O(n·cap) regardless — the capped output is a deterministic
    * subset of the uncapped pair set, exactly as in the LSH family. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 2,
                     maxBucket: Int = MaxBucket): DataFrame = {
    // 2 bands guarantee recall only for Hamming<=1 (pigeonhole); <=2
    // pairs are still found unless the two flips straddle both bands —
    // that documented gap is the contract at maxHamming=2, and anything
    // beyond it would be silently incomplete, so it is rejected here
    // rather than returned short (use the 64-bit family's 4 bands for
    // deeper Hamming radii).
    require(maxHamming >= 0 && maxHamming <= 2,
      s"2x8-bit bands guarantee recall to Hamming 1 (gap at 2); maxHamming=$maxHamming unsupported")
    bandedHammingPairs(
      simhash(docs).withColumnRenamed("simhash", "sig"),
      nBands = 2, bandBits = 8, maxHamming, maxBucket)
  }

  /** The width-generic banded-Hamming candidate plan shared by the
    * 16-bit and 64-bit SimHash pair views (and structurally by
    * `multimodal.mediaDedupNear`): explode `nBands` arithmetic band
    * values (arithmetic shift + mask — sign-agnostic, so a negative
    * 64-bit signature bands identically in Spark and DuckDB), sub-salt
    * band buckets over `maxBucket` with the family-shared [[saltHash]],
    * equi-join on (band, bval, salt), Hamming-gate BEFORE the distinct
    * exchange. `sigs` must be (doc_id, sig: long). `private[graft]`:
    * the media family's 64-bit pair view (`multimodal.mediaDedupNear64`)
    * runs the identical plan over byte-shingle signatures. */
  private[graft] def bandedHammingPairs(sigs: DataFrame, nBands: Int,
                                        bandBits: Int, maxHamming: Int,
                                        maxBucket: Int): DataFrame =
    bandedHammingPairsLayout(sigs,
      (0 until nBands).map(i => (bandBits * i, bandBits)),
      maxHamming, maxBucket)

  /** Disjoint band layout (shift, width) covering all 64 signature bits
    * for a requested Hamming radius, by pigeonhole: `maxHamming + 1`
    * bands, widths as equal as 64 allows (the remainder bits widen the
    * low bands by one) — any pair differing in ≤ maxHamming bits agrees
    * on at least one WHOLE band, so recall through the banded join is
    * exact at the requested radius. Shared by the engine plan and the
    * DuckDB oracle so both derive from one set of constants. */
  private[graft] def bandLayout(maxHamming: Int): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"beyond Hamming 15 each of the ${maxHamming + 1} bands falls under " +
        s"4 bits and banding degenerates toward all-pairs; maxHamming=$maxHamming unsupported")
    val n = maxHamming + 1
    val base = 64 / n
    val rem = 64 % n
    val widths = Seq.fill(rem)(base + 1) ++ Seq.fill(n - rem)(base)
    widths.init.scanLeft(0)(_ + _).zip(widths)
  }

  /** [[bandedHammingPairs]] over an explicit (shift, width) band layout —
    * the generalization that serves radius-derived bandings
    * ([[bandLayout]]); uniform bandings delegate here.
    *
    * Plan shape (r17): the banded frame crosses ONE exchange and the
    * signature derivation runs ONCE. Before r17 this was a bucket-keyed
    * SELF-JOIN — the derivation (the md5-per-token pass for the text
    * family) was evaluated once per plan branch (oversized aggregate +
    * each join side — FOUR derivation subtrees in the physical plan),
    * the banded frame crossed an exchange per join side, and EVERY
    * in-bucket candidate pair was materialized as a joined row just to
    * be dropped by the Hamming gate (tens of millions of rows at 10×).
    * Now the bucket size rides a window count over the banded frame's
    * one (band, bval) exchange (a separate count-aggregate branch does
    * NOT reuse that exchange — column pruning narrows its subtree and
    * canonical equality fails — so the window form is what actually
    * collapses the plan to one derivation), the sub-salt cap is applied
    * from that in-partition count with identical semantics, members are
    * grouped per (band, bval, salt) bucket (bounded by the cap; the
    * coarser (band, bval) partitioning already satisfies the aggregate —
    * no second exchange), and the `hamming_near_pairs` kernel
    * (`functions/HammingNearPairs.scala`) emits ONLY the gated pairs
    * from one popcount loop per bucket. distinct() then dedups pairs
    * meeting in several bands, exactly as the join form did. */
  private[graft] def bandedHammingPairsLayout(sigs: DataFrame,
                                              layout: Seq[(Int, Int)],
                                              maxHamming: Int,
                                              maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def mask(width: Int) = if (width >= 64) -1L else (1L << width) - 1
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array(layout.zipWithIndex.map { case ((shift, width), i) =>
        struct(lit(i).as("band"),
          shiftright(col("sig"), shift).bitwiseAND(lit(mask(width)))
            .as("bval"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    // bucket size as an unordered window count: the window's required
    // distribution creates the ONE (band, bval) exchange of the plan,
    // and every stage below (salting, the bucket groupBy) runs on it
    val salted = banded.withColumn("bn",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bval"))))
      .withColumn("salt",
        when(col("bn") <= maxBucket, lit(0L)).otherwise(
          pmod(saltHash(col("doc_id")),
            expr(s"(bn + ${maxBucket - 1}) DIV $maxBucket"))))
      .drop("bn")
    salted.groupBy(col("band"), col("bval"), col("salt"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .select(inline(call_function("hamming_near_pairs",
        col("members"), lit(maxHamming))))
      // distinct across bands only — the gate already ran inside the
      // kernel, so this exchange carries near pairs, never candidates.
      // No output sort: at 10× the pair list is 8.7M rows, and a global
      // orderBy range-exchanges + fully sorts it for presentation only —
      // consumers that need order sort their own (bounded) slice.
      .distinct()
  }

  /** 64-bit SimHash signatures — the SCALE form of [[simhash]]: same
    * distinct-token vote discipline, but the `simhash64` kernel
    * (`functions/HexSimHash.scala`) slices 64 nibble-BIT votes from each
    * token's md5 (2 bits per nibble × 32 nibbles) instead of 16
    * nibble-parity votes. 16 bits = 65,536 distinct signatures: at ~10⁶
    * docs the signature-grouped keeper merges unrelated docs by
    * pigeonhole and each 8-bit band bucket holds ~1/256 of the corpus;
    * at 64 bits random-pair collisions are negligible and the 16-bit
    * bands keep buckets ~1/65,536. The 16-bit family remains the
    * audit/tuning view at fixture scale. */
  def simhash64(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash64Col(col("text")).as("simhash64"))

  /** The 64-bit SimHash derivation as a composable COLUMN over any text
    * expression — the [[simhash64]] arithmetic freed from the per-doc
    * frame shape, so sub-document granularities (chunks) sign with the
    * identical kernel: normalize → distinct tokens → per-token md5 →
    * one `simhash64` vote pass. */
  def simhash64Col(text: Column): Column =
    call_function("simhash64",
      transform(array_distinct(split(norm(text), " ")),
        t => md5(t.cast("binary"))))

  /** Banded near-dup pairs over the 64-bit signature: 4×16-bit bands —
    * by the pigeonhole, ANY pair within Hamming distance 3 agrees on at
    * least one whole band, so recall at the default radius is exact
    * (no straddle gap, unlike the 2-band 16-bit view). Same capped
    * sub-salting and gate-before-distinct plan ([[bandedHammingPairs]]). */
  def simhashNearDup64(docs: DataFrame, maxHamming: Int = 3,
                       maxBucket: Int = MaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete" +
        " (use simhashNearDup64Radius for deeper radii)")
    bandedHammingPairs(
      simhash64(docs).withColumnRenamed("simhash64", "sig"),
      nBands = 4, bandBits = 16, maxHamming, maxBucket)
  }

  /** [[simhashNearDup64]] generalized over the REQUESTED radius — the
    * constructive answer where the fixed-band forms refuse: the banding
    * derives from `maxHamming` by pigeonhole ([[bandLayout]]:
    * maxHamming+1 bands of ~64/(maxHamming+1) bits), so a caller
    * wanting Hamming ≤ 7 gets a correct 8×8-bit plan instead of an
    * IllegalArgumentException. Recall is exact at the requested radius;
    * the price is the banding's own scaling — more, narrower bands mean
    * more candidate rows per doc AND coarser buckets (a b-bit band
    * splits the corpus ~2^b ways), which is why the default forms pin
    * the radius instead of exposing this dial casually. Same capped
    * sub-salting and gate-before-distinct plan as every banded family. */
  def simhashNearDup64Radius(docs: DataFrame, maxHamming: Int,
                             maxBucket: Int = MaxBucket): DataFrame =
    bandedHammingPairsLayout(
      simhash64(docs).withColumnRenamed("simhash64", "sig"),
      bandLayout(maxHamming), maxHamming, maxBucket)

  /** [[simhashNearDup64Radius]] over an ALREADY-signed
    * (doc_id, simhash64) frame — a [[SimHashStore]] scan: the deep
    * Hamming audit of a signed corpus re-bands the persisted 8-byte
    * signatures and never re-reads text (the [[simhashAuditFromSigs]]
    * posture applied to the radius family). At 100 TB this is the
    * difference between an audit that scans the corpus and one that
    * scans corpus_count × 8 bytes of derived state. */
  def simhashNearDup64RadiusFromSigs(sigs: DataFrame, maxHamming: Int,
                                     maxBucket: Int = MaxBucket): DataFrame =
    bandedHammingPairsLayout(
      sigs.select(col("doc_id"), col("simhash64").as("sig")),
      bandLayout(maxHamming), maxHamming, maxBucket)

  /** Signature-grouped SimHash dedup — the PRODUCTION form of the
    * family: one hash aggregate on the 16-bit fingerprint electing the
    * lowest doc_id per signature group (the dedup_exact shape on the
    * fingerprint key). O(corpus) with one map-side-combined exchange at
    * any scale, where the pair list ([[simhashNearDup]]) is the audit
    * view whose OUTPUT is inherently quadratic in duplicate-family size
    * (measured: 8.7M true pairs on the 10× synthetic corpus, families
    * square under replication — no plan can beat its own result set). */
  def simhashDedup(docs: DataFrame): DataFrame =
    simhash(docs)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))

  /** [[simhashDedup]] on the 64-bit signature — the keeper form that
    * holds at corpus scale: 2⁶⁴ signature space means groups merge on
    * real near-identity, not 16-bit pigeonhole collisions. */
  def simhashDedup64(docs: DataFrame): DataFrame =
    simhash64(docs)
      .groupBy(col("simhash64"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))

  /** CHUNK-granularity dedup — [[simhashDedup64]] at the granularity an
    * LLM pipeline actually trains on: each document's sliding context
    * windows ([[Curation.chunkDocs]]) are signed with the SAME 64-bit
    * kernel ([[simhash64Col]]), then one hash aggregate per chunk
    * signature elects the lexicographically-first (doc_id, chunk_idx)
    * keeper and counts duplicates — with `cross_doc` flagging
    * signatures shared ACROSS documents (the near-dup windows span
    * dedup misses: exact-substring spans are [[SpanDedup]]'s catch,
    * near-identical windows whose tokens drift are this one's).
    *
    * Scale shape: chunking is per-row explode (no shuffle), signing is
    * per-chunk codegen, the group-by is ONE map-side-combined exchange
    * keyed on the 8-byte signature — the dedup_exact posture on chunk
    * state; output is one row per distinct chunk signature. */
  /** Per-chunk 64-bit signatures (doc_id, chunk_idx, simhash64) — the
    * derivation [[chunkDedup64]] groups and [[ChunkSigStore]] persists. */
  def chunkSigs64(docs: DataFrame, window: Int = 32,
                  stride: Int = 24): DataFrame =
    Curation.chunkDocs(docs, window, stride)
      .select(col("doc_id"), col("chunk_idx"),
        simhash64Col(col("chunk_text")).as("simhash64"))

  /** Incremental CHUNK dedup — the batch-vs-corpus ingestion form at
    * chunk granularity: which of the INCOMING batch's context windows
    * already exist (identical chunk signature) in the signed corpus.
    * `esigs` is a (doc_id, chunk_idx, simhash64) frame — a
    * [[ChunkSigStore]] scan in the staged form, so the corpus is
    * chunked and tokenized exactly once, ever. Scale shape: the corpus
    * side is ONE scan hash-joined against the BROADCAST incoming
    * chunk signatures on signature equality (no banding needed — the
    * chunk family's verdict is exact-signature identity, the
    * `dedup_simhash64_keep` convention); match counting keys only the
    * matched rows. */
  def chunkDedupIncremental(esigs: DataFrame, incoming: DataFrame,
                            window: Int = 32, stride: Int = 24,
                            broadcastIncoming: Boolean = true): DataFrame =
    chunkDedupIncrementalBothSigs(esigs,
      chunkSigs64(incoming, window, stride), broadcastIncoming)

  /** The core over TWO already-derived chunk-signature frames — the
    * streaming lane's entry, so a batch chunked once feeds both the
    * verdict and the survivor append. */
  private[graft] def chunkDedupIncrementalBothSigs(
      esigs: DataFrame, isigs: DataFrame,
      broadcastIncoming: Boolean = true): DataFrame = {
    def bc(df: DataFrame): DataFrame =
      if (broadcastIncoming) broadcast(df) else df
    val matches = esigs
      .select(col("simhash64"), col("doc_id").as("ex_doc"))
      .join(bc(isigs), "simhash64")
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count_distinct(col("ex_doc")).as("nd"))
    isigs.select(col("doc_id"), col("chunk_idx"))
      .join(bc(matches), Seq("doc_id", "chunk_idx"), "left")
      .select(col("doc_id"), col("chunk_idx"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_dups"),
        (coalesce(col("nd"), lit(0L)) === 0).as("is_new"))
  }

  /** Composite (doc_id, chunk_idx) → single-long key for chunk-level
    * graph machinery (the min-label fixpoint and banded pair plans key
    * on one long id): doc_id · 2²⁰ + chunk_idx. 2²⁰ chunks per doc =
    * a 25M-token document at stride 24 before overflow — asserted in
    * the keyed projection, never silently wrapped. */
  private val ChunkKeySpan = 1L << 20

  /** CHUNK-granularity NEAR-dup clusters — the banded-Hamming upgrade
    * of [[chunkDedup64]]'s exact-signature keeper: context windows
    * within `maxHamming` bits of each other (lightly-EDITED duplicated
    * windows — the common case in scraped corpora, where exact chunk
    * signatures miss a one-word edit) form transitive families via the
    * shared banded pair plan + min-label fixpoint, and each family
    * elects its lexicographically-first (doc_id, chunk_idx) keeper.
    * Output: one row per chunk with its cluster representative and
    * `is_keeper`.
    *
    * Scale shape: chunks key into single longs ([[ChunkKeySpan]]) and
    * reuse [[bandedHammingPairs]] verbatim — 4×16-bit bands, capped
    * sub-salted buckets, gate before the distinct exchange — so
    * candidate work is banded, never all-pairs, and the fixpoint moves
    * (key, label) longs only ([[dedupClustersFromEdges]]'s
    * edge-endpoint discipline: chunks with no near-dup edge never
    * enter the loop). EAGER like every cluster view (the fixpoint
    * cannot be one lazy plan). */
  def chunkNearDupClusters(docs: DataFrame, maxHamming: Int = 3,
                           window: Int = 32, stride: Int = 24,
                           maxBucket: Int = MaxBucket): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    val keyed = chunkSigs64(docs, window, stride).select(
      when(assert_true(col("chunk_idx") < ChunkKeySpan,
        lit(s"chunkNearDupClusters: chunk_idx overflows the " +
          s"$ChunkKeySpan-per-doc key span")).isNull &&
        assert_true(col("doc_id") < (Long.MaxValue / ChunkKeySpan),
          lit(s"chunkNearDupClusters: doc_id * $ChunkKeySpan overflows " +
            "the composite long key")).isNull,
        col("doc_id") * ChunkKeySpan + col("chunk_idx")).as("doc_id"),
      col("simhash64").as("sig"))
    val pairs = bandedHammingPairs(keyed, nBands = 4, bandBits = 16,
      maxHamming, maxBucket)
    dedupClustersFromEdges(keyed.select(col("doc_id")),
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(
        expr(s"doc_id DIV $ChunkKeySpan").as("doc_id"),
        (col("doc_id") % ChunkKeySpan).cast("int").as("chunk_idx"),
        expr(s"cluster_id DIV $ChunkKeySpan").as("cluster_doc_id"),
        (col("cluster_id") % ChunkKeySpan).cast("int")
          .as("cluster_chunk_idx"),
        col("is_keeper"))
  }

  /** Banded NEAR-dup chunk judge against an already-signed chunk frame
    * — [[chunkDedupIncrementalBothSigs]] with the exact-identity
    * verdict upgraded to Hamming ≤ `maxHamming` through the shared
    * 4×16-bit banding: which of the incoming batch's context windows
    * are within editing distance of ANY window in the signed corpus
    * ([[ChunkSigStore]] in the staged form — the corpus is never
    * re-chunked or re-tokenized). Same scale posture as every
    * incremental judge: the store side is ONE scan, band-exploded with
    * its signature carried along, hash-joined against the BROADCAST
    * incoming bands; the Hamming gate runs before the per-window
    * count, and a pair agreeing on several bands counts once. */
  def chunkDedupNearFromSigs(esigs: DataFrame, incoming: DataFrame,
                             maxHamming: Int = 3, window: Int = 32,
                             stride: Int = 24,
                             broadcastIncoming: Boolean = true): DataFrame =
    chunkDedupNearBothSigs(esigs, chunkSigs64(incoming, window, stride),
      maxHamming, broadcastIncoming)

  private[graft] def chunkDedupNearBothSigs(
      esigs: DataFrame, isigs: DataFrame, maxHamming: Int = 3,
      broadcastIncoming: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    def bc(df: DataFrame): DataFrame =
      if (broadcastIncoming) broadcast(df) else df
    // corpus chunks collapse to DISTINCT (signature, doc) pairs before
    // banding. This is deliberately WEAKER than the doc-level judge's
    // per-signature count collapse (simhashIncremental64BothSigs): at
    // chunk granularity one corpus doc carries MANY distinct chunk
    // signatures, and two different windows of the same doc can both
    // sit within Hamming range of one incoming window — a per-signature
    // doc-count sum would then count that doc twice, where n_dups is
    // defined (and oracled) as DISTINCT corpus docs. Carrying the doc
    // id through the band join keeps the count exact; identical windows
    // WITHIN a doc (the common duplication mode) still band once via
    // the distinct.
    val egrouped = esigs
      .select(col("simhash64").as("esig"), col("doc_id").as("ex_doc"))
      .distinct()
    val ebands = explodeBands4(egrouped, "esig")
    val ibands = bc(explodeBands4(
      isigs.select(col("doc_id"), col("chunk_idx"),
        col("simhash64").as("isig")), "isig"))
    val dups = ebands.join(ibands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count_distinct(col("ex_doc")).as("nd"))
    isigs.select(col("doc_id"), col("chunk_idx"))
      .join(bc(dups), Seq("doc_id", "chunk_idx"), "left")
      .select(col("doc_id"), col("chunk_idx"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_dups"),
        (coalesce(col("nd"), lit(0L)) === 0).as("is_new"))
  }

  def chunkDedup64(docs: DataFrame, window: Int = 32,
                   stride: Int = 24): DataFrame =
    chunkSigs64(docs, window, stride)
      .groupBy(col("simhash64"))
      .agg(
        // lexicographic struct min == (min doc_id, then its min chunk)
        min(struct(col("doc_id"), col("chunk_idx"))).as("keep"),
        count(lit(1)).as("dup_count"),
        count_distinct(col("doc_id")).as("n_docs"))
      .select(col("simhash64"),
        col("keep.doc_id").as("keep_doc_id"),
        col("keep.chunk_idx").as("keep_chunk_idx"),
        col("dup_count"), col("n_docs"),
        (col("n_docs") > 1).as("cross_doc"))

  /** Incremental SimHash dedup — the batch-vs-corpus ingestion shape
    * the MinHash ([[incrementalDedup]]) and span
    * (`SpanDedup.spanCleanIncremental`) families already have, on the
    * 64-bit signature: which INCOMING docs are within `maxHamming` of
    * an EXISTING doc. Same scale posture as the MinHash form: the
    * corpus side is ONE scan, band-exploded with its signature carried
    * along, hash-joined against a BROADCAST of the (small) incoming
    * batch's bands — the corpus is never shuffled or self-joined, and
    * the Hamming gate runs before the per-doc count. A pair agreeing
    * on several bands is counted once (`count_distinct`). 4×16-bit
    * bands give exact recall at the default radius (pigeonhole ≤3). */
  def simhashIncremental64(existing: DataFrame, incoming: DataFrame,
                           maxHamming: Int = 3,
                           broadcastIncoming: Boolean = true): DataFrame =
    simhashIncremental64FromSigs(simhash64(existing), incoming,
      maxHamming, broadcastIncoming)

  /** [[simhashIncremental64]] against an already-derived corpus
    * signature frame (doc_id, simhash64) — the entry the PERSISTED
    * store uses ([[SimHashStore]]): `esigs` can be a plain parquet scan
    * of signed state, so the corpus is never re-tokenized or re-hashed
    * per ingestion batch — the `dedup_incremental_staged` posture at
    * 8 bytes of state per doc. */
  def simhashIncremental64FromSigs(esigs: DataFrame, incoming: DataFrame,
                                   maxHamming: Int = 3,
                                   broadcastIncoming: Boolean = true)
  : DataFrame =
    simhashIncremental64BothSigs(esigs, simhash64(incoming),
      maxHamming, broadcastIncoming)

  /** The 4×16-bit band-explode of a (doc_id, simhash64) frame — shared
    * by the incremental judge and the fuzzy decontamination (which
    * broadcast opposite sides of the same banded join). */
  private def sigBands(sigs: DataFrame, idAs: String,
                       sigAs: String): DataFrame =
    explodeBands4(
      sigs.select(col("doc_id").as(idAs), col("simhash64").as(sigAs)),
      sigAs)

  /** The 4×16-bit band explode preserving every input column — the ONE
    * place the fixed-band shift/mask arithmetic lives ([[sigBands]],
    * the chunk decontamination, and the media retro sweep all
    * delegate, so the recall contract cannot silently diverge between
    * paths). */
  private[graft] def explodeBands4(df: DataFrame, sigCol: String): DataFrame =
    df.select(col("*"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col(sigCol), 16 * i).bitwiseAND(lit(65535L))
            .as("bval"))): _*)).as("b"))
      .withColumn("band", col("b.band"))
      .withColumn("bval", col("b.bval"))
      .drop("b")

  /** The core over TWO already-derived signature frames (both
    * (doc_id, simhash64)) — the entry the streaming lane uses so a
    * batch signed once feeds both the verdict and the survivor append
    * without re-tokenizing.
    *
    * The corpus side is pre-grouped BY SIGNATURE before banding (r12):
    * the Hamming gate and therefore the whole verdict depend only on
    * the signature, so the distinct ex-doc count per incoming doc is
    * EXACTLY the sum, over distinct colliding corpus signatures, of
    * each signature's doc count — identical output, but exact-duplicate
    * corpus documents (replicas, boilerplate reposts: the common case
    * in scraped corpora, and the entire synth scale probe) band ONCE
    * instead of once per copy. Candidate volume drops from
    * corpus_docs × batch to distinct_sigs × batch band collisions —
    * measured at the 30× probe: 43.2 s → the collapsed judge's
    * candidate stream shrinks by the duplicate multiplicity. The price
    * is ONE narrow signature-keyed exchange over the corpus sig scan
    * (map-side combine reduces each partition's duplicates first; the
    * exchange carries 8-byte keys + counts, not documents), where the
    * r11 form had zero corpus exchanges — at 100 TB the candidate
    * stream it removes is orders of magnitude larger. A pair agreeing
    * on several bands still counts once (the distinct (inc, esig)
    * reduction below). */
  private[graft] def simhashIncremental64BothSigs(
      esigs: DataFrame, isigs: DataFrame, maxHamming: Int = 3,
      broadcastIncoming: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    def bc(df: DataFrame): DataFrame =
      if (broadcastIncoming) broadcast(df) else df
    val egrouped = esigs.groupBy(col("simhash64"))
      .agg(count_distinct(col("doc_id")).as("n_ex"))
      .select(col("simhash64").as("esig"), col("n_ex"))
    val ebands = explodeBands4(egrouped, "esig")
    val ibands = bc(sigBands(isigs, "inc_id", "isig"))
    val dups = ebands.join(ibands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      // a (inc, esig) pair colliding in several bands reduces to one
      // row (n_ex is signature-determined, max == the value), then the
      // per-doc total is the exact distinct-ex-doc count
      .groupBy(col("inc_id"), col("esig"))
      .agg(max(col("n_ex")).as("n_ex"))
      .groupBy(col("inc_id"))
      .agg(sum(col("n_ex")).as("nd"))
    isigs.select(col("doc_id"))
      .join(bc(dups.select(col("inc_id").as("doc_id"), col("nd"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_dups"),
        (coalesce(col("nd"), lit(0L)) === 0).as("is_new"))
      .orderBy("doc_id")
  }

  /** FUZZY benchmark decontamination — the near-duplicate complement of
    * [[Curation.decontaminate]]'s exact-shingle semi-join: a training
    * doc within Hamming ≤ `maxHamming` of ANY benchmark doc's 64-bit
    * SimHash is flagged contaminated, catching the paraphrased /
    * lightly-edited benchmark leakage an exact shingle match misses.
    * Output: one row per NON-benchmark doc with its benchmark-match
    * count and an `is_clean` verdict.
    *
    * Scale shape — the broadcast direction is the OPPOSITE of the
    * ingestion judge ([[simhashIncremental64BothSigs]] broadcasts the
    * small incoming batch against a big corpus): here the BENCHMARK
    * side is the bounded one, so its bands broadcast and the corpus
    * streams through one broadcast hash join, then one aggregate keyed
    * by the matching docs only. No corpus exchange, no output sort
    * (corpus-sized frame; the driver compare sorts its own rows). */
  def decontaminateFuzzy(docs: DataFrame, benchmarkMaxId: Long = 10,
                         maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    // EXCLUSIVE split, matching Curation.decontaminate's
    // `doc_id < benchmarkMaxId` convention exactly, so the exact and
    // fuzzy passes agree on which docs are benchmark vs training and
    // their verdicts join on one doc universe
    val bbands = broadcast(sigBands(
      simhash64(docs.filter(col("doc_id") < benchmarkMaxId)),
      "ex_id", "esig"))
    val csigs = simhash64(docs.filter(col("doc_id") >= benchmarkMaxId))
    val matches = sigBands(csigs, "inc_id", "isig")
      .join(bbands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      .groupBy(col("inc_id"))
      .agg(count_distinct(col("ex_id")).as("nd"))
    csigs.select(col("doc_id"))
      .join(matches.select(col("inc_id").as("doc_id"), col("nd")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).cast("int").as("n_benchmark_matches"),
        (coalesce(col("nd"), lit(0L)) === 0).as("is_clean"))
  }

  /** The intra-batch exactness gate shared by the streaming store lanes
    * (`StreamingLanes.simhashStoreLane` / `mediaSigStoreLane` with
    * `intraBatchExact = true`) and the composed curation stage
    * ([[Curation.curateBatch]]): among batch docs that passed the STORE
    * judge (`storeVerdict.is_new`), run the banded Hamming pair plan +
    * min-label clusters inline and keep only each near-dup family's
    * min-doc_id keeper; the rest demote to `is_new = false`. The
    * verdict gains `n_batch_dups` (intra-batch partner count) so the
    * demotion reason is recoverable downstream: store dup →
    * `n_dups > 0`; intra-batch demotion → `n_dups = 0`,
    * `n_batch_dups > 0`. The admitted set equals what the batch form
    * would choose over store ∪ batch at maintenance time. */
  def intraBatchKeeperGate(isigs: DataFrame, storeVerdict: DataFrame,
                           maxHamming: Int = 3,
                           maxBucket: Int = 256,
                           eager: Boolean = true): DataFrame = {
    val clean = isigs.join(
      storeVerdict.filter(col("is_new")).select(col("doc_id")), "doc_id")
    // pinned: the pair frame feeds both the cluster edges and the
    // partner counts — two unpinned consumers would each re-run the
    // banded self-join; the pair list is tiny (near-dups within one
    // batch). `eager = false` (the batch-twin mode, r18) keeps the pin
    // but defers materialization to the caller's single action — same
    // data, one fewer standalone job; the lane keeps the eager default
    // (its appends must not feed back into a half-built plan).
    val pairs = bandedHammingPairs(
      clean.select(col("doc_id"), col("simhash64").as("sig")),
      nBands = 4, bandBits = 16, maxHamming, maxBucket)
      .localCheckpoint(eager)
    val partners = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_batch_dups"))
    val clusters = dedupClustersFromEdges(
      clean.select(col("doc_id")),
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    storeVerdict
      .join(clusters.select(col("doc_id"), col("is_keeper")),
        Seq("doc_id"), "left")
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_dups"),
        (col("is_new") && coalesce(col("is_keeper"), lit(true)))
          .as("is_new"),
        coalesce(col("n_batch_dups"), lit(0)).as("n_batch_dups"))
  }

  /** CHUNK-granularity fuzzy decontamination — [[decontaminateFuzzy]] at
    * the granularity benchmark leakage actually occurs: a contaminated
    * document usually embeds ONE benchmark passage, so whole-doc
    * signatures drift far apart while one context window stays within
    * Hamming range. Both sides chunk with the SAME window/stride
    * ([[Curation.chunkDocs]]) and sign per chunk ([[simhash64Col]]);
    * a corpus chunk within `maxHamming` of ANY benchmark chunk is
    * flagged, and each doc reports its contaminated-chunk fraction —
    * the triage number (drop the doc vs excise the chunk).
    *
    * Scale shape: the benchmark side (chunks of a bounded benchmark
    * set) band-explodes and broadcasts; the corpus chunk stream takes
    * one broadcast hash join, one (doc, chunk) aggregate over matches
    * only, and one doc-keyed aggregate for the fraction — no corpus
    * shuffle beyond the chunk-keyed verdict exchanges. */
  def decontaminateChunks(docs: DataFrame, benchmarkMaxId: Long = 10,
                          maxHamming: Int = 3, window: Int = 32,
                          stride: Int = 24): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    def chunkSigs(df: DataFrame): DataFrame =
      chunkSigs64(df, window, stride).withColumnRenamed("simhash64", "sig")
    // eager: the corpus chunk+tokenize+sign pipeline feeds TWO subtrees
    // (the banded matches side and the left-join verdict side below) —
    // unpinned, the whole derivation ran once per consumer (the window
    // rewrite removed only the third evaluation; the curateBatch /
    // intraBatchKeeperGate pin discipline applies here too)
    val corpusChunks = chunkSigs(docs.filter(col("doc_id") >= benchmarkMaxId))
      .localCheckpoint(true)
    val bband = broadcast(explodeBands4(
      chunkSigs(docs.filter(col("doc_id") < benchmarkMaxId))
        .select(col("doc_id").as("b_id"), col("sig").as("bsig")), "bsig"))
    val matches = explodeBands4(corpusChunks, "sig")
      .join(bband, Seq("band", "bval"))
      .filter(bit_count(col("sig").bitwiseXOR(col("bsig"))) <= maxHamming)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count_distinct(col("b_id")).as("nb"))
    // the per-doc fraction as a window over the per-chunk verdicts: ONE
    // pass and one doc_id exchange — a groupBy + self-join would run
    // the whole corpus-chunk pipeline twice (its subplan appeared twice
    // in the executed plan before this; per-doc partitions are bounded
    // by chunks-per-doc, so the window never funnels)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
    corpusChunks.select(col("doc_id"), col("chunk_idx"))
      .join(matches, Seq("doc_id", "chunk_idx"), "left")
      .select(col("doc_id"), col("chunk_idx"),
        coalesce(col("nb"), lit(0L)).cast("int").as("n_benchmark_matches"),
        (coalesce(col("nb"), lit(0L)) === 0).as("is_clean"))
      .withColumn("doc_contaminated_frac",
        sum(when(col("is_clean"), 0L).otherwise(1L)).over(w).cast("double")
          / count(lit(1)).over(w).cast("double"))
  }

  /** The composed single-batch DECONTAMINATION stage — benchmark
    * filtering as a store-backed ingestion step, shared VERBATIM by
    * the streaming lane
    * ([[graft.streaming.StreamingLanes.decontamStoreLane]]) and the
    * batch twin (`decontam_lane_twin`, the CORRECTNESS row the DuckDB
    * oracle certifies):
    *
    *   1. chunk + sign the batch ONCE (context windows via
    *      [[Curation.chunkDocs]], one 64-bit signature per window —
    *      eager, the only pass that tokenizes batch text);
    *   2. judge every window against a SCAN of the persisted BENCHMARK
    *      chunk signatures ([[ChunkSigStore]], staged once over the
    *      benchmark set — STATIC judge state, never appended to):
    *      banded Hamming ≤ `maxHamming` through the shared 4×16-bit
    *      layout, benchmark side pre-collapsed to DISTINCT signatures
    *      (the signature-grouped judge discipline — a benchmark
    *      passage duplicated across its suite bands once), batch side
    *      broadcast (the bounded side of a micro-batch);
    *   3. per-window verdict + per-doc contaminated fraction in ONE
    *      window pass over the pinned chunk frame;
    *   4. the triage gate [[decontaminateChunks]] only reports, made
    *      operational: a doc whose contaminated fraction exceeds
    *      `maxFrac` drops WHOLE (too entangled with the benchmark to
    *      salvage), below it flagged windows EXCISE and clean windows
    *      pass.
    *
    * Returns (clean chunks, per-doc verdict): the lane appends the
    * first to its curated output store and derives its stats frame
    * from the second (`is_new` = doc admitted, `n_dups` = its
    * contaminated-window count — a rejected doc always carries
    * `n_dups > 0`, so the stats `n_intra_batch` split is structurally
    * 0 for this lane). `n_benchmark_matches` counts distinct matching
    * benchmark SIGNATURES (the grouped-judge unit), not benchmark
    * docs as [[decontaminateChunks]] reports — the per-sig collapse
    * makes doc counts unrecoverable without carrying per-doc rows,
    * and the verdict (clean / flagged) is identical either way.
    * The chunk+sign frame and the windowed verdict are eagerly
    * checkpointed: each feeds two consumers (judge + clean output;
    * doc verdict + clean output), and the benchmark store being
    * read-only means no append can feed back into the judge plan. */
  def decontamBatch(benchSigs: DataFrame, batch: DataFrame,
                    maxHamming: Int = 3, window: Int = 32,
                    stride: Int = 24, maxFrac: Double = 0.5,
                    eager: Boolean = true)
  : (DataFrame, DataFrame) = {
    val (chunkVerdict, docVerdict) =
      decontamVerdicts(benchSigs, batch, maxHamming, window, stride, maxFrac,
        eager)
    // twin mode: one job materializes both deferred pins (chunkVerdict's
    // lineage covers the chunk+sign frame) — see Curation.curateCore
    if (!eager) chunkVerdict.count()
    val clean = chunkVerdict
      .filter(col("n_benchmark_matches") === 0 &&
        col("doc_contaminated_frac") <= maxFrac)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("doc_contaminated_frac"))
    (clean, docVerdict)
  }

  /** The decontamination JUDGE alone — (per-chunk verdict, per-doc
    * verdict), the two frames [[decontamBatch]] gates on, exposed so
    * the composed curation pipeline ([[Curation]]) can run the same
    * judge as its stage 0 and excise the same flagged windows after
    * chunking. The per-chunk frame is eagerly checkpointed (it feeds
    * the doc verdict and whichever excision/output consumers follow);
    * the doc verdict is a one-aggregate derivation over it. */
  private[graft] def decontamVerdicts(
      benchSigs: DataFrame, batch: DataFrame, maxHamming: Int = 3,
      window: Int = 32, stride: Int = 24, maxFrac: Double = 0.5,
      eager: Boolean = true)
  : (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    val chunks = Curation.chunkDocs(batch, window, stride)
      .withColumn("isig", simhash64Col(col("chunk_text")))
      .localCheckpoint(eager)
    val ebands = explodeBands4(
      benchSigs.select(col("simhash64").as("esig")).distinct(), "esig")
    val ibands = broadcast(explodeBands4(
      chunks.select(col("doc_id"), col("chunk_idx"), col("isig")), "isig"))
    val matches = ebands.join(ibands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count_distinct(col("esig")).as("nb"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
    val chunkVerdict = chunks
      .join(matches, Seq("doc_id", "chunk_idx"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"),
        coalesce(col("nb"), lit(0L)).cast("int").as("n_benchmark_matches"))
      .withColumn("doc_contaminated_frac",
        sum(when(col("n_benchmark_matches") === 0, 0L).otherwise(1L))
          .over(w).cast("double") / count(lit(1)).over(w).cast("double"))
      .localCheckpoint(eager)
    val docVerdict = chunkVerdict.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("n_benchmark_matches") === 0, 0L).otherwise(1L))
          .cast("int").as("n_dups"),
        max(col("doc_contaminated_frac")).as("doc_contaminated_frac"))
      .withColumn("is_new", col("doc_contaminated_frac") <= maxFrac)
    (chunkVerdict, docVerdict)
  }

  /** RETRO-ACTIVE decontamination sweep — the benchmark-REFRESH
    * lifecycle for the one store the system kept without one: when the
    * benchmark suite gains a DELTA (a new eval set published after the
    * corpus was curated), the already-persisted CURATED chunk store
    * must be re-judged against the new material without rebuilding the
    * corpus from raw text. The sweep signs the persisted windows once
    * (a production deployment persists the 8-byte signature column
    * alongside the chunks and skips even that), judges them against
    * ONLY the delta's banded signatures, and emits
    * (doc_id, chunk_idx) EXCISION verdicts plus per-doc re-verdicts
    * whose combined contaminated fraction folds the ingest-time flags
    * back in.
    *
    * Ingest-ledger recovery: the ingest-time flag count is not
    * persisted per doc, but the store carries each kept doc's
    * `doc_contaminated_frac` and its surviving chunk count, and
    * frac = f/(f+s) inverts exactly — n_chunks = round(s/(1−frac)),
    * f = n_chunks − s (exact for any doc under 2^26 windows; the
    * DuckDB oracle uses the TRUE ingest counts, so the CORRECTNESS row
    * certifies the recovery is bit-exact, not merely close).
    *
    * Equivalence contract (StreamingSpec asserts it on the lane):
    * lane(base) + sweep(delta) ≡ rebuild(base ∪ delta) — the surviving
    * window set and the dropped-doc set are identical, because a chunk
    * survives either path iff it matches neither suite, ingest already
    * excised the base-flagged chunks (so base+delta flags never double
    * count), and combined-fraction drops subsume ingest drops
    * (frac_combined ≥ frac_base).
    *
    * Scale shape: the refresh delta is the bounded side — its DISTINCT
    * signatures (the signature-grouped judge discipline) band-explode
    * and broadcast; the curated corpus streams through ONE broadcast
    * hash join plus one (doc, chunk)-keyed aggregate over matches
    * only. No corpus shuffle, no store rewrite — the emitted excision
    * list is the delete-set a compaction applies. Runs at benchmark
    * cadence (rare), not ingest cadence.
    *
    * Returns (excisions: flagged store windows with their distinct
    * delta-signature match counts, docVerdict: every store doc's
    * recovered ledger + combined fraction + keep verdict; a doc
    * dropped at INGEST never reached the store and so appears in
    * neither frame). */
  def retroSweep(deltaSigs: DataFrame, cleanStore: DataFrame,
                 maxHamming: Int = 3, maxFrac: Double = 0.5)
  : (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    // eager: the signed store feeds the banded judge AND the per-doc
    // ledger aggregate — unpinned, the store would re-sign per consumer.
    // dropDuplicates first: the lane's at-least-once append contract
    // permits (doc_id, chunk_idx)-key-identical replay rows until gated
    // compaction sheds them, and the ledger inversion below counts rows —
    // an un-deduped replayed doc would double n_store and flip verdicts.
    val sigs = cleanStore
      .dropDuplicates("doc_id", "chunk_idx")
      .select(col("doc_id"), col("chunk_idx"),
        col("doc_contaminated_frac"),
        simhash64Col(col("chunk_text")).as("isig"))
      .localCheckpoint(true)
    val dbands = broadcast(explodeBands4(
      deltaSigs.select(col("simhash64").as("esig")).distinct(), "esig"))
    // eager: matches feed the excision list and the per-doc new-flag
    // count (tiny frame — flagged windows only)
    val matches = explodeBands4(
        sigs.select(col("doc_id"), col("chunk_idx"), col("isig")), "isig")
      .join(dbands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count_distinct(col("esig")).as("nb"))
      .localCheckpoint(true)
    val excisions = matches.select(col("doc_id"), col("chunk_idx"),
      col("nb").cast("int").as("n_delta_matches"))
    val perDocNew = matches.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val docVerdict = sigs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_store"),
        max(col("doc_contaminated_frac")).as("frac0"))
      .join(perDocNew, Seq("doc_id"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_chunks",
        round(col("n_store").cast("double") / (lit(1.0) - col("frac0")))
          .cast("int"))
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - col("n_store")).cast("int")
          .as("n_flagged_ingest"),
        col("n_new").cast("int").as("n_new_flags"),
        ((col("n_chunks") - col("n_store") + col("n_new")).cast("double")
          / col("n_chunks").cast("double")).as("doc_contaminated_frac"))
      .withColumn("is_new", col("doc_contaminated_frac") <= maxFrac)
    (excisions, docVerdict)
  }

  /** APPLY a [[retroSweep]]'s verdicts to the curated-chunk store frame —
    * the delete-set made effective: dropped docs (combined contaminated
    * fraction over `maxFrac`) lose every window, kept docs lose exactly
    * the excised windows, and each survivor's persisted
    * `doc_contaminated_frac` advances to the COMBINED fraction (what a
    * rebuild under base ∪ delta would have stored — so the ledger
    * inversion n_chunks = round(s/(1−frac)) keeps holding after the
    * refresh: s drops by the doc's excision count and frac's numerator
    * grows by the same amount).
    *
    * Scale shape: the store streams through two BROADCAST joins — the
    * per-doc verdict (|store docs| rows of three columns) and the
    * excision delete-set (flagged windows only, near-empty at benchmark
    * cadence) — plus one keyed exchange for the duplicate shed. The
    * rewrite is a compaction-grade maintenance pass, so it also sheds
    * the at-least-once contract's replay duplicates (the same
    * (doc_id, chunk_idx) dedup gated compaction applies): the refreshed
    * store's bytes match a rebuild's, and [[retroSweep]]'s row-count
    * ledger inversion stays exact on the store it just wrote. */
  def refreshApply(cleanStore: DataFrame, excisions: DataFrame,
                   docVerdict: DataFrame): DataFrame =
    cleanStore
      .dropDuplicates("doc_id", "chunk_idx")
      .join(broadcast(docVerdict.filter(col("is_new"))
        .select(col("doc_id"), col("doc_contaminated_frac").as("cfrac"))),
        Seq("doc_id"))
      .join(broadcast(excisions.select(col("doc_id"), col("chunk_idx"))),
        Seq("doc_id", "chunk_idx"), "left_anti")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("cfrac").as("doc_contaminated_frac"))

  /** The benchmark-refresh lifecycle CLOSED: sweep the persisted curated
    * store against the delta, then atomically rewrite the store with the
    * verdicts applied ([[graft.sinks.StoreMaintenance.rewrite]] — a
    * complete copy exists on disk at every instant, crash-retryable).
    * [[retroSweep]] eagerly checkpoints both the signed store and the
    * match set, so the verdict frames are pinned BEFORE the rewrite
    * moves the files they were derived from. Idempotent by the ledger
    * invariant: a second sweep with the same delta matches nothing (the
    * flagged windows are gone), recovers the advanced fraction exactly,
    * and excises nothing (StreamingSpec asserts it). Runs at benchmark
    * cadence from the store's maintenance window, like compaction.
    * Returns the applied (excisions, docVerdict) for telemetry. */
  def refreshStore(spark: SparkSession, storePath: String,
                   deltaSigs: DataFrame, maxHamming: Int = 3,
                   maxFrac: Double = 0.5): (DataFrame, DataFrame) = {
    val (exc, docV) = retroSweep(deltaSigs,
      spark.read.parquet(storePath), maxHamming, maxFrac)
    graft.sinks.StoreMaintenance.rewrite(spark, storePath)(
      refreshApply(_, exc, docV))
    (exc, docV)
  }

  /** The staged CURATED-chunk store under the BASE benchmark — what the
    * decontamination lane's output store holds at refresh time (corpus
    * docs ≥ 10 judged against the base suite, [[ChunkSigStore
    * .fixtureBenchmarkBaseStore]]); the retro fixture's starting
    * state. */
  private def fixtureRetroCleanStore(s: SparkSession, dir: String): String =
    Staging.stage(s"decontam_clean_v1_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      decontamBatch(
        ChunkSigStore.read(s,
          ChunkSigStore.fixtureBenchmarkBaseStore(s, dir)),
        Tables(s, dir, "documents").filter(col("doc_id") >= 10))._1
        .write.parquet(tmp)
    }

  /** Connected components over the 64-bit SimHash near-dup graph —
    * [[dedupClusters]]' Hamming sibling: pairs within `maxHamming`
    * ([[simhashNearDup64]], banded, never all-pairs) become edges, the
    * shared min-label fixpoint assigns one cluster id per transitive
    * near-dup family, singletons are their own keeper. Where the
    * keeper form ([[simhashDedup64]]) groups only IDENTICAL
    * signatures, clusters merge docs whose signatures drift by up to
    * `maxHamming` per hop — the dedup a curation stage runs when
    * small-edit chains (v1 → v1.1 → v1.2) should collapse to one
    * representative. */
  def simhashClusters64(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    dedupClustersFromEdges(docs,
      simhashNearDup64(docs, maxHamming)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))

  /** Exact word-bigram Jaccard between consecutive doc ids — the
    * set-similarity kernel on a linear (non-cartesian) pair set.
    * Bigrams via the native `word_shingles(_, 2)` kernel; similarity via
    * the fused one-pass `jaccard_sim`. */
  def bigramJaccard(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"),
        call_function("word_shingles", norm(col("text")), lit(2)).as("bigrams"))
      .filter(size(col("bigrams")) > 0)
    bg.as("a").join(bg.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        call_function("jaccard_sim", col("a.bigrams"), col("b.bigrams"))
          .as("jaccard"))
  }

  /** One persisted signature frame per distinct input plan: repeat calls
    * over the same docs (a bench loop, the capped+uncapped+clusters query
    * trio, the property suites) share ONE cache instead of each pinning a
    * new one. Keyed by the canonicalized logical plan, so any two frames
    * Catalyst would consider `sameResult` hit the same entry.
    *
    * Compute-then-putIfAbsent: a concurrent loser unpersists its frame
    * immediately (getOrElseUpdate could evaluate twice and pin an
    * unreachable cache). Entries of stopped sessions are evicted on every
    * call, and the memo is size-bounded — on overflow an arbitrary entry
    * is unpersisted and dropped (correctness is unaffected; the evictee
    * just recomputes if ever asked again). */
  private val sigMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]
  private val SigMemoMax = 32

  private def memoSignatures(docs: DataFrame): DataFrame = {
    sigMemo.keys.filter(_._1.sparkContext.isStopped).foreach(sigMemo.remove)
    val key = (docs.sparkSession, docs.queryExecution.logical.canonicalized)
    val df = sigMemo.get(key) match {
      case Some(hit) => hit
      case None =>
        val fresh = signatures(docs)
        sigMemo.putIfAbsent(key, fresh) match {
          case Some(winner) => fresh.unpersist(); winner
          case None =>
            while (sigMemo.size > SigMemoMax)
              sigMemo.keys.find(_ != key).foreach { k =>
                sigMemo.remove(k).foreach(_.unpersist())
              }
            fresh
        }
    }
    // an intervening clearCache() would silently drop the persistence and
    // reintroduce the per-branch banding recomputation — re-pin if lost
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  private def docSigs(s: SparkSession, d: String): DataFrame =
    memoSignatures(Tables(s, d, "documents"))

  /** One cluster assignment per (session, fixture): `dedup_clusters` and
    * `dedup_keep_best` share a single propagation run. dedupClusters is
    * EAGER and its result is a small lineage-truncated frame, so a memo
    * hit skips the whole fixpoint. getOrElseUpdate may double-evaluate
    * under concurrency — harmless here beyond a redundant run (the
    * function is idempotent and the loser frame is just dropped). */
  private val clusterMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fixtureClusters(s: SparkSession, d: String): DataFrame = {
    clusterMemo.keys.filter(_._1.sparkContext.isStopped)
      .foreach(clusterMemo.remove)
    clusterMemo.getOrElseUpdate((s, d),
      dedupClusters(Tables(s, d, "documents"),
        minhashLshFromSigs(docSigs(s, d), MaxBucket)))
  }

  /** One SimHash cluster assignment per (session, fixture) — the
    * [[fixtureClusters]] discipline for the Hamming graph (the fixpoint
    * is eager; a bench lap must not re-run it per call). */
  private val simhashClusterMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fixtureSimhashClusters(s: SparkSession, d: String): DataFrame = {
    simhashClusterMemo.keys.filter(_._1.sparkContext.isStopped)
      .foreach(simhashClusterMemo.remove)
    simhashClusterMemo.getOrElseUpdate((s, d),
      simhashClusters64(Tables(s, d, "documents")))
  }

  /** One chunk-level near-dup cluster assignment per (session, fixture)
    * — the [[fixtureSimhashClusters]] discipline at chunk granularity
    * (eager fixpoint; a bench lap must not re-run it per call). */
  private val chunkNearClusterMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fixtureChunkNearClusters(s: SparkSession, d: String): DataFrame = {
    chunkNearClusterMemo.keys.filter(_._1.sparkContext.isStopped)
      .foreach(chunkNearClusterMemo.remove)
    chunkNearClusterMemo.getOrElseUpdate((s, d),
      chunkNearDupClusters(Tables(s, d, "documents")))
  }

  /** (doc_id, cluster_id, keeper_id, is_keeper) with the keeper chosen by
    * quality (ties to the smaller doc_id) — shared by the dedup_keep_best
    * query and the curated-export sink. */
  private def keepBestFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    fixtureClusters(s, d).select(col("doc_id"), col("cluster_id"))
      .join(TextOps.qualityScore(Tables(s, d, "documents"))
        .select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
  }

  /** Curated-corpus EXPORT: the quality-keeper docs written to
    * hash-sharded parquet (deterministic md5-nibble shard of doc_id, a
    * `partitionBy` layout any downstream trainer can list and read
    * shard-parallel), then read BACK and rolled up per shard — the
    * round-trip proves the write path, the partition layout, and value
    * fidelity, not just the plan. Staged once per (fixture, shards)
    * like the snapshot store; the v1 key guards against stale staging
    * if keeper semantics ever change. */
  def exportCurated(spark: SparkSession, dir: String,
                    shards: Int = 8): DataFrame = {
    val keepers = keepBestFrame(spark, dir)
      .filter(col("is_keeper")).select(col("doc_id"))
    val curated = Tables(spark, dir, "documents")
      .join(keepers, "doc_id")
      .withColumn("shard",
        pmod(saltHash(col("doc_id")), lit(shards.toLong)).cast("int"))
    val path = graft.sources.Staging.stage(
      s"curated_export_v1_${shards}_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      curated.write.partitionBy("shard").parquet(tmp)
    }
    spark.read.parquet(path)
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(size(split(norm(col("text")), " "))).cast("bigint")
          .as("sum_tokens"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("shard")
  }

  // --- oracle SQL, then the registered queries ----------------------------

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  private val shinglesCte =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(l) - 2),
       |    i -> array_to_string(l[i:i+2], ' '))) AS shingles
       |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
       |  WHERE len(l) >= 3)""".stripMargin

  private val simhashTerms = (1 to 16).map { k =>
    val odd = oddNibbles.map("'" + _ + "'").mkString("(", ",", ")")
    s"""CASE WHEN 2 * len(list_filter(lh, h -> substr(h, $k, 1) IN $odd))
       |  - len(l) > 0 THEN ${1L << (k - 1)} ELSE 0 END""".stripMargin
  }.mkString(" + ")

  // hex chars whose nibble value has bit 1 set (bit 0 set = oddNibbles)
  private val bit1Nibbles = Seq("2", "3", "6", "7", "a", "b", "e", "f")

  /** The 64-bit kernel's vote rule replayed per bit: signature bit k
    * (1-indexed) looks at nibble position (k-1) DIV 2 + 1 and bit
    * (k-1) MOD 2 of its value — a constant hex-char IN-list per bit,
    * like the 16-bit odd-nibble rule. Bit 64 contributes the signed
    * long's sign bit, so its term is -2^63 (the sum then lands on the
    * exact two's-complement value the kernel's `sig |= 1L << 63`
    * produces; every intermediate partial sum stays within BIGINT). */
  private[text] val simhash64Terms = (1 to 64).map { k =>
    val p = (k - 1) / 2 + 1
    val set = (if ((k - 1) % 2 == 0) oddNibbles else bit1Nibbles)
      .map("'" + _ + "'").mkString("(", ",", ")")
    val value =
      if (k == 64) "(-9223372036854775807 - 1)" else (1L << (k - 1)).toString
    s"""CASE WHEN 2 * len(list_filter(lh, h -> substr(h, $p, 1) IN $set))
       |  - len(l) > 0 THEN $value ELSE 0 END""".stripMargin
  }.mkString(" + ")

  /** Per-chunk 64-bit signature CTE body over a chunk-shaped CTE `src`
    * (doc_id, chunk_idx, chunk_text) — the [[simhashSigCte]] pattern at
    * chunk granularity, shared by the chunk dedup and chunk
    * decontamination oracles. */
  private[text] def chunkSigCteSql(src: String): String =
    s"""SELECT doc_id, chunk_idx, CAST($simhash64Terms AS BIGINT) AS sig
       |  FROM (SELECT doc_id, chunk_idx, l,
       |          list_transform(l, t -> md5(t)) AS lh
       |        FROM (SELECT doc_id, chunk_idx,
       |                list_distinct(string_split(chunk_text, ' ')) AS l
       |              FROM $src))""".stripMargin

  /** Per-doc (doc_id, sig) derivation shared by every SimHash oracle —
    * `terms` picks the signature width, `where` restricts the doc
    * population (the staged forms' store-population predicate). */
  private def simhashSigCte(terms: String, where: String = ""): String =
    s"""SELECT doc_id, CAST($terms AS BIGINT) AS sig
       |  FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
       |        FROM (SELECT doc_id,
       |                list_distinct(string_split($N, ' ')) AS l
       |              FROM documents${
      if (where.isEmpty) "" else s" WHERE $where"}))""".stripMargin

  /** The width-generic banded pair oracle, parameterized over the SAME
    * constants the engine takes ([[bandedHammingPairs]]): band values by
    * arithmetic shift + mask (DuckDB's `>>` on BIGINT is arithmetic,
    * like Spark's `shiftright`, so negative 64-bit signatures band
    * identically), the shared sub-salt cap on oversized band buckets,
    * the Hamming gate, then the distinct'd pair union. Parameterizing
    * (cap, maxHamming) keeps engine and oracle from desynchronizing if
    * a registration ever changes its arguments. */
  private def simhashPairCtes(terms: String, nBands: Int, bandBits: Int,
                              cap: Int): String =
    simhashPairCtesLayout(terms,
      (0 until nBands).map(i => (bandBits * i, bandBits)), cap)

  /** [[simhashPairCtes]] over an explicit (shift, width) layout — the
    * oracle twin of `bandedHammingPairsLayout`, fed the SAME
    * [[bandLayout]] output so engine and oracle cannot desynchronize on
    * a radius-derived banding. */
  /** SQL rendering of a band layout's `sbands` selects over a CTE named
    * `sg` (doc_id, sig) — ONE place derives the shift/mask arithmetic
    * for every banded oracle (text widths, radius-derived layouts, and
    * the media family's byte-signature twin), so engine `bandLayout`
    * and oracle banding cannot drift apart per family. */
  private[graft] def bandSelectsSql(layout: Seq[(Int, Int)]): String =
    layout.zipWithIndex.map { case ((shift, width), i) =>
      val mask = if (width >= 64) -1L else (1L << width) - 1
      s"SELECT doc_id, sig, $i AS band, (sig >> $shift) & $mask AS bval FROM sg"
    }.mkString("\n  UNION ALL\n  ")

  /** The band-explode → oversized-bucket cap → sub-salt chain over an
    * ALREADY-DEFINED `sg(doc_id, sig)` CTE — factored so oracles whose
    * id is not a document id (the chunk-key form) share the exact
    * banding/salting arithmetic of the doc-level pair oracles. */
  private def bandedPairCtesFromSg(layout: Seq[(Int, Int)],
                                   cap: Int): String =
    s"""sbands AS (
       |  ${bandSelectsSql(layout)}),
       |s_over AS (
       |  SELECT band, bval, count(*) AS bn FROM sbands GROUP BY band, bval
       |  HAVING count(*) > $cap),
       |s_salted AS (
       |  SELECT sbands.doc_id, sbands.sig, sbands.band, sbands.bval,
       |    CASE WHEN o.bn IS NULL THEN 0
       |         ELSE (${saltHashSql("sbands.doc_id")})
       |           % ((o.bn + ${cap - 1}) // $cap)
       |    END AS salt
       |  FROM sbands LEFT JOIN s_over o
       |    ON sbands.band = o.band AND sbands.bval = o.bval)""".stripMargin

  private def simhashPairCtesLayout(terms: String,
                                    layout: Seq[(Int, Int)],
                                    cap: Int,
                                    where: String = ""): String =
    s"""sg AS (
       |  ${simhashSigCte(terms, where)}),
       |${bandedPairCtesFromSg(layout, cap)}""".stripMargin

  private def simhashPairOracleLayout(terms: String,
                                      layout: Seq[(Int, Int)],
                                      cap: Int, maxHamming: Int,
                                      where: String = ""): String =
    s"""WITH ${simhashPairCtesLayout(terms, layout, cap, where)}
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM s_salted a JOIN s_salted b
       |  ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  private def simhashPairOracle(terms: String, nBands: Int, bandBits: Int,
                                cap: Int, maxHamming: Int): String =
    s"""WITH ${simhashPairCtes(terms, nBands, bandBits, cap)}
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM s_salted a JOIN s_salted b
       |  ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** The batch-vs-corpus 64-bit oracle, shared by the in-session and
    * STAGED variants (the store only changes where the corpus
    * signatures come from — the `incrementalOracle` precedent). */
  /** Batch-vs-corpus banded judge, parameterized over the split
    * predicates and output column names — shared by the ingestion
    * oracle (% 10 convention) and the fuzzy-decontamination oracle
    * (benchmark-id convention). `sorted` mirrors the engine: the
    * batch-scale ingestion verdict keeps its ORDER BY, the corpus-scale
    * decontamination frame does not (hash compare is
    * order-insensitive). */
  private def simhash64SplitOracle(exPred: String, incPred: String,
                                   ndAs: String, newAs: String,
                                   sorted: Boolean): String =
    s"""WITH sg AS (
       |  ${simhashSigCte(simhash64Terms)}),
       |eb AS (
       |  ${(0 until 4).map(i =>
      s"SELECT doc_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM sg WHERE $exPred")
      .mkString("\n  UNION ALL\n  ")}),
       |ib AS (
       |  ${(0 until 4).map(i =>
      s"SELECT doc_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM sg WHERE $incPred")
      .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS ex_id, i.doc_id AS inc_id,
       |    e.sig AS esig, i.sig AS isig
       |  FROM eb e JOIN ib i ON e.band = i.band AND e.bval = i.bval),
       |ver AS (
       |  SELECT inc_id, count(DISTINCT ex_id) AS nd FROM cand
       |  WHERE bit_count(xor(esig, isig)) <= 3
       |  GROUP BY inc_id)
       |SELECT d.doc_id, CAST(coalesce(v.nd, 0) AS INTEGER) AS $ndAs,
       |  coalesce(v.nd, 0) = 0 AS $newAs
       |FROM documents d LEFT JOIN ver v ON v.inc_id = d.doc_id
       |WHERE $incPred${if (sorted) "\nORDER BY d.doc_id" else ""}""".stripMargin

  private lazy val simhash64IncrementalOracle: String =
    simhash64SplitOracle("doc_id % 10 < 8", "doc_id % 10 >= 8",
      "n_dups", "is_new", sorted = true)

  /** The signature-grouped keeper oracle, width-generic. */
  private def simhashKeepOracle(terms: String, sigName: String): String =
    s"""WITH sg AS (
       |  ${simhashSigCte(terms)})
       |SELECT sig AS $sigName, min(doc_id) AS keep_doc_id,
       |  count(*) AS dup_count
       |FROM sg GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  /** The full banding + capped-salting + Jaccard-verify pipeline as a
    * DuckDB CTE chain ending in `lsh_pairs(doc_a, doc_b, jaccard)` —
    * mirrors `minhashLsh` exactly, including the md5-nibble sub-salt of
    * oversized buckets. Shared by the pair-list oracles and the
    * connected-components clustering oracle. */
  /** sh → hh → mh → bands: per-doc shingles, double-md5 minhash
    * signatures, and band-bucket rows — the uncapped prefix shared by
    * the self-join oracles and the incremental (batch-vs-corpus) one. */
  private val bandsCtes: String =
    s"""$shinglesCte,
       |hh AS (
       |  SELECT doc_id, shingles,
       |    list_transform(shingles, s -> md5('a:' || s)) AS ha,
       |    list_transform(shingles, s -> md5('b:' || s)) AS hb
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id, shingles, list_transform(generate_series(0, ${K - 1}),
       |    j -> list_min(list_transform(
       |      CASE WHEN j < 4 THEN ha ELSE hb END,
       |      h -> substr(h, 8 * (j % 4) + 1, 8)))) AS sig
       |  FROM hh),
       |bands AS (
       |  SELECT doc_id, b, sig[2*b+1] || sig[2*b+2] AS bsig
       |  FROM mh, (SELECT unnest(generate_series(0, ${B - 1})) AS b))""".stripMargin

  private def lshCtes(cap: Int): String =
    s"""$bandsCtes,
       |over_cap AS (
       |  SELECT b, bsig, count(*) AS bn FROM bands GROUP BY b, bsig
       |  HAVING count(*) > $cap),
       |salted AS (
       |  SELECT bands.doc_id, bands.b, bands.bsig,
       |    CASE WHEN o.bn IS NULL THEN 0
       |         ELSE (${saltHashSql("bands.doc_id")})
       |           % ((o.bn + ${cap - 1}) // $cap)
       |    END AS salt
       |  FROM bands LEFT JOIN over_cap o
       |    ON bands.b = o.b AND bands.bsig = o.bsig),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM salted x JOIN salted y
       |    ON x.b = y.b AND x.bsig = y.bsig AND x.salt = y.salt
       |    AND x.doc_id < y.doc_id),
       |lsh_pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
       |      AS jaccard
       |  FROM cands c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b)""".stripMargin

  private def lshOracle(cap: Int): String =
    s"""WITH ${lshCtes(cap)}
       |SELECT doc_a, doc_b, jaccard FROM lsh_pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Thresholded exact-Jaccard verification of a candidate pair —
    * identical arithmetic to the engine's `jaccard_sim`. */
  private val jaccardSql =
    """CAST(len(list_intersect(se.shingles, si.shingles)) AS DOUBLE)
      |      / len(list_distinct(list_concat(se.shingles, si.shingles)))""".stripMargin

  /** lsh_pairs → bidirectional thresholded edges → recursive reachability
    * → `clusters(doc_id, cluster_id)` — min(r) per id is exactly the
    * engine's min-label fixpoint. Shared by every cluster-family oracle. */
  private val clustersCtes: String =
    s"""${lshCtes(MaxBucket)},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM lsh_pairs WHERE jaccard >= 0.8
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM lsh_pairs WHERE jaccard >= 0.8),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |clusters AS (
       |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)"""
      .stripMargin

  /** clusters joined with quality, keeper_id ranked by (quality DESC,
    * doc_id ASC) — the keep-best CTE suffix. */
  private val keepCtes: String =
    s"""q AS (SELECT doc_id, ${TextOps.qualityExprSql} AS quality
       |      FROM documents),
       |ranked AS (
       |  SELECT c.doc_id, c.cluster_id,
       |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.doc_id ASC) AS keeper_id
       |  FROM clusters c JOIN q ON q.doc_id = c.doc_id)""".stripMargin

  /** The batch-vs-corpus dedup oracle, shared by `dedup_incremental`
    * and `dedup_incremental_staged` (identical semantics — the staged
    * variant only changes where the corpus signatures come from). */
  private val incrementalOracle: String =
    s"""WITH $bandsCtes,
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS ex_id, i.doc_id AS inc_id
       |  FROM bands e JOIN bands i ON e.b = i.b AND e.bsig = i.bsig
       |  WHERE e.doc_id % 10 < 8 AND i.doc_id % 10 >= 8),
       |ver AS (
       |  SELECT c.inc_id, count(DISTINCT c.ex_id) AS nd
       |  FROM cand c
       |  JOIN sh se ON se.doc_id = c.ex_id
       |  JOIN sh si ON si.doc_id = c.inc_id
       |  WHERE $jaccardSql >= 0.8
       |  GROUP BY c.inc_id)
       |SELECT d.doc_id, CAST(coalesce(v.nd, 0) AS INTEGER) AS n_dups,
       |  coalesce(v.nd, 0) = 0 AS is_new
       |FROM documents d LEFT JOIN ver v ON v.inc_id = d.doc_id
       |WHERE d.doc_id % 10 >= 8
       |ORDER BY d.doc_id""".stripMargin

  /** The batch-vs-corpus chunk-dedup oracle on the % 10 convention —
    * shared by `chunk_dedup_incremental` and its staged twin. */
  private lazy val chunkIncrementalOracle: String =
    s"""WITH esrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |isrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |${Curation.chunkCtesSql(32, 24, "esrc", "echunks")},
       |${Curation.chunkCtesSql(32, 24, "isrc", "ichunks")},
       |esig AS (
       |  ${chunkSigCteSql("echunks")}),
       |isig AS (
       |  ${chunkSigCteSql("ichunks")}),
       |m AS (
       |  SELECT i.doc_id, i.chunk_idx, count(DISTINCT e.doc_id) AS nd
       |  FROM isig i JOIN esig e ON e.sig = i.sig
       |  GROUP BY i.doc_id, i.chunk_idx)
       |SELECT i.doc_id, i.chunk_idx,
       |  CAST(coalesce(m.nd, 0) AS INTEGER) AS n_dups,
       |  coalesce(m.nd, 0) = 0 AS is_new
       |FROM isig i LEFT JOIN m
       |  ON m.doc_id = i.doc_id AND m.chunk_idx = i.chunk_idx""".stripMargin

  /** Chunk-level NEAR-dup cluster oracle: all chunks keyed into single
    * longs (the engine's [[ChunkKeySpan]] arithmetic), the shared
    * banded/salted pair chain over that key space, Hamming gate, then
    * recursive min-label reachability and the decode back to
    * (doc_id, chunk_idx). */
  private lazy val chunkNearClustersOracle: String = {
    val span = ChunkKeySpan
    s"""WITH RECURSIVE ${Curation.chunkCtesSql(32, 24)},
       |csig AS (
       |  ${chunkSigCteSql("chunks")}),
       |sg AS MATERIALIZED (
       |  SELECT doc_id * $span + chunk_idx AS doc_id, sig FROM csig),
       |${bandedPairCtesFromSg((0 until 4).map(i => (16 * i, 16)),
      MaxBucket)},
       |cnp AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM s_salted a JOIN s_salted b
       |    ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
       |    AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM cnp
       |  UNION ALL
       |  SELECT id_b, id_a FROM cnp),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM sg
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |clusters AS (
       |  SELECT id, min(r) AS cl FROM reach GROUP BY id)
       |SELECT CAST(id // $span AS BIGINT) AS doc_id,
       |  CAST(id % $span AS INTEGER) AS chunk_idx,
       |  CAST(cl // $span AS BIGINT) AS cluster_doc_id,
       |  CAST(cl % $span AS INTEGER) AS cluster_chunk_idx,
       |  cl = id AS is_keeper
       |FROM clusters ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** The staged near-chunk judge oracle: both % 10 splits chunked with
    * the shared CTEs and signed per chunk, 4-band candidates between
    * them, Hamming gate, count of distinct corpus docs per incoming
    * window ([[chunkIncrementalOracle]] with banding in place of
    * exact-signature equality). */
  private lazy val chunkNearStagedOracle: String =
    s"""WITH esrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |isrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |${Curation.chunkCtesSql(32, 24, "esrc", "echunks")},
       |${Curation.chunkCtesSql(32, 24, "isrc", "ichunks")},
       |esig AS (
       |  ${chunkSigCteSql("echunks")}),
       |isig AS (
       |  ${chunkSigCteSql("ichunks")}),
       |eb AS (
       |  ${(0 until 4).map(i =>
      s"SELECT doc_id AS ex_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM esig")
      .mkString("\n  UNION ALL\n  ")}),
       |ib AS (
       |  ${(0 until 4).map(i =>
      s"SELECT doc_id, chunk_idx, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM isig")
      .mkString("\n  UNION ALL\n  ")}),
       |m AS (
       |  SELECT i.doc_id, i.chunk_idx, count(DISTINCT e.ex_id) AS nd
       |  FROM ib i JOIN eb e ON e.band = i.band AND e.bval = i.bval
       |  WHERE bit_count(xor(e.sig, i.sig)) <= 3
       |  GROUP BY i.doc_id, i.chunk_idx)
       |SELECT i.doc_id, i.chunk_idx,
       |  CAST(coalesce(m.nd, 0) AS INTEGER) AS n_dups,
       |  coalesce(m.nd, 0) = 0 AS is_new
       |FROM isig i LEFT JOIN m
       |  ON m.doc_id = i.doc_id AND m.chunk_idx = i.chunk_idx""".stripMargin

  /** The retro-sweep replay: chunk+sign the three fixture splits (base
    * suite < 5, delta 5..9, corpus ≥ 10), reconstruct the curated
    * store under the BASE judge (banded Hamming gate, ≤ 0.5-fraction
    * doc keep, flagged-window excision — the decontam_lane_twin
    * machinery on the base split), then judge the store against the
    * DELTA's distinct banded signatures. The doc verdict uses the TRUE
    * ingest counts (n_chunks, f0) where the engine recovers them from
    * the persisted fraction — the row certifies the recovery exact. */
  private lazy val retroCtes: String = {
    def bands(src: String, sigAs: String, extra: String = "") =
      (0 until 4).map(i =>
        s"SELECT $extra$sigAs, $i AS band, ($sigAs >> ${16 * i}) & 65535 " +
          s"AS bval FROM $src").mkString("\n  UNION ALL\n  ")
    s"""rbsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
       |rdsrc AS (SELECT doc_id, text FROM documents
       |          WHERE doc_id >= 5 AND doc_id < 10),
       |rcsrc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
       |${Curation.chunkCtesSql(32, 24, "rbsrc", "rbch")},
       |${Curation.chunkCtesSql(32, 24, "rdsrc", "rdch")},
       |${Curation.chunkCtesSql(32, 24, "rcsrc", "rcch")},
       |rbsig AS (
       |  ${chunkSigCteSql("rbch")}),
       |rdsig AS (
       |  ${chunkSigCteSql("rdch")}),
       |rcsig AS MATERIALIZED (
       |  ${chunkSigCteSql("rcch")}),
       |rbs AS (SELECT DISTINCT sig AS bsig FROM rbsig),
       |rbb AS (
       |  ${bands("rbs", "bsig")}),
       |rcb AS MATERIALIZED (
       |  ${bands("rcsig", "sig", "doc_id, chunk_idx, ")}),
       |rbm AS MATERIALIZED (
       |  SELECT DISTINCT rcb.doc_id, rcb.chunk_idx
       |  FROM rcb JOIN rbb ON rcb.band = rbb.band AND rcb.bval = rbb.bval
       |  WHERE bit_count(xor(rcb.sig, rbb.bsig)) <= 3),
       |rfrac AS MATERIALIZED (
       |  SELECT c.doc_id, count(*) AS n_chunks,
       |    sum(CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END) AS f0
       |  FROM rcch c LEFT JOIN rbm m
       |    ON m.doc_id = c.doc_id AND m.chunk_idx = c.chunk_idx
       |  GROUP BY c.doc_id),
       |rkept AS MATERIALIZED (
       |  SELECT doc_id, n_chunks, f0 FROM rfrac
       |  WHERE CAST(f0 AS DOUBLE) / CAST(n_chunks AS DOUBLE) <= 0.5),
       |rstore AS MATERIALIZED (
       |  SELECT s.doc_id, s.chunk_idx, s.sig
       |  FROM rcsig s JOIN rkept k ON k.doc_id = s.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM rbm m
       |    WHERE m.doc_id = s.doc_id AND m.chunk_idx = s.chunk_idx)),
       |rds AS (SELECT DISTINCT sig AS dsig FROM rdsig),
       |rdb AS (
       |  ${bands("rds", "dsig")}),
       |rsb AS (
       |  ${bands("rstore", "sig", "doc_id, chunk_idx, ")}),
       |rnm AS MATERIALIZED (
       |  SELECT s.doc_id, s.chunk_idx, count(DISTINCT d.dsig) AS nb
       |  FROM rsb s JOIN rdb d ON s.band = d.band AND s.bval = d.bval
       |  WHERE bit_count(xor(s.sig, d.dsig)) <= 3
       |  GROUP BY s.doc_id, s.chunk_idx)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_near_lsh", (s, d) =>
      minhashLshFromSigs(docSigs(s, d), MaxBucket),
      lshOracle(MaxBucket)),

    // incremental ingestion dedup: the 80% of docs with doc_id%10 < 8 are
    // the accumulated corpus, the rest are the incoming batch
    QuerySpec("dedup_incremental", (s, d) => {
      val docs = Tables(s, d, "documents")
      incrementalDedup(docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // signatures are per-doc, so banding ALL docs once then splitting by
      // the id predicate is identical to banding each side separately
      incrementalOracle),
    // same semantics as dedup_incremental, but the corpus side reads the
    // PERSISTED signature store (a parquet scan of signed state — zero
    // re-shingling/re-hashing of the corpus; see SignatureStore). The
    // production ingestion shape: sign once, dedup every batch against
    // the store.
    QuerySpec("dedup_incremental_staged", (s, d) => {
      val docs = Tables(s, d, "documents")
      incrementalDedupFromSigs(
        SignatureStore.read(s, SignatureStore.fixtureCorpusStore(s, d)),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // byte-identical semantics: the staged variant only changes WHERE the
      // corpus signatures come from (parquet store vs in-session derivation)
      incrementalOracle),

    // cluster representative chosen by QUALITY (ties to the smaller
    // doc_id), not min id — what a curation stage actually keeps
    QuerySpec("dedup_keep_best", (s, d) => keepBestFrame(s, d),
      // the dedup_clusters fixpoint, re-ranked: the kept representative is
      // the highest-QUALITY member (ties to the smaller doc_id)
      s"""WITH RECURSIVE $clustersCtes,
         |$keepCtes
         |SELECT doc_id, cluster_id, keeper_id,
         |  keeper_id = doc_id AS is_keeper
         |FROM ranked ORDER BY doc_id""".stripMargin),

    // cluster-aware train/eval assignment: the split is a deterministic
    // hash of the CLUSTER, so no near-duplicate pair can straddle
    // train/eval — the leakage a per-doc split invites
    QuerySpec("split_leakage_free", (s, d) =>
      fixtureClusters(s, d).select(col("doc_id"), col("cluster_id"))
        .withColumn("split",
          when(pmod(saltHash(col("cluster_id")), lit(10L)) < 9, lit("train"))
            .otherwise(lit("eval"))),
      s"""WITH RECURSIVE $clustersCtes
         |SELECT doc_id, cluster_id,
         |  CASE WHEN (${saltHashSql("cluster_id")}) % 10 < 9
         |       THEN 'train' ELSE 'eval' END AS split
         |FROM clusters ORDER BY doc_id""".stripMargin),

    // quality-keeper docs round-tripped through the hash-sharded
    // partitioned export, rolled up per shard
    QuerySpec("curated_export", (s, d) => exportCurated(s, d),
      s"""WITH RECURSIVE $clustersCtes,
         |$keepCtes,
         |keep AS (SELECT doc_id FROM ranked WHERE doc_id = keeper_id)
         |SELECT CAST((${saltHashSql("d.doc_id")}) % 8 AS INTEGER) AS shard,
         |  CAST(count(*) AS INTEGER) AS n_docs,
         |  CAST(sum(len(string_split($N, ' '))) AS BIGINT) AS sum_tokens,
         |  min(d.doc_id) AS min_doc_id
         |FROM documents d JOIN keep ON keep.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY shard""".stripMargin),
    // cap low enough (2) that real fixture buckets (size-3 duplicate
    // clusters exist at sf0.01) split into sub-buckets — the capped
    // semantics and the oracle's mirrored salt are exercised on data,
    // not just by the unit test
    QuerySpec("dedup_near_lsh_capped", (s, d) =>
      minhashLshFromSigs(docSigs(s, d), maxBucket = 2),
      lshOracle(2)),

    // connected-components clustering over the (default-cap, unsorted)
    // pair graph; every doc appears, singletons are their own cluster.
    // NOTE: constructing this frame RUNS the propagation loop (see
    // dedupClusters — an iterative fixpoint cannot be one lazy plan).
    QuerySpec("dedup_clusters", (s, d) => fixtureClusters(s, d),
      // components via recursive reachability — see clustersCtes
      s"""WITH RECURSIVE $clustersCtes
         |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_keeper
         |FROM clusters ORDER BY doc_id""".stripMargin),

    // banding recall telemetry on the count-sized sample — see lshRecall
    QuerySpec("lsh_recall", (s, d) => lshRecall(docSigs(s, d)),
      // truth side is all-pairs over the small sample (oracle-side only;
      // the engine enumerates by shingle co-occurrence): a truth pair has
      // intersection > 0, so the two formulations see identical pairs.
      // The sample modulus mirrors lshRecall's count-derived sizing, and
      // counts sh (qualifying docs) exactly like sigs.count() does.
      s"""WITH $bandsCtes,
         |md AS (SELECT greatest(2, count(*) // 2500) AS m FROM sh),
         |sp AS (SELECT sh.* FROM sh, md WHERE doc_id % md.m = 0),
         |tr AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |      / len(list_distinct(list_concat(x.shingles, y.shingles)))
         |      AS j
         |  FROM sp x JOIN sp y ON x.doc_id < y.doc_id
         |  WHERE len(list_intersect(x.shingles, y.shingles)) > 0
         |    AND CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |      / len(list_distinct(list_concat(x.shingles, y.shingles)))
         |      >= 0.25),
         |cd AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.b = y.b AND x.bsig = y.bsig AND x.doc_id < y.doc_id,
         |    md
         |  WHERE x.doc_id % md.m = 0 AND y.doc_id % md.m = 0)
         |SELECT floor(tr.j * 10) / 10 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN cd.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  sum(CASE WHEN cd.doc_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS recall
         |FROM tr LEFT JOIN cd
         |  ON tr.doc_a = cd.doc_a AND tr.doc_b = cd.doc_b
         |GROUP BY 1 ORDER BY bucket""".stripMargin),

    QuerySpec("simhash", (s, d) => simhash(Tables(s, d, "documents")),
      s"""SELECT doc_id, CAST($simhashTerms AS BIGINT) AS simhash
         |FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
         |      FROM (SELECT doc_id,
         |              list_distinct(string_split($N, ' ')) AS l
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin),

    // both widths from one tokenize/md5/kernel pass (simhash16From64)
    QuerySpec("simhash_both", (s, d) => simhashBoth(Tables(s, d, "documents")),
      // both widths replayed independently over one token stream — the
      // engine derives 16 from 64 by bit compression; the oracle votes
      // each width from scratch, so a drift in the derivation would
      // hash-mismatch here
      s"""SELECT doc_id, CAST($simhash64Terms AS BIGINT) AS simhash64,
         |  CAST($simhashTerms AS BIGINT) AS simhash
         |FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
         |      FROM (SELECT doc_id,
         |              list_distinct(string_split($N, ' ')) AS l
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin),

    // 16-bit audit view derived from the PERSISTED 64-bit store — zero
    // text reads (the 8-byte signature already contains the audit bits)
    QuerySpec("simhash_audit_staged", (s, d) => simhashAuditFromSigs(
      SimHashStore.read(s, SimHashStore.fixtureCorpusStore(s, d))),
      // audit view over the persisted-store population (doc_id % 10 < 8)
      // — engine reads 8-byte signatures, oracle re-votes from text
      s"""SELECT doc_id, CAST($simhashTerms AS BIGINT) AS simhash
         |FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
         |      FROM (SELECT doc_id,
         |              list_distinct(string_split($N, ' ')) AS l
         |            FROM documents WHERE doc_id % 10 < 8))
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("dedup_simhash", (s, d) =>
      simhashNearDup(Tables(s, d, "documents")),
      // the banded candidate join replayed naively, width/cap/gate shared
      // with the engine registration via the parameterized builder
      simhashPairOracle(simhashTerms, nBands = 2, bandBits = 8,
        cap = MaxBucket, maxHamming = 2)),

    QuerySpec("dedup_simhash_keep", (s, d) =>
      simhashDedup(Tables(s, d, "documents")),
      // one group per signature, keeper = min doc_id — dedup_exact's
      // shape on the fingerprint key
      simhashKeepOracle(simhashTerms, "simhash")),

    QuerySpec("simhash64", (s, d) => simhash64(Tables(s, d, "documents")),
      s"""SELECT doc_id, CAST($simhash64Terms AS BIGINT) AS simhash64
         |FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
         |      FROM (SELECT doc_id,
         |              list_distinct(string_split($N, ' ')) AS l
         |            FROM documents))
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("dedup_simhash64", (s, d) =>
      simhashNearDup64(Tables(s, d, "documents")),
      // 4×16-bit bands of the 64-bit signature — exact recall at the
      // default Hamming<=3 radius by the pigeonhole (no straddle gap)
      simhashPairOracle(simhash64Terms, nBands = 4, bandBits = 16,
        cap = MaxBucket, maxHamming = 3)),

    // radius-derived banding: the deep-Hamming escalation path (8×8-bit
    // bands at radius 7) the fixed-band forms refuse
    QuerySpec("dedup_simhash64_h7", (s, d) =>
      simhashNearDup64Radius(Tables(s, d, "documents"), maxHamming = 7),
      // radius-derived 8×8-bit banding at Hamming<=7 — the oracle takes
      // the ENGINE's own bandLayout(7), so both sides band identically
      simhashPairOracleLayout(simhash64Terms, bandLayout(7),
        cap = MaxBucket, maxHamming = 7)),

    // the deep audit served FROM THE STORE: re-bands persisted 8-byte
    // signatures (doc_id % 10 < 8 population) — zero text reads
    QuerySpec("dedup_simhash64_h7_staged", (s, d) =>
      simhashNearDup64RadiusFromSigs(
        SimHashStore.read(s, SimHashStore.fixtureCorpusStore(s, d)),
        maxHamming = 7),
      // store-served twin: same radius-7 banding over the PERSISTED
      // population only (doc_id % 10 < 8) — the engine reads 8-byte
      // signatures, the oracle re-votes them from text
      simhashPairOracleLayout(simhash64Terms, bandLayout(7),
        cap = MaxBucket, maxHamming = 7, where = "doc_id % 10 < 8")),

    QuerySpec("dedup_simhash64_keep", (s, d) =>
      simhashDedup64(Tables(s, d, "documents")),
      simhashKeepOracle(simhash64Terms, "simhash64")),

    // chunk-granularity keeper dedup + cross-doc duplicate-window flag
    // (32-token windows at stride 24, the chunk_docs fixture convention)
    QuerySpec("chunk_dedup", (s, d) => chunkDedup64(Tables(s, d, "documents")),
      // chunk-granularity keeper: the shared chunk CTEs render the same
      // slice arithmetic as chunkDocs, each chunk re-votes the 64-bit
      // signature from its own token set, one group per signature. The
      // lexicographic (doc_id, chunk_idx) keeper is replayed two-step:
      // min doc_id per signature, then min chunk_idx within that doc.
      s"""WITH ${Curation.chunkCtesSql(32, 24)},
         |csig AS (
         |  ${chunkSigCteSql("chunks")}),
         |grp AS (
         |  SELECT sig, min(doc_id) AS keep_doc_id,
         |    count(*) AS dup_count, count(DISTINCT doc_id) AS n_docs
         |  FROM csig GROUP BY sig)
         |SELECT g.sig AS simhash64, g.keep_doc_id,
         |  CAST(min(c.chunk_idx) AS INTEGER) AS keep_chunk_idx,
         |  g.dup_count, g.n_docs, g.n_docs > 1 AS cross_doc
         |FROM grp g JOIN csig c
         |  ON c.sig = g.sig AND c.doc_id = g.keep_doc_id
         |GROUP BY g.sig, g.keep_doc_id, g.dup_count, g.n_docs
         |ORDER BY g.keep_doc_id, keep_chunk_idx""".stripMargin),

    // batch-vs-corpus chunk dedup on the % 10 convention, corpus
    // chunk-signed in-session
    QuerySpec("chunk_dedup_incremental", (s, d) => {
      val docs = Tables(s, d, "documents")
      chunkDedupIncremental(
        chunkSigs64(docs.filter(col("doc_id") % 10 < 8)),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // batch-vs-corpus chunk dedup: both splits chunked with the shared
      // CTEs, per-chunk signatures, exact-signature equality join, count
      // of distinct corpus docs per incoming chunk; shared verbatim by
      // the staged variant (the store only changes WHERE the corpus
      // signatures come from)
      chunkIncrementalOracle),
    // identical semantics from the PERSISTED chunk-signature store —
    // the corpus is never re-chunked or re-tokenized
    QuerySpec("chunk_dedup_staged", (s, d) => {
      val docs = Tables(s, d, "documents")
      chunkDedupIncremental(
        ChunkSigStore.read(s, ChunkSigStore.fixtureCorpusStore(s, d)),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      chunkIncrementalOracle),

    // NEAR-dup window matching (Hamming<=3 banded) + keeper election
    // per transitive family — catches lightly-EDITED duplicated
    // windows the exact chunk signature misses (memoized fixpoint)
    QuerySpec("chunk_dedup_near", (s, d) => fixtureChunkNearClusters(s, d),
      chunkNearClustersOracle),
    // the staged near judge: batch windows banded against the
    // PERSISTED chunk-signature store at Hamming<=3
    QuerySpec("chunk_dedup_near_staged", (s, d) => {
      val docs = Tables(s, d, "documents")
      chunkDedupNearFromSigs(
        ChunkSigStore.read(s, ChunkSigStore.fixtureCorpusStore(s, d)),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      chunkNearStagedOracle),

    // the family's batch-vs-corpus ingestion form, on the incremental
    // fixture convention (accumulated = doc_id % 10 < 8)
    QuerySpec("dedup_simhash64_incremental", (s, d) => {
      val docs = Tables(s, d, "documents")
      simhashIncremental64(docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // batch-vs-corpus: 4-band candidates between the splits, Hamming
      // gate, count of distinct existing near-docs per incoming doc
      simhash64IncrementalOracle),

    // transitive near-dup families over the Hamming<=3 pair graph —
    // the clustering view of the 64-bit family (memoized fixpoint)
    QuerySpec("dedup_simhash64_clusters", (s, d) =>
      fixtureSimhashClusters(s, d),
      // min-label components over the Hamming<=3 pair graph, replayed as
      // recursive reachability — same shape as the LSH clusters oracle
      s"""WITH RECURSIVE ${simhashPairCtes(simhash64Terms, 4, 16, MaxBucket)},
         |sp AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s_salted a JOIN s_salted b
         |    ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
         |    AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM sp
         |  UNION ALL
         |  SELECT id_b, id_a FROM sp),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |clusters AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_keeper
         |FROM clusters ORDER BY doc_id""".stripMargin),
    // identical semantics from the PERSISTED signature store — the
    // corpus side is a parquet scan of (doc_id, simhash64) longs
    QuerySpec("dedup_simhash64_staged", (s, d) => {
      val docs = Tables(s, d, "documents")
      simhashIncremental64FromSigs(
        SimHashStore.read(s, SimHashStore.fixtureCorpusStore(s, d)),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // byte-identical semantics: the staged variant only changes WHERE
      // the corpus signatures come from (parquet store vs in-session)
      simhash64IncrementalOracle),

    // fuzzy benchmark decontamination (Hamming<=3 vs the doc_id<10
    // benchmark split, the exact-decontaminate fixture convention)
    QuerySpec("decontaminate_fuzzy", (s, d) =>
      decontaminateFuzzy(Tables(s, d, "documents")),
      // fuzzy decontamination: same banded judge with the benchmark
      // split (doc_id < 10, the exact decontaminate's exclusive
      // convention) as the existing side, corpus unsorted
      simhash64SplitOracle("doc_id < 10", "doc_id >= 10",
        "n_benchmark_matches", "is_clean", sorted = false)),

    // chunk-granularity leakage: per-window verdicts + per-doc fraction
    QuerySpec("decontaminate_chunks", (s, d) =>
      decontaminateChunks(Tables(s, d, "documents")),
      // chunk-granularity leakage: both splits chunked with the shared
      // CTEs, per-chunk 64-bit signatures, 4-band candidate join against
      // the benchmark chunks, Hamming<=3 gate, then the per-chunk verdict
      // and per-doc contaminated fraction
      s"""WITH bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         |csrc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
         |${Curation.chunkCtesSql(32, 24, "bsrc", "bchunks")},
         |${Curation.chunkCtesSql(32, 24, "csrc", "cchunks")},
         |bsig AS (
         |  ${chunkSigCteSql("bchunks")}),
         |csig AS (
         |  ${chunkSigCteSql("cchunks")}),
         |bb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id AS b_id, sig AS bsig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM bsig")
        .mkString("\n  UNION ALL\n  ")}),
         |cb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, chunk_idx, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM csig")
        .mkString("\n  UNION ALL\n  ")}),
         |m AS (
         |  SELECT cb.doc_id, cb.chunk_idx, count(DISTINCT bb.b_id) AS nb
         |  FROM cb JOIN bb ON cb.band = bb.band AND cb.bval = bb.bval
         |  WHERE bit_count(xor(cb.sig, bb.bsig)) <= 3
         |  GROUP BY cb.doc_id, cb.chunk_idx),
         |pc AS (
         |  SELECT c.doc_id, c.chunk_idx,
         |    CAST(coalesce(m.nb, 0) AS INTEGER) AS n_benchmark_matches,
         |    coalesce(m.nb, 0) = 0 AS is_clean
         |  FROM cchunks c LEFT JOIN m
         |    ON m.doc_id = c.doc_id AND m.chunk_idx = c.chunk_idx),
         |pd AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN is_clean THEN 0 ELSE 1 END) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS doc_contaminated_frac
         |  FROM pc GROUP BY doc_id)
         |SELECT pc.doc_id, pc.chunk_idx, pc.n_benchmark_matches,
         |  pc.is_clean, pd.doc_contaminated_frac
         |FROM pc JOIN pd USING (doc_id)""".stripMargin),

    // the decontamination LANE's batch twin: the staged benchmark
    // chunk store (doc_id < 10, signed once) judges the incoming
    // split's windows; docs >50% contaminated drop whole, flagged
    // windows excise, clean chunks pass — the composed operational
    // form of the decontaminate_chunks report
    QuerySpec("decontam_lane_twin", (s, d) =>
      decontamBatch(
        ChunkSigStore.read(s, ChunkSigStore.fixtureBenchmarkStore(s, d)),
        Tables(s, d, "documents")
          .filter(col("doc_id") >= 10 && col("doc_id") % 10 >= 8),
        // the twin consumes ONE output in ONE action over read-only
        // fixture stores — no append can feed back, so the pins defer
        eager = false)._1,
      // the decontamination lane replayed end to end: benchmark chunks
      // signed and collapsed to DISTINCT signatures (the grouped-judge
      // unit), 4-band candidates against the incoming split's windows,
      // Hamming<=3 gate, per-doc contaminated fraction, the >maxFrac
      // whole-doc drop, flagged-window excision — output is exactly the
      // clean chunks the lane would append
      s"""WITH bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         |isrc AS (SELECT doc_id, text FROM documents
         |         WHERE doc_id >= 10 AND doc_id % 10 >= 8),
         |${Curation.chunkCtesSql(32, 24, "bsrc", "bchunks")},
         |${Curation.chunkCtesSql(32, 24, "isrc", "ichunks")},
         |bsig AS (
         |  ${chunkSigCteSql("bchunks")}),
         |isig AS (
         |  ${chunkSigCteSql("ichunks")}),
         |bs AS (SELECT DISTINCT sig AS bsig FROM bsig),
         |bb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT bsig, $i AS band, (bsig >> ${16 * i}) & 65535 AS bval FROM bs")
        .mkString("\n  UNION ALL\n  ")}),
         |ib AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, chunk_idx, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM isig")
        .mkString("\n  UNION ALL\n  ")}),
         |m AS (
         |  SELECT ib.doc_id, ib.chunk_idx, count(DISTINCT bb.bsig) AS nb
         |  FROM ib JOIN bb ON ib.band = bb.band AND ib.bval = bb.bval
         |  WHERE bit_count(xor(ib.sig, bb.bsig)) <= 3
         |  GROUP BY ib.doc_id, ib.chunk_idx),
         |pc AS (
         |  SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens,
         |    coalesce(m.nb, 0) AS nb
         |  FROM ichunks c LEFT JOIN m
         |    ON m.doc_id = c.doc_id AND m.chunk_idx = c.chunk_idx),
         |pd AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN nb = 0 THEN 0 ELSE 1 END) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS doc_contaminated_frac
         |  FROM pc GROUP BY doc_id)
         |SELECT pc.doc_id, pc.chunk_idx, pc.chunk_text,
         |  pc.n_chunk_tokens, pd.doc_contaminated_frac
         |FROM pc JOIN pd USING (doc_id)
         |WHERE pd.doc_contaminated_frac <= 0.5 AND pc.nb = 0""".stripMargin),
    // the benchmark-REFRESH lifecycle: the persisted curated store
    // (built under the BASE suite) re-judged against only the DELTA's
    // signatures — per-doc re-verdicts with the recovered ingest
    // ledger folded into the combined contaminated fraction
    QuerySpec("decontam_retro", (s, d) => retroSweep(
      ChunkSigStore.read(s, ChunkSigStore.fixtureBenchmarkDeltaStore(s, d)),
      s.read.parquet(fixtureRetroCleanStore(s, d)))._2.orderBy("doc_id"),
      s"""WITH $retroCtes,
         |rnn AS (SELECT doc_id, count(*) AS n_new FROM rnm GROUP BY doc_id)
         |SELECT k.doc_id, CAST(k.n_chunks AS INTEGER) AS n_chunks,
         |  CAST(k.f0 AS INTEGER) AS n_flagged_ingest,
         |  CAST(coalesce(n.n_new, 0) AS INTEGER) AS n_new_flags,
         |  CAST(k.f0 + coalesce(n.n_new, 0) AS DOUBLE)
         |    / CAST(k.n_chunks AS DOUBLE) AS doc_contaminated_frac,
         |  (CAST(k.f0 + coalesce(n.n_new, 0) AS DOUBLE)
         |    / CAST(k.n_chunks AS DOUBLE)) <= 0.5 AS is_new
         |FROM rkept k LEFT JOIN rnn n ON n.doc_id = k.doc_id
         |ORDER BY k.doc_id""".stripMargin),

    // the delete-set a store compaction applies: store windows within
    // Hamming range of a delta signature
    QuerySpec("decontam_retro_excisions", (s, d) => retroSweep(
      ChunkSigStore.read(s, ChunkSigStore.fixtureBenchmarkDeltaStore(s, d)),
      s.read.parquet(fixtureRetroCleanStore(s, d)))._1
      .orderBy("doc_id", "chunk_idx"),
      s"""WITH $retroCtes
         |SELECT doc_id, chunk_idx, CAST(nb AS INTEGER) AS n_delta_matches
         |FROM rnm ORDER BY doc_id, chunk_idx""".stripMargin),

    // the refresh APPLIED (pure frame form of refreshStore — the query
    // surface must not mutate the staged fixture): the store content a
    // rebuild under base UNION delta would have produced, certified
    // window-for-window including the advanced per-doc fraction
    QuerySpec("decontam_retro_refresh", (s, d) => {
      val (exc, docV) = retroSweep(
        ChunkSigStore.read(s, ChunkSigStore.fixtureBenchmarkDeltaStore(s, d)),
        s.read.parquet(fixtureRetroCleanStore(s, d)))
      refreshApply(s.read.parquet(fixtureRetroCleanStore(s, d)), exc, docV)
        .orderBy("doc_id", "chunk_idx")
    },
      // the refreshed store = rebuild(base UNION delta): kept docs'
      // surviving windows with the COMBINED fraction, delta-flagged
      // windows excised (base-flagged ones never reached the store)
      s"""WITH $retroCtes,
         |rnn AS (SELECT doc_id, count(*) AS n_new FROM rnm GROUP BY doc_id),
         |rk2 AS (
         |  SELECT k.doc_id,
         |    CAST(k.f0 + coalesce(n.n_new, 0) AS DOUBLE)
         |      / CAST(k.n_chunks AS DOUBLE) AS cfrac
         |  FROM rkept k LEFT JOIN rnn n ON n.doc_id = k.doc_id
         |  WHERE CAST(k.f0 + coalesce(n.n_new, 0) AS DOUBLE)
         |      / CAST(k.n_chunks AS DOUBLE) <= 0.5)
         |SELECT s.doc_id, s.chunk_idx, c.chunk_text, c.n_chunk_tokens,
         |  k.cfrac AS doc_contaminated_frac
         |FROM rstore s
         |JOIN rk2 k ON k.doc_id = s.doc_id
         |JOIN rcch c ON c.doc_id = s.doc_id AND c.chunk_idx = s.chunk_idx
         |WHERE NOT EXISTS (SELECT 1 FROM rnm m
         |  WHERE m.doc_id = s.doc_id AND m.chunk_idx = s.chunk_idx)
         |ORDER BY s.doc_id, s.chunk_idx""".stripMargin),

    QuerySpec("ngram_jaccard", (s, d) =>
      bigramJaccard(Tables(s, d, "documents")),
      s"""WITH bg AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(l) - 1),
         |    i -> array_to_string(l[i:i+1], ' '))) AS bigrams
         |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
         |  WHERE len(l) >= 2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.bigrams, b.bigrams)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.bigrams, b.bigrams))) AS jaccard
         |FROM bg a JOIN bg b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin))
}
