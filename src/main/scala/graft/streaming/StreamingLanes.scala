package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.functions.BatchConstant

/** Structured-Streaming restatement of the reference's live pipeline
  * (§3.1/§3.2 of SURVEY): ingest enrichment → dual-lane bifurcation →
  * watermarked stateful views.
  *
  * The reference's ZeroMQ topology collapses into Spark's micro-batch
  * model: the trading lane and storage lane are the two writes of one
  * `foreachBatch` (same data, no broker; checkpointed offsets give
  * no-loss at-least-once delivery with batch_id-tagged output for exact
  * dedup on read — a strict upgrade over the reference's HWM-drop +
  * retry-queue delivery, ref `virginia/coordinator.py:539-576`,
  * `database/influx/writer.py`).
  *
  * Every transform here takes and returns DataFrames so the identical
  * plan fragments run in batch mode — the streaming specs assert
  * batch-equivalence directly.
  */
object StreamingLanes {

  /** F18: stage-boundary timing enrichment (ns stamps at each hop, ref
    * `virginia/coordinator.py:271,311-315`). The stamp is the batch
    * boundary's clock, injected so tests stay deterministic. */
  def withIngestStamps(df: DataFrame, receivedNs: Long): DataFrame =
    df.withColumn("virginia_received_ns", BatchConstant.column(receivedNs))
      .withColumn("virginia_enriched_ns", BatchConstant.column(receivedNs))

  /** ST2+ST5: watermarked latest-value state per series key. Late rows
    * (older than `lateness` behind the max event time) are dropped, the
    * streaming analog of the scanner's 60 s freshness cutoff. Works on
    * batch frames too (watermark is a no-op there). */
  def latestPerKey(df: DataFrame, lateness: String = "60 seconds"): DataFrame =
    df.withWatermark("ts", lateness)
      .groupBy(col("ticker"), col("source"))
      .agg(max_by(struct(col("ts"), col("snapshot_id"), col("full_orderbook")),
        struct(col("ts"), col("snapshot_id"))).as("s"))
      .select(col("ticker"), col("source"), col("s.ts").as("ts"),
        col("s.snapshot_id").as("snapshot_id"),
        col("s.full_orderbook").as("full_orderbook"))

  /** ST3/ST4: windowed counts per source with watermark — tumbling by
    * default, sliding when `slide` < `every` (the rolling-rate shape of
    * the reference's stats reports, `virginia/broker/receiver.py:499-504`). */
  def windowedCounts(df: DataFrame, every: String = "1 minute",
                     lateness: String = "60 seconds",
                     slide: Option[String] = None): DataFrame =
    df.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), every, slide.getOrElse(every)).as("w"),
        col("source"))
      .agg(count(lit(1)).as("n"),
        max_by(col("snapshot_id"), struct(col("ts"), col("snapshot_id")))
          .as("last_snapshot_id"))
      .select(col("w.start").as("bucket"), col("source"), col("n"),
        col("last_snapshot_id"))

  /** Session windows per user key — gap-based activity grouping as a
    * native streaming aggregate (`session_window`: windows merge while
    * successive events arrive within `gap`, INCLUSIVE of the exact
    * boundary — touching windows coalesce; a session closes, and in
    * append mode emits, once the watermark passes its end). The same
    * plan fragment runs in batch — `session_windows` in
    * `EventAnalytics` oracles it against DuckDB's lag/gap-sum
    * formulation. State per key is one open session, bounded by key
    * cardinality, not history. */
  def sessionWindows(df: DataFrame, gap: String = "30 minutes",
                     lateness: String = "60 seconds"): DataFrame =
    df.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      // exact DECIMAL sum, one final double cast: a raw double sum is
      // accumulation-order-dependent and cannot hash-match an
      // independent engine (the repo-wide determinism discipline)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup — the ingestion-lane half of the dedup
    * family: drop any document whose normalized content hash was already
    * emitted within the watermark horizon. The key derivation is
    * IDENTICAL to the batch operator's (`TextOps.normalized`:
    * md5 of `norm_text`), so a doc passed by this lane and later caught
    * by the batch dedup sweep agrees on its hash.
    * `dropDuplicatesWithinWatermark` keys state by content hash and
    * evicts entries once the watermark passes — state is bounded by the
    * dedup horizon × ingest rate, not by history; full-retention exact
    * dedup stays a batch job (`dedup_exact`) by design. */
  def dedupDocStream(docs: DataFrame,
                     lateness: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash",
        md5(call_function("norm_text", col("text")).cast("binary")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming near-duplicate gate: each micro-batch of documents is
    * checked against the accumulated corpus with
    * `NearDup.incrementalDedup` — the corpus side is re-read per batch
    * (the `corpus` thunk, same posture as `Replay.routedStream`'s
    * dimension refresh) and never shuffled; only the small batch
    * broadcasts. `process` receives each batch's per-doc verdict frame
    * (`doc_id`, `n_dups`, `is_new`) — in production it routes
    * `is_new` docs to the store the thunk reads, closing the loop. */
  def nearDupLane(docs: DataFrame, corpus: () => DataFrame,
                  threshold: Double = 0.8)
                 (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      process(
        graft.text.NearDup.incrementalDedup(corpus(), batch, threshold),
        batchId)
    }

  /** Store-backed near-duplicate ingestion lane — the full production
    * loop over PERSISTED state: each micro-batch is checked against the
    * parquet [[graft.text.SignatureStore]] (a scan of signed state —
    * the corpus is never re-shingled, never shuffled; only the small
    * batch broadcasts), then the batch's surviving (`is_new`)
    * signatures are APPENDED to the store before the verdict is handed
    * to `process`. Cross-batch dedup state therefore lives in the
    * store, not in memory: a restart resumes against everything every
    * earlier batch admitted — the reference's own "persist derived
    * state, re-read per refresh" posture
    * (`virginia/database/read_from.py:129-167`) with the signing cost
    * paid exactly once per document ever admitted.
    *
    * At-least-once caveat (same contract as [[bifurcated]]'s storage
    * lane): a batch replayed after a failure between append and
    * checkpoint commit re-appends its survivors. Duplicate signature
    * rows are semantically harmless — they can only re-flag what they
    * already flag — and `count_distinct(ex_id)` keeps the dup counts
    * exact. */
  def nearDupStoreLane(docs: DataFrame, storePath: String,
                       threshold: Double = 0.8,
                       maxStoreFiles: Option[Int] = None,
                       onStats: (DataFrame, Long) => Unit = null)
                      (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{NearDup, SignatureStore}
      // EAGER localCheckpoint: the verdict is materialized and its
      // lineage truncated BEFORE the survivor append mutates the store.
      // A lazily-shared plan would re-list the store on its second
      // consumer and see the batch's own just-appended signatures —
      // every survivor would then re-judge itself a duplicate (observed:
      // persist() alone does not pin the scan's file listing across the
      // append). The verdict is two longs + a bool per batch doc — tiny.
      val verdict = NearDup.incrementalDedupFromSigs(
        SignatureStore.read(batch.sparkSession, storePath),
        batch, threshold).localCheckpoint(true)
      SignatureStore.appendSurvivors(storePath, batch, verdict)
      // post-append is the lane's own maintenance window (no reader
      // holds a listing between micro-batches): compact only when the
      // appends have crossed the file-count threshold
      val compacted = maxStoreFiles.exists(m =>
        SignatureStore.compactIfNeeded(batch.sparkSession, storePath, m))
      if (onStats != null)
        onStats(laneStats("neardup_store", batchId, verdict, compacted),
          batchId)
      process(verdict, batchId)
      ()
    }

  /** The opt-in intra-batch exactness gate shared by the SimHash store
    * lanes: the maintenance-time backstop (transitive clusters + keeper
    * election over the banded Hamming≤`maxHamming` pair graph) applied
    * INLINE to the store-clean docs of one micro-batch. Among batch
    * docs that passed the store judge, each near-dup family keeps only
    * its min-doc_id keeper; the rest demote to `is_new = false`. The
    * verdict gains an `n_batch_dups` column — the doc's intra-batch
    * near-dup partner count — so a demotion's reason is recoverable
    * downstream: a store dup has `n_dups > 0`, an intra-batch demotion
    * has `n_dups = 0` with `n_batch_dups > 0` (the keeper itself also
    * carries its partner count, with `is_new = true`). The result is the
    * same admitted set the batch form would choose over store ∪ batch
    * at maintenance time, at the price of a banded self-join + a
    * min-label fixpoint per micro-batch — which is why it is opt-in:
    * at production trigger rates a batch holds milliseconds of
    * arrivals and the window the gate closes is tiny. */
  private def gateIntraBatch(isigs: DataFrame, storeVerdict: DataFrame,
                             maxHamming: Int): DataFrame =
    graft.text.NearDup.intraBatchKeeperGate(isigs, storeVerdict, maxHamming)

  /** The ONE per-batch stats frame every store-backed lane emits —
    * operating six lanes at scale needs one dashboard row per batch,
    * not six ad-hoc counting conventions:
    * `(lane, batch_id, n_in, n_admitted, n_rejected, compacted,
    * n_intra_batch)`. Derived from the lane's (already-checkpointed)
    * verdict with one tiny aggregate; an empty batch reports zeros.
    * Lanes take an optional `onStats` callback and hand it this frame
    * after their appends and gated compaction, so the row states what
    * the batch actually did (including whether it triggered a
    * compaction).
    *
    * `n_intra_batch` splits the rejections by REASON: a store reject
    * carries `n_dups > 0`, while a demotion by an intra-batch gate
    * (the SimHash lanes' opt-in keeper gate, the chunk lane's
    * always-on exact-identity gate) is `is_new = false` with
    * `n_dups = 0` — so the column is 0 for lanes without a gate and an
    * operator reading only the stats stream can tell the two apart.
    *
    * ROW GRANULARITY is per-lane and follows the verdict the lane
    * judges: the doc lanes (neardup/simhash/media sig stores, the
    * composed curation lane) count DOCUMENTS; [[chunkStoreLane]]
    * counts context WINDOWS (its verdict is one row per
    * (doc_id, chunk_idx)). The `lane` tag names which convention a
    * row uses. */
  def laneStats(lane: String, batchId: Long, verdict: DataFrame,
                compacted: Boolean): DataFrame =
    verdict.agg(
      count(lit(1)).as("n_in"),
      coalesce(sum(when(col("is_new"), lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("n_admitted"),
      coalesce(sum(when(!col("is_new") && col("n_dups") === 0, lit(1L))
        .otherwise(lit(0L))), lit(0L)).as("n_intra_batch"))
      .select(lit(lane).as("lane"),
        BatchConstant.column(batchId).as("batch_id"),
        col("n_in"), col("n_admitted"),
        (col("n_in") - col("n_admitted")).as("n_rejected"),
        lit(compacted).as("compacted"), col("n_intra_batch"))

  /** Store-backed streaming SimHash dedup lane — [[nearDupStoreLane]]'s
    * sibling on the 64-bit SimHash signature store
    * ([[graft.text.SimHashStore]], 8 bytes of state per admitted doc):
    * per micro-batch, judge the batch against a SCAN of signed state
    * (Hamming-banded candidates, never all-pairs), append the
    * survivors' signatures, hand the verdict on. Same eager
    * localCheckpoint ordering — the verdict materializes BEFORE the
    * append mutates the store's file listing — and the same
    * at-least-once caveat (replayed appends are harmless duplicates the
    * gated compaction sheds).
    *
    * Intra-batch blind spot (shared lane posture, stated explicitly for
    * this lane): a batch is judged only against the PERSISTED store, so
    * two near-duplicate docs arriving in the same micro-batch are both
    * flagged `is_new` and both appended — and since keyed compaction
    * dedups on doc_id only, a distinct-id near-dup pair admitted this
    * way persists in the store. That is the deliberate trade: an
    * intra-batch self-join gate would put the banded pair plan on every
    * micro-batch's hot path to catch a window that shrinks as batches
    * shrink (at production trigger rates a batch holds milliseconds of
    * arrivals). Callers wanting exactness either run the batch form
    * ([[graft.text.NearDup.simhashDedup64]]) over the store at
    * maintenance time, which sees all admitted docs at once, or pass
    * `intraBatchExact = true` to apply that backstop inline per batch
    * ([[gateIntraBatch]] — keeper election over the intra-batch
    * near-dup clusters, at the cost of a banded self-join + min-label
    * fixpoint every micro-batch). */
  def simhashStoreLane(docs: DataFrame, storePath: String,
                       maxHamming: Int = 3,
                       maxStoreFiles: Option[Int] = None,
                       intraBatchExact: Boolean = false,
                       onStats: (DataFrame, Long) => Unit = null)
                      (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{NearDup, SimHashStore}
      // sign the batch ONCE (eager — tiny: one long per doc) and feed
      // both the verdict and the survivor append from the same frame;
      // signing twice would double the md5-per-token work that
      // dominates the lane's per-row cost
      val isigs = NearDup.simhash64(batch).localCheckpoint(true)
      // checkpoint the store judge BEFORE any gating: the gate's edge
      // derivation and final join both re-read it, and each lazy
      // evaluation would re-scan the store
      val storeVerdict = NearDup.simhashIncremental64BothSigs(
        SimHashStore.read(batch.sparkSession, storePath),
        isigs, maxHamming).localCheckpoint(true)
      val verdict = if (intraBatchExact)
        gateIntraBatch(isigs, storeVerdict, maxHamming)
          .localCheckpoint(true)
      else storeVerdict
      SimHashStore.appendSigs(storePath, isigs.join(
        verdict.filter(col("is_new")).select(col("doc_id")), "doc_id"))
      val compacted = maxStoreFiles.exists(m =>
        SimHashStore.compactIfNeeded(batch.sparkSession, storePath, m))
      if (onStats != null)
        onStats(laneStats("simhash_store", batchId, verdict, compacted),
          batchId)
      process(verdict, batchId)
      ()
    }

  /** Store-backed streaming MEDIA dedup lane — [[simhashStoreLane]]'s
    * modality sibling on the persisted byte-SimHash store
    * ([[graft.multimodal.MediaSigStore]], 8 bytes of state per admitted
    * asset): per micro-batch of (doc_id, payload) rows, sign the batch
    * ONCE (the one pass that reads payload bytes — eager, tiny result:
    * one long per asset), judge it against a SCAN of signed state via
    * the shared banded core, append the survivors' signatures, hand the
    * verdict on. Corpus payloads are NEVER re-read — the store is the
    * whole point: without it each judge pass re-derives
    * `byte_simhash64` over every admitted asset's bytes. Same eager
    * localCheckpoint ordering, same at-least-once caveat, and the same
    * intra-batch blind spot as [[simhashStoreLane]] (two near-dup
    * assets in one batch both admit; the batch form
    * [[graft.multimodal.Multimodal.mediaDedupNear64]] over the store's
    * ids at maintenance time is the exactness backstop, and
    * `intraBatchExact = true` applies that backstop inline per batch —
    * see [[gateIntraBatch]]). */
  def mediaSigStoreLane(assets: DataFrame, storePath: String,
                        maxHamming: Int = 3,
                        maxStoreFiles: Option[Int] = None,
                        intraBatchExact: Boolean = false,
                        onStats: (DataFrame, Long) => Unit = null)
                       (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    assets.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.multimodal.{MediaSigStore, Multimodal}
      import graft.text.NearDup
      val isigs = Multimodal.mediaSigs64(batch).localCheckpoint(true)
      val storeVerdict = NearDup.simhashIncremental64BothSigs(
        MediaSigStore.read(batch.sparkSession, storePath),
        isigs, maxHamming).localCheckpoint(true)
      val judged = if (intraBatchExact)
        gateIntraBatch(isigs, storeVerdict, maxHamming)
          .localCheckpoint(true)
      else storeVerdict
      // every batch row gets a verdict row: sub-window assets (< 4
      // payload bytes) carry no dense signature, so the judge never
      // sees them — they pass through is_new = true / n_dups = 0
      // (admitted unjudged, never signed into the store) instead of
      // silently vanishing from the frame handed to `process`, which
      // would make arrivals and verdicts unreconcilable downstream
      val verdict = batch.select(col("doc_id"))
        .join(judged, Seq("doc_id"), "left")
        .select(Seq(col("doc_id"),
          coalesce(col("n_dups"), lit(0)).as("n_dups"),
          coalesce(col("is_new"), lit(true)).as("is_new")) ++
          // the gate's demotion-reason column (see gateIntraBatch);
          // unsignable pass-through assets count 0 partners
          (if (intraBatchExact)
            Seq(coalesce(col("n_batch_dups"), lit(0)).as("n_batch_dups"))
          else Nil): _*)
      MediaSigStore.appendSigs(storePath, isigs.join(
        verdict.filter(col("is_new")).select(col("doc_id")), "doc_id"))
      val compacted = maxStoreFiles.exists(m =>
        MediaSigStore.compactIfNeeded(batch.sparkSession, storePath, m))
      if (onStats != null)
        onStats(laneStats("media_sig_store", batchId, verdict, compacted),
          batchId)
      process(verdict, batchId)
      ()
    }

  /** The MEDIA PRODUCTION lane (r17 — the text family's grid-gated
    * `curationStoreLane` posture for assets; until now byte near-dup,
    * semantic near-dup, byte decontam, and semantic decontam were
    * separate lanes an operator sequenced by convention): per
    * micro-batch of (doc_id, payload) rows, run
    * [[graft.multimodal.Multimodal.mediaCurateBatch]] — one signing
    * pass + one featurize pass (the only payload reads), four judges
    * as a conjunction (byte + semantic benchmark decontam against
    * static judge state; byte + semantic near-dup against the corpus
    * stores) — then append the ADMITTED assets' signatures to the
    * [[graft.multimodal.MediaSigStore]] and their assignments to the
    * assignment store, so later batches judge against everything this
    * one admitted in BOTH spaces. The centroids re-read per batch
    * (tiny) from `centsPath`, so a maintenance retrain is visible to
    * the very next batch.
    *
    * Same eager-checkpoint ordering as every store lane (batch
    * signatures, batch assignments, and the verdict pin before any
    * append mutates a listing) and the same at-least-once caveat
    * (replayed appends are key-identical rows the gated compaction
    * sheds). Stats granularity: ASSETS; for this lane
    * `n_intra_batch` counts rejections whose BYTE near-dup count is
    * zero — i.e. drops by the semantic or decontam arms (there is no
    * intra-batch gate; the column reuses the shared stats layout's
    * "rejected for a reason other than a store byte-dup" slot). */
  def mediaProductionLane(assets: DataFrame, sigStorePath: String,
                          asgStorePath: String, centsPath: String,
                          benchSigStorePath: String,
                          benchVecs: DataFrame,
                          maxHamming: Int = 3,
                          threshold: Double = 0.995,
                          maxStoreFiles: Option[Int] = None,
                          onStats: (DataFrame, Long) => Unit = null)
                         (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    assets.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ann.IvfStore
      import graft.multimodal.{MediaSigStore, Multimodal}
      val spark = batch.sparkSession
      val centsRow = IvfStore.packedRow(IvfStore.read(spark, centsPath))
      val (verdict, admittedSigs, admittedAsg) =
        Multimodal.mediaCurateBatch(
          MediaSigStore.read(spark, benchSigStorePath), benchVecs,
          MediaSigStore.read(spark, sigStorePath),
          IvfStore.read(spark, asgStorePath), centsRow,
          batch, maxHamming, threshold)
      MediaSigStore.appendSigs(sigStorePath, admittedSigs)
      IvfStore.append(asgStorePath, admittedAsg)
      val compacted = maxStoreFiles.exists { m =>
        val sigC = MediaSigStore.compactIfNeeded(spark, sigStorePath, m)
        val asgC = IvfStore.compactIfNeeded(spark, asgStorePath, m)
        sigC || asgC
      }
      if (onStats != null)
        onStats(laneStats("media_prod", batchId, verdict, compacted),
          batchId)
      process(verdict, batchId)
      ()
    }

  /** [[mediaProductionLane]] with the MAINTENANCE loop closed (r17 —
    * the `ivfIngestLaneManaged` posture for the four-judge lane):
    * every `checkEvery` batches, gauge the assignment store's serving
    * recall and — past `recallFloor` — retrain + atomically swap both
    * IVF artifacts ([[graft.ann.IvfMaintenance.retrainIfStale]], now
    * dimension-agnostic so the 16-dim media feature space trains
    * correctly), then immediately RE-AUDIT the store under the new
    * centroids ([[graft.multimodal.Multimodal.mediaSemanticReaudit]])
    * and hand the surfaced within-new-cell pairs to `onReaudit` — the
    * pairs admission-time judging could not see while a boundary sat
    * between them (the admit-under-stale-index seam, closed at the
    * moment it opens instead of left to an operator's convention).
    * The re-audit is a full-store re-judge and runs ONLY when a
    * retrain actually fired — the priced retrain-cadence cost, never
    * per batch. */
  def mediaProductionLaneManaged(assets: DataFrame, sigStorePath: String,
                                 asgStorePath: String, centsPath: String,
                                 benchSigStorePath: String,
                                 benchVecs: DataFrame,
                                 maxHamming: Int = 3,
                                 threshold: Double = 0.995,
                                 recallFloor: Double = 0.9,
                                 checkEvery: Int = 8,
                                 maxStoreFiles: Option[Int] = None,
                                 onStats: (DataFrame, Long) => Unit = null,
                                 onReaudit: (DataFrame, Long) => Unit =
                                   null)
                                (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
    assets.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ann.{IvfMaintenance, IvfStore}
      import graft.multimodal.{MediaSigStore, Multimodal}
      val spark = batch.sparkSession
      val centsRow = IvfStore.packedRow(IvfStore.read(spark, centsPath))
      val (verdict, admittedSigs, admittedAsg) =
        Multimodal.mediaCurateBatch(
          MediaSigStore.read(spark, benchSigStorePath), benchVecs,
          MediaSigStore.read(spark, sigStorePath),
          IvfStore.read(spark, asgStorePath), centsRow,
          batch, maxHamming, threshold)
      MediaSigStore.appendSigs(sigStorePath, admittedSigs)
      IvfStore.append(asgStorePath, admittedAsg)
      val compacted = maxStoreFiles.exists { m =>
        val sigC = MediaSigStore.compactIfNeeded(spark, sigStorePath, m)
        val asgC = IvfStore.compactIfNeeded(spark, asgStorePath, m)
        sigC || asgC
      }
      if ((batchId + 1) % checkEvery == 0 &&
        IvfMaintenance.retrainIfStale(spark, asgStorePath, centsPath,
          recallFloor)) {
        if (onReaudit != null)
          // pinned: the caller will act on this frame after the batch
          // callback returns, and the swap already moved the files the
          // unpinned plan would re-list
          onReaudit(Multimodal.mediaSemanticReaudit(
            IvfStore.read(spark, asgStorePath),
            IvfStore.packedRow(IvfStore.read(spark, centsPath)),
            threshold).localCheckpoint(true), batchId)
      }
      if (onStats != null)
        onStats(laneStats("media_prod_managed", batchId, verdict,
          compacted), batchId)
      process(verdict, batchId)
      ()
    }
  }

  /** Store-backed streaming CHUNK dedup lane — [[simhashStoreLane]]'s
    * sibling at chunk granularity over the persisted
    * [[graft.text.ChunkSigStore]]: per micro-batch, chunk + sign the
    * arriving docs ONCE (the pass that tokenizes batch text — eager,
    * one long per window), judge every window by exact-signature
    * equality against a SCAN of signed chunk state, append the
    * NOVEL windows' signatures, hand the per-window verdict on. The
    * corpus is chunked exactly once, ever; a restart resumes against
    * everything earlier batches admitted. Same eager-checkpoint
    * ordering and at-least-once caveat as every store lane (replayed
    * appends are key-identical rows the gated compaction sheds).
    * Unlike the banded lanes, the intra-batch gate here is ALWAYS on:
    * exact-identity keeper election is one groupBy over the batch's
    * own signatures (no banded self-join to price), so identical
    * same-batch windows admit exactly one keeper. */
  def chunkStoreLane(docs: DataFrame, storePath: String,
                     window: Int = 32, stride: Int = 24,
                     maxStoreFiles: Option[Int] = None,
                     onStats: (DataFrame, Long) => Unit = null)
                    (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{ChunkSigStore, NearDup}
      val isigs = NearDup.chunkSigs64(batch, window, stride)
        .localCheckpoint(true)
      val storeVerdict = NearDup.chunkDedupIncrementalBothSigs(
        ChunkSigStore.read(batch.sparkSession, storePath), isigs)
        .localCheckpoint(true)
      // intra-batch exact-identity gate, ALWAYS on (unlike the banded
      // lanes' opt-in gate, chunk identity needs no self-join — one
      // groupBy over the batch's own store-clean signatures): identical
      // windows arriving in ONE batch elect their lexicographic keeper,
      // the rest demote, so duplicates never co-admit into the store
      val clean = isigs.join(
        storeVerdict.filter(col("is_new"))
          .select(col("doc_id"), col("chunk_idx")),
        Seq("doc_id", "chunk_idx"))
      val keepers = clean.groupBy(col("simhash64"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
        .select(col("k.doc_id").as("doc_id"),
          col("k.chunk_idx").as("chunk_idx"), lit(true).as("is_keeper"))
      val verdict = storeVerdict
        .join(keepers, Seq("doc_id", "chunk_idx"), "left")
        .select(col("doc_id"), col("chunk_idx"), col("n_dups"),
          (col("is_new") && coalesce(col("is_keeper"), lit(false)))
            .as("is_new"))
        .localCheckpoint(true)
      ChunkSigStore.appendSigs(storePath, isigs.join(
        verdict.filter(col("is_new"))
          .select(col("doc_id"), col("chunk_idx")),
        Seq("doc_id", "chunk_idx")))
      val compacted = maxStoreFiles.exists(m =>
        ChunkSigStore.compactIfNeeded(batch.sparkSession, storePath, m))
      if (onStats != null)
        onStats(laneStats("chunk_sig_store", batchId, verdict, compacted),
          batchId)
      process(verdict, batchId)
      ()
    }

  /** Streaming benchmark DECONTAMINATION lane — the ingestion-side
    * complement of the dedup lanes: instead of judging arrivals
    * against what the pipeline already ADMITTED, judge them against
    * what it must never train on. Per micro-batch
    * ([[graft.text.NearDup.decontamBatch]], shared VERBATIM with the
    * batch twin `decontam_lane_twin` the DuckDB oracle certifies):
    * chunk + sign the arriving docs once, judge every context window
    * against a SCAN of the STATIC benchmark chunk store (banded
    * Hamming ≤ `maxHamming` — lightly-edited benchmark passages still
    * flag), drop docs more than `maxFrac` contaminated, EXCISE the
    * flagged windows from the rest, append the clean chunks to the
    * curated output store.
    *
    * State posture differs from every dedup lane and is the point:
    * the benchmark store is READ-ONLY judge state — no per-batch
    * append can feed back into the judge plan, so the verdict needs
    * no eager-checkpoint-before-append ordering (decontamBatch pins
    * its frames for multi-consumer reuse, not feedback safety), and a
    * restart needs no judge-state reconciliation at all. The OUTPUT
    * store keeps the usual at-least-once caveat: a replayed batch
    * re-appends (doc_id, chunk_idx)-key-identical rows the gated
    * compaction sheds. Stats granularity: DOCS (`n_in` arrivals,
    * `n_admitted` docs at or below `maxFrac`; `n_dups` in the verdict
    * is the doc's flagged-window count, so `n_intra_batch` is
    * structurally 0 — this lane has no intra-batch gate). */
  def decontamStoreLane(docs: DataFrame, benchStorePath: String,
                        cleanStorePath: String, maxHamming: Int = 3,
                        window: Int = 32, stride: Int = 24,
                        maxFrac: Double = 0.5,
                        maxStoreFiles: Option[Int] = None,
                        onStats: (DataFrame, Long) => Unit = null)
                       (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{ChunkSigStore, NearDup}
      val spark = batch.sparkSession
      val (clean, docVerdict) = NearDup.decontamBatch(
        ChunkSigStore.read(spark, benchStorePath), batch,
        maxHamming, window, stride, maxFrac)
      clean.write.mode("append").parquet(cleanStorePath)
      val compacted = maxStoreFiles.exists(m =>
        graft.sinks.StoreMaintenance.compactIfNeeded(
          spark, cleanStorePath, m, Seq("doc_id", "chunk_idx")))
      if (onStats != null)
        onStats(laneStats("decontam_store", batchId, docVerdict, compacted),
          batchId)
      process(clean, batchId)
      ()
    }

  /** The END-TO-END streaming CURATION lane — the certified operators
    * composed into the one store-backed ingestion pipeline a
    * training-data team actually runs. Per micro-batch
    * ([[graft.text.Curation.curateBatch]], shared VERBATIM with the
    * batch twin `curation_lane_twin` that the DuckDB oracle certifies):
    *
    *   normalize+sign once → SimHash-store judge (corpus = a scan of
    *   8-byte signed state) → intra-batch keeper gate (same-batch
    *   near-dup families collapse to their keeper) → per-source quality
    *   floor over the admissions (batch-relative worst-`p` drop) →
    *   context-window chunking of the survivors
    *
    * then TWO appends: curated chunks to `chunkStorePath` (the training
    * corpus being assembled) and the survivors' signatures to
    * `sigStorePath` (so later batches dedup against everything this one
    * admitted — only QUALITY survivors sign, a rejected doc never
    * blocks a better near-duplicate). Both stores get the gated
    * compaction; `process` receives the batch's curated chunks.
    *
    * `qualityStorePath` (optional) upgrades the floor to
    * CORPUS-relative: per-source thresholds derive from a scan of the
    * persisted [[graft.text.QualityStore]] instead of the batch's own
    * admissions (the batch-relative percentile is noisy at production
    * trigger rates — a 1-doc source always survives its own floor),
    * and each batch's survivors append their qualities so the floor
    * tracks everything admitted so far — the store-backed lifecycle
    * every dedup family already has, applied to the quality stage.
    * A THIRD append + the same gated compaction; a source the store
    * has never seen carries a NULL floor and is kept.
    *
    * `benchStorePath` (optional) composes benchmark DECONTAMINATION in
    * as stage 0 + a final excision
    * ([[graft.text.Curation.curateBatchDecontam]], certified by the
    * `curation_lane_decontam_twin` oracle row): docs more than
    * `maxFrac` contaminated drop before signing, and curated chunks
    * matching a benchmark window drop by key. The benchmark store is
    * STATIC judge state (never appended); decontam drops fold into the
    * stats frame's `n_rejected` with `n_in` counting the whole batch.
    *
    * `lmModelRoot` (optional) composes the persisted REFERENCE-LM gate
    * into the quality stage ([[graft.text.Curation.curateBatchLm]], the
    * `curation_lane_lm_twin` row); `lmLedgerPath` appends each
    * admission's verdict stamped with the scoring model's FINGERPRINT
    * ([[graft.text.LmStore.readFingerprint]]); `lmCorpusFloor = true`
    * gates against the ledger's stable floors through
    * [[graft.text.LmStore.floorsChecked]] — which REFUSES floors from
    * a stale or mixed score space (after a model refresh, run
    * [[graft.text.LmStore.restampLedger]]; the
    * `curation_lane_lm_corpus_twin` row).
    *
    * THE FULL PRODUCTION FORM (r16 — `curation_lane_full_twin`): all
    * of the above at once. `benchStorePath` + `qualityStorePath` +
    * `lmModelRoot` + `lmLedgerPath` + `lmCorpusFloor = true` runs
    * decontam gate → store dedup judge + keeper gate → corpus
    * heuristic floor ∧ corpus LM floor → chunk → excision as ONE
    * [[graft.text.Curation.curateBatchFull]] plan, all four stores and
    * both ledgers appending — the composition the r15 requires
    * structurally forbade, now the certified default for a real
    * ingest pipeline (priced: StreamBench `curprod`, ~+0.5 s/batch
    * over the plain curation lane at sf0.1). Partial compositions
    * beyond the certified pairwise forms still refuse loudly.
    *
    * THE GRID GATE (r17 — `curation_lane_grid_twin`):
    * `benchDocSigStorePath` (+ optionally `benchVecs`/`vecs`) widens
    * the full form's stage 0 to the complete decontam grid
    * ([[graft.text.Curation.curateBatchGridFull]]): exact chunk
    * windows ∧ fuzzy whole-doc signatures (banded Hamming against the
    * static benchmark DOC sig store) ∧ semantic embedding cosine
    * (against the static `benchVecs` broadcast; `vecs` is the
    * arrival-side vector lookup, joined per batch — a doc with no
    * vector passes that conjunct). Both extra arms are
    * benchmark-side-bounded broadcasts: the corpus crosses no new
    * exchange (priced: StreamBench `curgrid`).
    *
    * Same eager-checkpoint ordering as every store lane (judge state
    * AND the floor's survivor frame materialize before the appends
    * mutate listings) and the same at-least-once caveat: a replayed
    * batch re-appends — duplicate signature/quality rows are harmless,
    * duplicate chunk rows carry their (doc_id, chunk_idx) key and
    * compact away.
    *
    * `vocabPieces` + `onOovStats` (optional, r13) put the tokenizer
    * RETRAIN SIGNAL on the ingest path: per micro-batch, the
    * per-source vocabulary-coverage frame
    * ([[graft.text.TextOps.vocabCoverage]] — `oov_rate` = the fraction
    * of the source's subword stream falling back to single-code-point
    * units) over the ARRIVING docs, tagged (lane, batch_id). Arrivals,
    * not survivors, deliberately: a drifting domain should alert
    * BEFORE the quality and dedup gates strip it from the admitted
    * set. One extra narrow per-row walk over the batch, only when the
    * telemetry is enabled; the offline sweep (`vocab_coverage`) stays
    * the certified batch form. */
  def curationStoreLane(docs: DataFrame, sigStorePath: String,
                        chunkStorePath: String, maxHamming: Int = 3,
                        p: Double = 0.1, window: Int = 32,
                        stride: Int = 24,
                        maxStoreFiles: Option[Int] = None,
                        qualityStorePath: String = null,
                        benchStorePath: String = null,
                        maxFrac: Double = 0.5,
                        onStats: (DataFrame, Long) => Unit = null,
                        vocabPieces: Seq[String] = null,
                        onOovStats: (DataFrame, Long) => Unit = null,
                        lmModelRoot: String = null,
                        lmLedgerPath: String = null,
                        pLm: Double = 0.1,
                        lmCorpusFloor: Boolean = false,
                        benchDocSigStorePath: String = null,
                        benchVecs: DataFrame = null,
                        vecs: DataFrame = null,
                        semThreshold: Double = 0.5)
                       (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{ChunkSigStore, Curation, LmStore, QualityStore,
        SimHashStore}
      // the FULL production form (r16 — the composition the pairwise
      // requires below used to forbid): decontam gate + store judge +
      // corpus heuristic floor + corpus LM floor + chunk, all four
      // stores and both ledgers in one lane
      val fullForm = benchStorePath != null && qualityStorePath != null &&
        lmModelRoot != null
      // the GRID form (r17): the full form with stage 0 widened to the
      // complete decontam grid — exact chunk windows AND fuzzy
      // whole-doc signatures (the benchmark DOC sig store) AND, where
      // `vecs` provides arrival vectors, semantic cosine against the
      // static `benchVecs` set (curation_lane_grid_twin)
      val gridForm = fullForm && benchDocSigStorePath != null
      require(benchDocSigStorePath == null || fullForm,
        "curationStoreLane: the grid decontam gate composes over the " +
          "FULL production form — provide benchStorePath + " +
          "qualityStorePath + lmModelRoot (+ ledger, corpus floor)")
      require((benchVecs == null && vecs == null) ||
        benchDocSigStorePath != null,
        "curationStoreLane: the semantic decontam arm runs inside the " +
          "grid gate — provide benchDocSigStorePath")
      require((benchVecs == null) == (vecs == null),
        "curationStoreLane: the semantic arm needs BOTH the benchmark " +
          "vectors (benchVecs) and the arrival vector side (vecs)")
      require(!fullForm || (lmLedgerPath != null && lmCorpusFloor),
        "curationStoreLane: the full pipeline gates corpus-relative on " +
          "BOTH floors — it needs the admission ledger (lmLedgerPath) " +
          "and lmCorpusFloor = true (the certified " +
          "curation_lane_full_twin composition)")
      require(fullForm || benchStorePath == null ||
        qualityStorePath == null,
        "curationStoreLane: decontam + corpus floor without the LM gate " +
          "is not a certified composition — run the full form (add " +
          "lmModelRoot + lmLedgerPath + lmCorpusFloor) or the decontam " +
          "lane (curation_lane_decontam_twin)")
      require(fullForm || lmModelRoot == null ||
        (benchStorePath == null && qualityStorePath == null),
        "curationStoreLane: the LM gate composes with other stages only " +
          "in the full form (curation_lane_full_twin) or standalone " +
          "(curation_lane_lm_twin)")
      require(lmLedgerPath == null || lmModelRoot != null,
        "curationStoreLane: an LM admission ledger needs the LM gate " +
          "(lmModelRoot) that produces its verdicts")
      require(!lmCorpusFloor || lmLedgerPath != null,
        "curationStoreLane: the corpus-floor LM gate derives its floors " +
          "from the admission ledger (lmLedgerPath)")
      val spark = batch.sparkSession
      // the fingerprint of the model every LM score this batch derives
      // from — stamped onto ledger appends, asserted by floorsChecked.
      // A STRICT read at batch start (r17: lazy, it forced at the
      // append in the non-corpus form — AFTER scoring — so the
      // pre/post bracket below could not certify which model the scans
      // actually read): one sidecar read per batch, re-read after the
      // scoring actions before any ledger append commits.
      val lmFp = if (lmModelRoot == null) 0L
      else LmStore.readFingerprint(spark, lmModelRoot)
      def lmLedgerFloors(pQ: Double) = {
        import spark.implicits._
        if (new java.io.File(lmLedgerPath).exists())
          LmStore.floorsChecked(spark.read.parquet(lmLedgerPath),
            lmFp, pQ)
        else Seq.empty[(String, Double)].toDF("source", "lm_thr")
      }
      // decontamDocV is non-null only in the decontam/full forms: the
      // stats frame then counts the whole batch (decontam drops fold
      // into n_rejected alongside judge/gate/floor rejections)
      val (curated0, survivorSigs0, gated, survivors, decontamDocV) =
        if (gridForm) {
          val (c, ss, g, sv, dv) = Curation.curateBatchGridFull(
            ChunkSigStore.read(spark, benchStorePath),
            SimHashStore.read(spark, benchDocSigStorePath),
            benchVecs, vecs,
            SimHashStore.read(spark, sigStorePath),
            QualityStore.read(spark, qualityStorePath),
            LmStore.readUni(spark, lmModelRoot),
            LmStore.readBi(spark, lmModelRoot),
            lmLedgerFloors(pLm), batch, maxHamming, p, window, stride,
            maxFrac, semThreshold)
          (c, ss, g, sv, dv)
        } else if (fullForm) {
          val (c, ss, g, sv, dv) = Curation.curateBatchFull(
            ChunkSigStore.read(spark, benchStorePath),
            SimHashStore.read(spark, sigStorePath),
            QualityStore.read(spark, qualityStorePath),
            LmStore.readUni(spark, lmModelRoot),
            LmStore.readBi(spark, lmModelRoot),
            lmLedgerFloors(pLm), batch, maxHamming, p, window, stride,
            maxFrac)
          (c, ss, g, sv, dv)
        } else if (benchStorePath != null) {
          val (c, ss, g, sv, dv) = Curation.curateBatchDecontam(
            ChunkSigStore.read(spark, benchStorePath),
            SimHashStore.read(spark, sigStorePath), batch,
            maxHamming, p, window, stride, maxFrac)
          (c, ss, g, sv, dv)
        } else if (lmModelRoot != null) {
          // the reference-LM gate inline: the model is a STORE scan
          // (counts persisted by LmStore — trained once, refreshed at
          // maintenance cadence), never re-derived from the batch.
          // Corpus-floor form: floors from a scan of the lane's OWN
          // admission ledger (the loop the QualityStore lane closes —
          // a fresh deployment with no ledger yet gates nothing, the
          // no-learned-floor keep)
          val uni = LmStore.readUni(spark, lmModelRoot)
          val bi = LmStore.readBi(spark, lmModelRoot)
          val (c, ss, g, sv) =
            if (lmCorpusFloor)
              Curation.curateBatchLmCorpus(
                SimHashStore.read(spark, sigStorePath), uni, bi,
                lmLedgerFloors(pLm),
                batch, maxHamming, p, window, stride)
            else Curation.curateBatchLm(
              SimHashStore.read(spark, sigStorePath), uni, bi, batch,
              maxHamming, p, pLm, window, stride)
          (c, ss, g, sv, null)
        } else if (qualityStorePath == null) {
          val (c, ss, g, sv) = Curation.curateBatch(
            SimHashStore.read(spark, sigStorePath), batch,
            maxHamming, p, window, stride)
          (c, ss, g, sv, null)
        } else {
          val (c, ss, g, sv) = Curation.curateBatchCorpusFloor(
            SimHashStore.read(spark, sigStorePath),
            QualityStore.read(spark, qualityStorePath), batch,
            maxHamming, p, window, stride)
          (c, ss, g, sv, null)
        }
      // pin both outputs before the appends: each is consumed more than
      // once (write + stats/process) and re-evaluation would re-run the
      // quality window and chunk explode per consumer
      val curated = curated0.localCheckpoint(true)
      val survivorSigs = survivorSigs0.localCheckpoint(true)
      curated.write.mode("append").parquet(chunkStorePath)
      SimHashStore.appendSigs(sigStorePath, survivorSigs)
      // survivors is already checkpointed inside curateCore, so this
      // append cannot feed back into the floor plan that read the store
      if (qualityStorePath != null)
        QualityStore.appendQualities(qualityStorePath, survivors)
      // the LM admission LEDGER: one verdict row per admitted doc
      // (arrival-time score + floor — history telemetry; the retro
      // sweep re-scores from text, never from these), stamped with the
      // fingerprint of the model that scored it (r16 — floorsChecked's
      // refusal contract: a post-refresh lane cannot silently gate
      // new-model scores against old-model floors). Checkpointed
      // survivor state, so the append cannot feed back either.
      if (lmLedgerPath != null) {
        // the fingerprint RE-READ after the batch's scoring actions
        // (r17, ADVICE: the pre-batch sidecar read is not atomic with
        // the uni/bi scans, which execute at the survivor checkpoint —
        // a maintainCadence refresh landing in that window would stamp
        // scores produced under one model with the other's fingerprint,
        // the exact silent mix the stamp exists to make detectable).
        // The scoring is already materialized (curateCore's eager
        // survivor checkpoint), so fp-unchanged across [first read,
        // here] certifies the scans ran under the stamped model: a
        // refresh bumps the fingerprint meta-FIRST, so counts swapped
        // before scoring imply a bump visible to this re-read. On
        // mismatch the append REFUSES loudly — the checkpoint has not
        // committed, so a restart replays the batch under the
        // refreshed model (refuse-then-re-derive, the floorsChecked
        // recovery pair).
        val lmFpAfter = LmStore.readFingerprint(spark, lmModelRoot)
        require(lmFpAfter == lmFp,
          s"curationStoreLane: model fingerprint moved $lmFp -> " +
            s"$lmFpAfter during batch $batchId (concurrent " +
            "maintainCadence refresh) — refusing the ledger append; " +
            "the restarted batch re-scores under the refreshed model")
        survivors.select(col("doc_id"), col("source"),
          col("avg_logprob"), col("lm_thr"))
          .withColumn("model_fp", lit(lmFp))
          .write.mode("append").parquet(lmLedgerPath)
      }
      val compacted = maxStoreFiles.exists { m =>
        val sigC = SimHashStore.compactIfNeeded(spark, sigStorePath, m)
        // the curated chunks have no store object: (doc_id, chunk_idx)
        // determines a chunk's row
        val chkC = graft.sinks.StoreMaintenance.compactIfNeeded(
          spark, chunkStorePath, m, Seq("doc_id", "chunk_idx"))
        val quaC = qualityStorePath != null &&
          QualityStore.compactIfNeeded(spark, qualityStorePath, m)
        sigC || chkC || quaC
      }
      if (onStats != null) {
        // every count reads ALREADY-CHECKPOINTED state (the gated
        // verdict and the survivor signatures) — no extra job
        // re-evaluates the micro-batch source. n_in counts DOCS (the
        // laneStats granularity contract); n_admitted is the QUALITY
        // survivors (the docs whose chunks and signatures landed),
        // so n_rejected folds store dups, intra-batch demotions, and
        // quality-floor drops — plus whole-doc decontamination drops
        // in the full-pipeline form, where n_in is the WHOLE batch
        // (the decontam doc verdict, one row per arriving doc);
        // n_intra_batch isolates the keeper gate's share.
        val nIn = if (decontamDocV != null) decontamDocV.count()
        else gated.count()
        val nSurv = survivorSigs.count()
        val nGate = gated
          .filter(!col("is_new") && col("n_dups") === 0).count()
        import spark.implicits._
        onStats(Seq(("curation_store", batchId, nIn, nSurv,
          nIn - nSurv, compacted, nGate))
          .toDF("lane", "batch_id", "n_in", "n_admitted", "n_rejected",
            "compacted", "n_intra_batch"), batchId)
      }
      if (onOovStats != null && vocabPieces != null)
        onOovStats(graft.text.TextOps.vocabCoverage(batch, vocabPieces)
          .select(lit("curation_store").as("lane"),
            BatchConstant.column(batchId).as("batch_id"), col("source"),
            col("n_tokens"), col("n_oov"), col("oov_rate")), batchId)
      process(curated, batchId)
      ()
    }

  /** Store-backed streaming span clean — the exact-substring sibling of
    * [[nearDupStoreLane]]: each batch's docs are stripped of every span
    * already present in the persisted [[graft.text.GramStore]], then the
    * grams of the CLEANED text are appended so later batches dedup
    * against everything admitted so far (state on disk; a restart
    * resumes against the full store). Same eager-localCheckpoint
    * ordering as the near-dup lane: the cleaned frame is materialized
    * BEFORE the append mutates the store's file listing, or the plan's
    * second consumer would see the batch's own grams and every doc
    * would strip itself. Replayed batches are harmless: duplicate gram
    * rows only re-cover what they already cover. */
  def spanCleanStoreLane(docs: DataFrame, storePath: String,
                         maxStoreFiles: Option[Int] = None)
                        (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{GramStore, SpanDedup}
      val cleaned = SpanDedup.spanCleanAgainstGrams(
        GramStore.read(batch.sparkSession, storePath), batch)
        .localCheckpoint(true)
      GramStore.appendCleaned(storePath, cleaned)
      maxStoreFiles.foreach(m =>
        GramStore.compactIfNeeded(batch.sparkSession, storePath, m))
      process(cleaned, batchId)
      ()
    }

  /** Store-backed ANN ingestion lane — the [[nearDupStoreLane]] posture
    * for vectors: each micro-batch of (vec_id, v, n2) rows is assigned
    * against the STORED centroids (`centsRow`, the one-row packed
    * broadcast re-read from the trained index — one `nearest_cell`
    * argmin pass over the batch, the corpus never touched) and APPENDED
    * to the assignment store; `process` receives the batch's assigned
    * frame. No eager checkpoint is needed here, unlike the text lanes:
    * assignment reads only the batch and the centroids, never the store
    * it appends to, so the append cannot feed back into the plan.
    * At-least-once caveat: a replayed batch re-appends duplicate
    * assignment rows, which would duplicate top-k candidates —
    * [[graft.ann.IvfStore.compact]] dedups on vec_id at maintenance. */
  def ivfIngestLane(vecs: DataFrame, storePath: String,
                    centsRow: DataFrame,
                    maxStoreFiles: Option[Int] = None)
                   (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ann.IvfStore
      val assigned = IvfStore.assignBatch(batch, centsRow)
      IvfStore.append(storePath, assigned)
      // vec_id-keyed gate: also sheds replayed-batch duplicate rows
      // when it fires
      maxStoreFiles.foreach(m =>
        IvfStore.compactIfNeeded(batch.sparkSession, storePath, m))
      process(assigned, batchId)
      ()
    }

  /** MEDIA SEMANTIC ingestion lane (r16 — the vector-store lifecycle
    * the byte-signature media lane has had since r13, for the
    * embedding-space family): each micro-batch of assets is FEATURIZED
    * once (`byte_hist16` — the one payload read,
    * [[graft.multimodal.Multimodal.mediaVectors]]) and flows through
    * the [[ivfIngestLane]] machinery verbatim: assigned against the
    * stored trained centroids (one argmin pass, corpus untouched),
    * appended to the assignment store — so an arriving asset is
    * immediately judgeable semantically
    * ([[graft.multimodal.Multimodal.mediaSemanticIncrementalJudge]]
    * reads exactly this store) and the corpus-wide
    * `media_dedup_semantic` sweep reads it instead of re-featurizing.
    * Same at-least-once caveat and vec_id-keyed compaction as the IVF
    * lane. */
  def mediaSemanticIngestLane(assets: DataFrame, storePath: String,
                              centsRow: DataFrame,
                              maxStoreFiles: Option[Int] = None)
                             (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    ivfIngestLane(graft.multimodal.Multimodal.mediaVectors(assets),
      storePath, centsRow, maxStoreFiles)(process)

  /** [[ivfIngestLane]] with the MAINTENANCE LOOP closed — the lane
    * variant that owns both IVF artifacts by PATH (centroids +
    * assignment store) instead of holding a frozen centroid broadcast:
    * each batch re-reads the current centroids (tiny), assigns, appends,
    * gate-compacts — and every `checkEvery` batches runs
    * [[graft.ann.IvfMaintenance.retrainIfStale]], so a drifting ingest
    * distribution triggers one full retrain + atomic swap exactly when
    * the measured store recall crosses `recallFloor`, not on a guess.
    * The assigned frame is eagerly pinned before the append so the
    * verdict handed to `process` reflects the centroids the batch was
    * actually admitted under, even if a retrain swaps them later in the
    * same callback. The recall gauge retrains a throwaway quantizer
    * (that is what measuring drift costs) — `checkEvery` is the knob
    * that amortizes it; between checks each batch pays one argmin pass. */
  def ivfIngestLaneManaged(vecs: DataFrame, storePath: String,
                           centsPath: String, recallFloor: Double = 0.9,
                           checkEvery: Int = 8,
                           maxStoreFiles: Option[Int] = None)
                          (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.ann.{IvfMaintenance, IvfStore}
      val spark = batch.sparkSession
      val centsRow = IvfStore.packedRow(IvfStore.read(spark, centsPath))
      val assigned = IvfStore.assignBatch(batch, centsRow)
        .localCheckpoint(true)
      IvfStore.append(storePath, assigned)
      maxStoreFiles.foreach(m =>
        IvfStore.compactIfNeeded(spark, storePath, m))
      if ((batchId + 1) % checkEvery == 0)
        IvfMaintenance.retrainIfStale(spark, storePath, centsPath,
          recallFloor)
      process(assigned, batchId)
      ()
    }
  }

  /** [[mediaSemanticIngestLane]] with the MAINTENANCE LOOP closed —
    * the media feature stream through [[ivfIngestLaneManaged]]
    * verbatim (featurize once, then the lane owns both IVF artifacts
    * by path: assignment append per batch, recall-gauged retrain at
    * cadence). The media semantic store thereby inherits the ANN
    * family's whole health lifecycle — occupancy skew telemetry,
    * store-vs-retrain recall, atomic centroid swap — instead of
    * re-deriving any of it. */
  def mediaSemanticIngestLaneManaged(assets: DataFrame, storePath: String,
                                     centsPath: String,
                                     recallFloor: Double = 0.9,
                                     checkEvery: Int = 8,
                                     maxStoreFiles: Option[Int] = None)
                                    (process: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] =
    ivfIngestLaneManaged(
      graft.multimodal.Multimodal.mediaVectors(assets), storePath,
      centsPath, recallFloor, checkEvery, maxStoreFiles)(process)

  /** The TOKENIZER twin of [[ivfIngestLaneManaged]] — the vocabulary
    * maintenance loop closed on the ingest path: the lane owns the
    * corpus store and the LIVE vocab store by PATH; each batch appends
    * to the corpus, re-reads the current pieces (a bounded topK-row
    * dimension read — a cadence retrain is visible to the very next
    * batch's stats), and hands `onStats` the batch's per-source OOV
    * coverage under that CURRENT vocabulary; every `checkEvery`
    * batches, [[graft.text.VocabMaintenance.retrainIfDrifted]] gauges
    * the ACCUMULATED corpus (this batch included) and — past the
    * ceiling — trains a candidate, swapping atomically only on
    * measured coverage gain ≥ `minGain` (refusals are memoized, so a
    * high-baseline corpus does not re-pay the candidate train every
    * cadence). Between checks each batch pays
    * one kernel pass over its own rows — the drift gauge's full corpus
    * pass is the amortized cadence cost, exactly the IVF lane's
    * shape. A retrain marks an id-VERSION boundary for downstream
    * numericalization (the [[graft.text.VocabMaintenance]] contract —
    * [[graft.text.TokenIdStore.renumberSweep]] is the operator that
    * enforces it on a persisted id store).
    *
    * `trainer` is the candidate-vocabulary derivation the gain gate
    * prices — the frequency stand-in by default; pass
    * [[graft.text.BpeMerges.mergeTrainer]] to run the REAL
    * merge-learning trainer through the loop (same (piece,
    * n_occurrences) live-store contract, validated at the maintenance
    * boundary either way).
    *
    * `idStorePath` wires the NUMERICALIZED side of the lifecycle: each
    * batch's ids append to a [[graft.text.TokenIdStore]] tagged with
    * the live vocabulary's REGISTRY version
    * ([[graft.text.VocabMaintenance.currentVersion]] — read, not
    * invented), minted under the PRE-cadence-check store: a swap takes
    * effect from the next batch, so the rows tagged with the old
    * version are exactly the stale population
    * [[graft.text.TokenIdStore.renumberSweep]] migrates at maintenance
    * cadence. At-least-once appends leave key-identical duplicate id
    * rows for [[graft.text.TokenIdStore.compact]] — the same contract
    * as the corpus store. */
  def tokenizerIngestLaneManaged(docs: DataFrame, corpusPath: String,
                                 vocabPath: String,
                                 oovCeiling: Double = 0.5,
                                 checkEvery: Int = 4,
                                 minGain: Double = 0.1,
                                 maxStoreFiles: Option[Int] = None,
                                 trainer: DataFrame => DataFrame =
                                   graft.text.BpeVocab.train(_),
                                 idStorePath: Option[String] = None,
                                 seqShardPath: Option[String] = None,
                                 onStaleness: (DataFrame, Long) => Unit =
                                   null)
                                (onStats: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
    // fail at lane CONSTRUCTION, not at the first cadence batch mid-
    // stream (the policy re-checks, but a streaming query dying on
    // batch checkEvery-1 is the worse failure mode). minGain sits
    // AFTER checkEvery so a positional Int in the old slot cannot
    // silently widen into it.
    require(oovCeiling > 0 && oovCeiling < 1,
      s"oovCeiling must be in (0, 1), got $oovCeiling")
    require(minGain > 0 && minGain < 1,
      s"minGain must be in (0, 1), got $minGain")
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.{TextOps, VocabMaintenance}
      val spark = batch.sparkSession
      // eager: the batch feeds the corpus append AND the coverage
      // stats — unpinned, two lazy consumers would re-read the source
      val b = batch.localCheckpoint(true)
      b.write.mode("append").parquet(corpusPath)
      maxStoreFiles.foreach(m => graft.sinks.StoreMaintenance
        .compactIfNeeded(spark, corpusPath, m, Seq("doc_id")))
      val pieces = VocabMaintenance.readPieces(spark, vocabPath)
      // the sibling curation lane's (lane, batch_id, source, ...) OOV
      // layout — one telemetry consumer serves both lanes
      onStats(TextOps.vocabCoverage(b, pieces)
        .select(lit("tokenizer_ingest").as("lane"),
          BatchConstant.column(batchId).as("batch_id"), col("source"),
          col("n_tokens"), col("n_oov"), col("oov_rate")), batchId)
      // ids minted BEFORE the cadence check, under the same store the
      // stats read: a swap takes effect from the next batch, and the
      // old-version rows this ordering leaves behind are exactly the
      // renumber sweep's population (scaladoc contract above). ONE
      // pinned snapshot serves both the version fingerprint and the
      // numericalization — two independent store reads would race a
      // concurrent swap and tag new-vocab ids with the old version
      idStorePath.foreach { idp =>
        val vocab = graft.text.BpeVocab.read(spark, vocabPath)
          .localCheckpoint(true)
        try {
          val ps = vocab.select("piece").collect()
            .map(_.getString(0)).toSeq.sorted
          graft.text.TokenIdStore.append(idp,
            graft.text.TokenIdStore.numericalize(b, vocab,
              VocabMaintenance.currentVersionFor(spark, vocabPath, ps)))
        } finally graft.sources.Checkpoints.unpersist(vocab)
      }
      if ((batchId + 1) % checkEvery == 0) {
        // doc_id dedup: the at-least-once append contract permits a
        // replayed batch's key-identical rows until the gated
        // compaction sheds them — an un-deduped gauge would double-
        // weight the replay (diluting or inflating the drift signal)
        // and the trainer would double-count its grams
        VocabMaintenance.retrainIfDrifted(spark, vocabPath,
          spark.read.parquet(corpusPath).dropDuplicates("doc_id"),
          oovCeiling, minGain, trainer)
        // downstream-artifact FRESHNESS at the same cadence boundary
        // (r16 — a probe nobody calls is a dashboard nobody opens):
        // after an accepted swap (and the renumber sweep it mandates),
        // previously-written sequence shards are silently stale
        // bit-valid parquet; the probe reads the manifest only (~0
        // cost) against the registry's CURRENT version and surfaces
        // the verdict — the caller's cue to re-export (the action the
        // telemetry exists for; a missing manifest reads stale too).
        // AFTER the retrain call, so this cadence tick sees its own
        // swap's bump.
        seqShardPath.foreach { sp =>
          if (onStaleness != null)
            onStaleness(graft.text.Curation.sequenceShardStaleness(
              spark, sp, VocabMaintenance.currentVersion(spark, vocabPath))
              .select(lit("tokenizer_ingest").as("lane"),
                BatchConstant.column(batchId).as("batch_id"),
                col("artifact_version"), col("current_version"),
                col("stale")), batchId)
        }
      }
      ()
    }
  }

  /** The reference-LM loop ON the ingest path — the third managed lane
    * (IVF: `ivfIngestLaneManaged`-shaped retrain via
    * [[graft.ann.IvfMaintenance]]; tokenizer:
    * [[tokenizerIngestLaneManaged]]): per batch, score the ARRIVING
    * docs against the stored reference model
    * ([[graft.text.LmStore.scoreAgainst]] — per-source average
    * log-prob + unseen-bigram fraction through `onStats`, the
    * lane-telemetry layout), append the batch to the corpus store,
    * and at `checkEvery` cadence run the drift-gauged refresh
    * ([[graft.text.LmStore.refreshIfDrifted]]: past the OOV-bigram
    * ceiling, retrain both count tables on the accumulated
    * doc_id-deduped corpus and atomically swap). Per-batch cost is
    * one scoring pass over the batch's own rows (two model equi-joins
    * + one aggregate); the cadence gauge re-scores only the RECENT
    * batch (already priced), so the amortized maintenance cost is the
    * refresh itself, paid exactly when the gauge demands it. */
  def lmIngestLaneManaged(docs: DataFrame, corpusPath: String,
                          modelRoot: String,
                          maxOovRate: Double = 0.5,
                          checkEvery: Int = 4,
                          maxStoreFiles: Option[Int] = None)
                         (onStats: (DataFrame, Long) => Unit)
  : DataStreamWriter[Row] = {
    require(checkEvery > 0, s"checkEvery must be positive, got $checkEvery")
    require(maxOovRate > 0 && maxOovRate < 1,
      s"maxOovRate must be in (0, 1), got $maxOovRate")
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      import graft.text.LmStore
      val spark = batch.sparkSession
      val b = batch.localCheckpoint(true)
      b.write.mode("append").parquet(corpusPath)
      maxStoreFiles.foreach(m => graft.sinks.StoreMaintenance
        .compactIfNeeded(spark, corpusPath, m, Seq("doc_id")))
      onStats(LmStore.driftBySource(b, LmStore.readUni(spark, modelRoot),
        LmStore.readBi(spark, modelRoot))
        .select(lit("lm_ingest").as("lane"),
          BatchConstant.column(batchId).as("batch_id"),
          col("source"), col("n_docs"), col("n_bigrams"),
          col("n_oov_bigrams"), col("avg_logprob"),
          col("oov_bigram_rate")), batchId)
      if ((batchId + 1) % checkEvery == 0)
        // the accumulated corpus is the new trusted reference; the
        // RECENT gauge is this batch (the drift the telemetry just
        // surfaced). doc_id dedup: the at-least-once append contract
        // — a replayed batch must not double-weight the counts
        LmStore.refreshIfDrifted(spark, modelRoot,
          spark.read.parquet(corpusPath).dropDuplicates("doc_id"),
          b, maxOovRate)
      ()
    }
  }

  /** `df` coalesced to one partition per `spark.sql.files.maxPartitionBytes`
    * (the split size Spark reads files with) of its estimated size, so a
    * small micro-batch appends one file per partition directory and a
    * large one keeps a task per split. The partition count never rises,
    * and a frame whose size the optimizer does not know is left as it is. */
  private def sizedByBytes(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size >= conf.defaultSizeInBytes) df
    else {
      val split = BigInt(conf.filesMaxPartitionBytes)
      df.coalesce(((size + split - 1) / split).max(1).min(Int.MaxValue).toInt)
    }
  }

  /** S5/S6: dual-lane bifurcation — one foreachBatch, two sinks. The
    * storage lane appends Parquet partitioned by (source, date) (the
    * low-cardinality layout the reference chose for series pruning); the
    * trading lane is any batch callback (the scanner in production,
    * an assertion buffer in tests). Each micro-batch is first sized by
    * its bytes ([[sizedByBytes]]): a small batch writes one file per
    * (source, date), so the store's readers list and open fewer. 5 s
    * trigger mirrors the reference's flush interval. */
  def bifurcated(stream: DataFrame, storageDir: String,
                 tradingLane: (DataFrame, Long) => Unit,
                 trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
  : DataStreamWriter[Row] = {
    stream.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val enriched = sizedByBytes(withIngestStamps(batch, batchId)
          .withColumn("date", to_date(col("ts")))
          .withColumn("batch_id", BatchConstant.column(batchId)))
        enriched.persist()
        try {
          // storage lane: partitioned append. A replayed batch (failure
          // between the append and the checkpoint commit) re-appends —
          // at-least-once, like the reference's retry queue; the carried
          // batch_id lets readers deduplicate exactly, and the LWW merge
          // view (RelationalSink.mergeView) absorbs duplicates anyway.
          enriched.write.mode("append")
            .partitionBy("source", "date")
            .parquet(storageDir)
          // trading lane
          tradingLane(enriched, batchId)
        } finally enriched.unpersist()
        ()
      }
  }
}
