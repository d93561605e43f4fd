package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.{Staging, Tables}

/** Multimodal (binary) column plumbing — images/audio/video carried as
  * opaque `binary` payloads with TYPED METADATA captured at ingest,
  * processed batch-wise per partition.
  *
  * The asset table is a staged parquet store whose schema separates the
  * fat `payload` column from its narrow metadata (dims, frame counts,
  * media type, byte_len). That split is the whole point at 100 TB:
  * metadata-only queries (`frame_sample`, `resize_meta`) are pure column
  * expressions whose scans PRUNE the payload column at the parquet reader
  * (assert via `.explain` ReadSchema — MultimodalSpec does), while the
  * decode kernel (`media_features`) is the one consumer that legitimately
  * reads payload bytes.
  *
  * The decode kernel runs through `Dataset.mapPartitions` over typed rows
  * (the Scala analog of `mapInPandas`: one iterator per partition, so a
  * real codec would amortize its init across the batch and never touch the
  * driver). The actual pixel/sample decode is a DETERMINISTIC FAKE —
  * byte-level statistics standing in for a codec this container doesn't
  * ship — but the schema, Encoder round-trip, partition batching, and
  * per-asset fan-out (frame sampling) are the real 100 TB plumbing:
  * narrow transforms, no shuffle, no driver-side collection.
  *
  * Fixture: payloads are the UTF-8 bytes of `documents.text`; metadata
  * (dims, frame counts, media type) derives arithmetically from doc_id so
  * the DuckDB oracle can recompute every output independently.
  */
object Multimodal extends QueryModule {
  case class MediaAsset(doc_id: Long, media_type: String,
                        payload: Array[Byte], width: Int, height: Int,
                        n_frames: Int, byte_len: Int)
  case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Int,
                           checksum: Long, mean_byte_x1000: Long)

  private val mediaTypes = Seq("image", "audio", "video")

  /** The asset frame derived from `documents` — payload plus ingest-time
    * metadata (byte_len is recorded here exactly so downstream metadata
    * queries never touch the payload column). */
  def assetFrame(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        element_at(typedLit(mediaTypes), (col("doc_id") % 3 + 1).cast("int"))
          .as("media_type"),
        col("text").cast("binary").as("payload"),
        ((col("doc_id") % 8) * 40 + 64).cast("int").as("width"),
        ((col("doc_id") % 5) * 30 + 48).cast("int").as("height"),
        (col("doc_id") % 7 + 1).cast("int").as("n_frames"),
        octet_length(col("text")).as("byte_len"))

  /** Staged asset store: the binary table as it would exist in a lake —
    * a parquet scan of THIS store can prune the payload column, which the
    * derived-on-the-fly frame cannot (its payload derives from `text`). */
  def assetStore(spark: SparkSession, dir: String): DataFrame =
    Staging.stageFrame(spark, s"media_assets_$dir",
      new java.io.File(dir, "documents.parquet"),
      assetFrame(spark, dir))

  /** Typed view for the decode kernel. */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    assetStore(spark, dir).as[MediaAsset]
  }

  /** The deterministic stand-in decoder: byte statistics in place of a
    * codec this container doesn't ship. Registered queries and the
    * DuckDB oracle stay pinned to this default. */
  val byteStatsDecoder: MediaAsset => MediaFeatures = { a =>
    var sum = 0L
    var i = 0
    while (i < a.payload.length) { sum += a.payload(i) & 0xff; i += 1 }
    MediaFeatures(a.doc_id, a.media_type, a.payload.length, sum,
      if (a.payload.length == 0) 0L else sum * 1000L / a.payload.length)
  }

  /** Batch decode through a PLUGGABLE decoder: `init` runs once per
    * partition (where a real codec constructs itself, loads a model,
    * pins native buffers — amortized across the batch, the reason this
    * is `mapPartitions` and not a per-row UDF), and the function it
    * returns once per asset. The closure ships to executors, so `init`
    * must be serializable; anything expensive it builds stays
    * executor-local and is never collected. This is the ONE path that
    * reads the payload column — by design. */
  def decodeFeaturesWith(ds: Dataset[MediaAsset])
                        (init: () => MediaAsset => MediaFeatures)
      : Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val decode = init()
      it.map(decode)
    }
  }

  /** Batch "decode" with the default stand-in decoder. */
  def decodeFeatures(ds: Dataset[MediaAsset]): Dataset[MediaFeatures] =
    decodeFeaturesWith(ds)(() => byteStatsDecoder)

  /** Frame sampling: fan each asset out into its n_frames equal-width
    * byte windows (the video-keyframe access pattern). Pure column
    * arithmetic over ingest metadata — the payload column is pruned at
    * the scan (only its recorded byte_len is consulted). */
  def frameSample(store: DataFrame): DataFrame =
    store
      .select(col("doc_id"), col("n_frames"),
        (col("byte_len") / col("n_frames")).cast("int").as("frame_len"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"),
        col("frame_len"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * col("frame_len")).as("frame_off"),
        col("frame_len"))

  /** Metadata-level resize to fit a square bounding box, aspect preserved
    * (integer math; the pixel resample would live in the decode kernel).
    * Touches only the dims metadata — payload AND byte_len pruned. */
  def resizeMeta(store: DataFrame, maxDim: Int): DataFrame = {
    val m = greatest(col("width"), col("height"))
    store.select(col("doc_id"), col("width"), col("height"),
      (col("width") * maxDim / m).cast("int").as("new_width"),
      (col("height") * maxDim / m).cast("int").as("new_height"))
  }

  /** Exact payload dedup — the first pass every media-ingest pipeline
    * runs (identical bytes are the bulk of crawl duplicates). Content
    * hash = md5 over the canonical lowercase-hex payload encoding, a
    * form both engines compute identically on opaque bytes (the hex
    * doubling exists ONLY for byte-exact DuckDB oracle parity; the
    * 100 TB path hashes raw bytes — `xxhash64(payload)` — halving the
    * bytes through the digest); the shuffle
    * carries (hash, partial aggregates) only — payloads are read once
    * at the scan and never cross an exchange. `n_types` counts distinct
    * media types inside a group: the same bytes registered under
    * different modalities is exactly the cross-modal duplicate an
    * asset catalog wants surfaced. */
  def mediaDedup(store: DataFrame): DataFrame =
    store
      .select(
        md5(lower(hex(col("payload"))).cast("binary")).as("content_hash"),
        col("doc_id"), col("media_type"), col("byte_len"))
      .groupBy(col("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper_id"),
        countDistinct(col("media_type")).as("n_types"),
        sum(col("byte_len")).cast("long").as("bytes_total"))
      // all groups, like dedup_exact: the fixture has near-dups but no
      // byte-identical payloads, and a keeper/copies row per asset is
      // what the catalog upserts anyway (n_copies > 1 marks the dups)

  /** Near-duplicate media — the pass after [[mediaDedup]]'s exact hash:
    * real-world media dup is re-encoded (same content, different bytes),
    * so identity has to come from a content signature, not the digest.
    * The stand-in for a perceptual hash this container can't compute is
    * a byte-shingle SimHash: every dense 4-byte window of the payload
    * votes per bit into a 32-bit signature via the codegen'd
    * `byte_simhash32` kernel (one integer-arithmetic pass over the
    * bytes; `functions/ByteSimHash.scala` documents why not
    * md5-per-shingle) — the byte-level analog of the text family's token
    * SimHash, robust to local edits (a changed region flips only its own
    * windows' votes).
    *
    * Candidate pairs are BANDED, never all-pairs: the signature splits
    * into two 16-bit bands and only assets agreeing on at least one band
    * value meet in the join — by the SimHash pigeonhole, any pair within
    * Hamming distance 1 of each other shares a band exactly, and ≤2-bit
    * neighbors are caught unless the two flips straddle both bands. The
    * per-band exchange carries (doc_id, sig) pairs only (payloads never
    * cross a shuffle); band width is the scale knob — at 10⁹ assets the
    * 8-bit band's ~N/256 bucket population goes quadratic and widens to
    * 16/32-bit bands of a 64-bit SimHash, a parameter change, not a plan
    * change (the same sizing rule as `autoBits` / the LSH bucket cap). */
  def mediaDedupNear(store: DataFrame, maxHamming: Int = 2): DataFrame = {
    // two 16-bit bands guarantee recall only to Hamming 1 (documented
    // straddle gap at 2) — a deeper radius would be silently incomplete
    require(maxHamming >= 0 && maxHamming <= 2,
      s"2x16-bit bands guarantee recall to Hamming 1 (gap at 2); maxHamming=$maxHamming unsupported")
    val sigs = store
      .filter(col("byte_len") >= 4)
      .select(col("doc_id"),
        call_function("byte_simhash32", col("payload")).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array(
        struct(lit(0).as("band"), shiftright(col("sig"), 16).as("bval")),
        struct(lit(1).as("band"),
          col("sig").bitwiseAND(lit(65535L)).as("bval")))).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bval").as("bval"))
    // r17: bucket members grouped once and pair-gated inside the
    // `hamming_near_pairs` kernel (the bandedHammingPairsLayout plan
    // shape, minus the cap this UNCAPPED audit view never had): the
    // payload-signing pass runs once instead of once per join side,
    // the banded frame crosses ONE exchange, and no candidate row is
    // materialized. Per-bucket member arrays are bounded only by band
    // population here — same buffering the self-join's key groups paid
    // — and the capped 64-bit family stays the production form.
    // distinct() dedups pairs agreeing on both bands, as before. No
    // output sort — a global orderBy of the pair list is a
    // presentation-only range exchange (see simhashNearDup).
    banded.groupBy(col("band"), col("bval"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .select(inline(call_function("hamming_near_pairs",
        col("members"), lit(maxHamming))))
      .distinct()
  }

  /** 64-bit SCALE form of [[mediaDedupNear]] — the width its scaladoc
    * names for ~10⁹ assets: `byte_simhash64` signatures
    * (`functions/ByteSimHash.scala`; low half equals the 32-bit
    * signature), 4×16-bit bands with EXACT pigeonhole recall at the
    * default Hamming≤3, and — new vs the 32-bit view — the
    * family-shared sub-salt cap on oversized band buckets. The plan is
    * literally [[graft.text.NearDup.bandedHammingPairs]], shared with
    * the text family's 64-bit pair view: one banded exchange of
    * (doc_id, sig) rows, payloads never cross a shuffle, gate before
    * the distinct. */
  def mediaDedupNear64(store: DataFrame, maxHamming: Int = 3,
                       maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    val sigs = mediaSigs64(store).withColumnRenamed("simhash64", "sig")
    graft.text.NearDup.bandedHammingPairs(sigs, nBands = 4, bandBits = 16,
      maxHamming, maxBucket)
  }

  /** Radius-derived media banding — [[mediaDedupNear64]]'s deep-Hamming
    * escalation, the media twin of
    * [[graft.text.NearDup.simhashNearDup64Radius]]: `maxHamming + 1`
    * bands by pigeonhole (widths from the shared `bandLayout`, so
    * engine and oracle derive from ONE set of constants), exact recall
    * at ANY requested radius instead of the fixed form's ≤ 3 refusal.
    * The price is candidate volume — narrower bands hold more assets
    * per bucket — bounded as ever by the family-shared sub-salt cap. */
  def mediaDedupNear64Radius(store: DataFrame, maxHamming: Int,
                             maxBucket: Int = 256): DataFrame =
    graft.text.NearDup.bandedHammingPairsLayout(
      mediaSigs64(store).withColumnRenamed("simhash64", "sig"),
      graft.text.NearDup.bandLayout(maxHamming), maxHamming, maxBucket)

  /** [[mediaDedupNear64Radius]] over an ALREADY-signed
    * (doc_id, simhash64) frame — a [[MediaSigStore]] scan: the deep
    * Hamming audit of a signed asset corpus re-bands persisted 8-byte
    * signatures and never re-reads payload bytes (the text family's
    * `simhashNearDup64RadiusFromSigs` posture; at media scale the win
    * is larger still — payloads are the corpus's dominant bytes). */
  def mediaDedupNear64RadiusFromSigs(sigs: DataFrame, maxHamming: Int,
                                     maxBucket: Int = 256): DataFrame =
    graft.text.NearDup.simhashNearDup64RadiusFromSigs(
      sigs, maxHamming, maxBucket)

  /** The media signature derivation — the ONE pass that must read every
    * payload byte, factored out so it runs ONCE per corpus (persisted
    * by [[MediaSigStore]]) instead of once per near-dup query. Output
    * column is named `simhash64` to plug directly into the text
    * family's shared banded incremental core. Assets under 4 bytes
    * carry no dense window and are excluded (the [[mediaDedupNear64]]
    * rule, on octet_length so a lane batch needs only doc_id +
    * payload, no ingest metadata). */
  def mediaSigs64(store: DataFrame): DataFrame =
    store.filter(octet_length(col("payload")) >= 4)
      .select(col("doc_id"),
        call_function("byte_simhash64", col("payload")).as("simhash64"))

  /** Incremental media near-dup — which INCOMING assets are within
    * `maxHamming` of an asset already signed into `esigs` (a
    * [[MediaSigStore]] scan, or [[mediaSigs64]] of an in-session
    * corpus). The corpus side is one scan of 8-byte signatures —
    * payloads of the corpus are NEVER re-read, the batch is signed once
    * and broadcast banded — exactly the text family's
    * `dedup_simhash64_staged` posture, via the same shared core (same
    * 4×16-bit bands, exact pigeonhole recall at Hamming ≤ 3). */
  def mediaDedupIncremental64(esigs: DataFrame, incoming: DataFrame,
                              maxHamming: Int = 3): DataFrame =
    graft.text.NearDup.simhashIncremental64BothSigs(
      esigs, mediaSigs64(incoming), maxHamming)

  /** MEDIA benchmark decontamination — the text family's
    * [[graft.text.NearDup.decontamBatch]] posture for assets: which
    * incoming payloads are within `maxHamming` of a BENCHMARK asset
    * (a held-out eval image/audio set the training corpus must not
    * contain, drifting re-encodes included). The benchmark side is a
    * STATIC signature store scan ([[MediaSigStore]] staged once over
    * the benchmark assets — 8 bytes each, payloads never re-read);
    * the incoming batch signs once and broadcasts through the shared
    * banded judge. Assets have no chunk granularity, so the verdict is
    * whole-asset: flagged assets drop, clean ones pass. */
  def mediaDecontam(benchSigs: DataFrame, incoming: DataFrame,
                    maxHamming: Int = 3): DataFrame =
    graft.text.NearDup.simhashIncremental64BothSigs(
      benchSigs, mediaSigs64(incoming), maxHamming)
      .select(col("doc_id"),
        col("n_dups").as("n_benchmark_matches"),
        col("is_new").as("is_clean"))

  /** RETRO-ACTIVE media decontamination sweep — the benchmark-REFRESH
    * lifecycle for the persisted corpus SIGNATURE store, mirroring the
    * text family's [[graft.text.NearDup.retroSweep]]: when the media
    * benchmark suite gains a DELTA (new eval assets published after
    * the corpus was signed), the already-persisted corpus must be
    * re-judged against only the new material. Assets have no chunk
    * granularity, so the verdict is whole-asset keep/drop — no ledger
    * inversion needed — and the store holds 8-byte signatures, so the
    * sweep reads ZERO payload bytes: the delta pre-groups BY SIGNATURE
    * carrying its distinct-doc count (the signature-grouped judge
    * discipline — `n_delta_matches` counts distinct delta DOCS, the
    * media family's convention, exact even when two delta assets share
    * a signature), band-explodes and broadcasts; the store streams
    * through ONE broadcast hash join. Both sides dedupe by doc_id
    * first (the at-least-once append contract permits replayed
    * key-identical rows until compaction). Runs at benchmark cadence;
    * the flagged set is the delete-set [[mediaRefreshStore]]
    * applies. */
  def mediaRetroSweep(deltaSigs: DataFrame, storeSigs: DataFrame,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    val store = storeSigs.dropDuplicates("doc_id")
    val dbands = broadcast(graft.text.NearDup.explodeBands4(
      deltaSigs.dropDuplicates("doc_id")
        .groupBy(col("simhash64").as("esig"))
        .agg(count(lit(1)).as("cnt")), "esig"))
    val matches = graft.text.NearDup.explodeBands4(
        store.select(col("doc_id"), col("simhash64").as("isig")), "isig")
      .join(dbands, Seq("band", "bval"))
      .filter(bit_count(col("esig").bitwiseXOR(col("isig"))) <= maxHamming)
      // a store asset can meet one delta signature through several
      // bands: collapse to distinct (doc, esig) BEFORE summing the
      // per-signature doc counts
      .select(col("doc_id"), col("esig"), col("cnt")).distinct()
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("nb"))
    store.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).cast("int").as("n_delta_matches"),
        coalesce(col("nb"), lit(0L)) === 0L).toDF(
        "doc_id", "n_delta_matches", "is_clean")
  }

  /** A [[mediaRetroSweep]]'s verdicts made effective on a store FRAME:
    * flagged assets' rows delete (one broadcast anti-join of the
    * flagged doc_ids — near-empty at benchmark cadence), survivors
    * keep their signatures verbatim, and the pass sheds at-least-once
    * replay duplicates like compaction does. Shared VERBATIM by the
    * on-disk [[mediaRefreshStore]] and the `media_retro_refresh`
    * oracle query — the lane-twin discipline. */
  def mediaRefreshApply(storeSigs: DataFrame,
                        verdicts: DataFrame): DataFrame =
    storeSigs.dropDuplicates("doc_id")
      .join(broadcast(verdicts.filter(!col("is_clean"))
        .select(col("doc_id"))), Seq("doc_id"), "left_anti")

  /** Apply a [[mediaRetroSweep]]'s verdicts to the signature store ON
    * DISK ([[graft.sinks.StoreMaintenance.rewrite]] — atomic, a
    * complete copy exists at every instant). Idempotent: a second
    * sweep with the same delta flags nothing (the matching signatures
    * are gone). Returns the verdict frame for telemetry, pinned BEFORE
    * the rewrite moves the files it was derived from. */
  def mediaRefreshStore(spark: SparkSession, storePath: String,
                        deltaSigs: DataFrame,
                        maxHamming: Int = 3): DataFrame = {
    val verdicts = mediaRetroSweep(deltaSigs,
      MediaSigStore.read(spark, storePath), maxHamming)
      .localCheckpoint(true)
    graft.sinks.StoreMaintenance.rewrite(spark, storePath)(
      mediaRefreshApply(_, verdicts))
    verdicts
  }

  /** The media FEATURE-VECTOR derivation — the embedding-space analog
    * of [[mediaSigs64]]: one `byte_hist16` pass per payload (the
    * 16-bin low-nibble content-distribution vector, the perceptual-
    * embedding stand-in this container affords) + the exact integer
    * squared norm. Sub-window assets (byte_len < 4) are excluded — the
    * signable-population convention, and a near-empty payload's
    * histogram is noise. This is the ONE pass that reads payload
    * bytes; [[mediaVectorStore]] persists it so every semantic query
    * scans 16 longs per asset instead. */
  def mediaVectors(store: DataFrame): DataFrame =
    store.filter(octet_length(col("payload")) >= 4)
      .select(col("doc_id").as("vec_id"),
        call_function("byte_hist16", col("payload")).as("v"))
      .withColumn("n2", call_function("long_dot", col("v"), col("v")))

  /** Staged media feature-vector store — payloads featurized once per
    * fixture fingerprint; queries scan (vec_id, v, n2). */
  def mediaVectorStore(spark: SparkSession, dir: String): DataFrame =
    Staging.stageFrame(spark, s"media_vecs_v1_$dir",
      new java.io.File(dir, "documents.parquet"),
      mediaVectors(assetStore(spark, dir)))

  /** The media feature vectors through the TRAINED-cell quantizer —
    * [[graft.ann.IvfStore.stagedAssignments]] at dim 16 under a
    * media-specific key (trained once, inside the staging write). */
  def mediaSemanticIndexPath(spark: SparkSession, dir: String,
                             kCells: Int = 8): String =
    graft.ann.IvfStore.stagedAssignments(spark, s"media_sem_v1_$dir",
      new java.io.File(dir, "documents.parquet"),
      mediaVectorStore(spark, dir), kCells, dim = 16)

  /** The quantizer auto-sizing rule for the media feature space (r16 —
    * the [[graft.ann.Similarity.autoBits]] discipline applied to
    * TRAINED cells, wired in because the r15 sweep measured the fixed
    * k = 8 default as the WORST point): cells ≈ ceil(n / targetCell),
    * floor 8 (the serving convention at small corpora). targetCell =
    * 160 is the sweep's MEASURED peak, not a guess —
    * `MediaSemanticSweep` at sf0.1 (5,000 vectors) peaks at k = 32 ≈
    * 156 vectors/cell: large enough that true pairs rarely straddle a
    * cell boundary, small enough that no cell blows the 256 sub-salt
    * cap (the two loss mechanisms the sweep exposes at k = 128 and
    * k = 8 respectively). Expected cell population stays ~constant as
    * the corpus grows, so in-cell pair work stays bounded at any
    * scale. */
  private[graft] def autoCells(n: Long, targetCell: Int = 160): Int =
    math.max(8, ((n + targetCell - 1) / targetCell).toInt)

  /** [[mediaDedupSemantic]] with the quantizer AUTO-SIZED from the
    * corpus count — the form a dedup run should default to (the count
    * is a metadata-cheap scalar probe of the staged vector store; the
    * k-sized index stages once per (k, fixture) like every quantizer).
    * The oracle derives the same k from its own count. */
  def mediaDedupSemanticAuto(spark: SparkSession, dir: String,
                             threshold: Double = 0.995,
                             cap: Int = 256): DataFrame =
    mediaDedupSemantic(spark, dir, threshold,
      kCells = autoCells(mediaVectorStore(spark, dir).count()), cap = cap)

  /** Staged CORPUS-split media vectors (doc_id % 10 < 8 — the
    * incremental fixture convention): the population the semantic
    * index accumulates, featurized once. */
  def mediaSemanticCorpusVectors(spark: SparkSession,
                                 dir: String): DataFrame =
    Staging.stageFrame(spark, s"media_vecs_cor_v1_$dir",
      new java.io.File(dir, "documents.parquet"),
      mediaVectors(assetStore(spark, dir).filter(col("doc_id") % 10 < 8)))

  /** The corpus split's trained semantic index (assignments at dim 16,
    * k = 8 over the accumulated population) and its centroid store —
    * the two artifacts the incremental judge and the ingest lane
    * read. */
  def mediaSemanticCorpusIndexPath(spark: SparkSession, dir: String,
                                   kCells: Int = 8): String =
    graft.ann.IvfStore.stagedAssignments(spark, s"media_sem_cor_v1_$dir",
      new java.io.File(dir, "documents.parquet"),
      mediaSemanticCorpusVectors(spark, dir), kCells, dim = 16)

  def mediaSemanticCorpusCentroids(spark: SparkSession, dir: String,
                                   kCells: Int = 8): DataFrame =
    spark.read.parquet(graft.ann.IvfStore.stagedCentroids(
      s"media_sem_cor_v1_$dir", new java.io.File(dir, "documents.parquet"),
      mediaSemanticCorpusVectors(spark, dir), kCells, dim = 16))

  /** INCREMENTAL semantic media judge (r16 — the lifecycle the r15
    * verdict named as missing: an arriving asset judged semantically
    * against the corpus WITHOUT re-running the full pair enumeration):
    * featurize the arriving batch (`byte_hist16`, the one payload
    * read), assign each vector to its trained cell through the packed
    * one-row centroid broadcast ([[graft.ann.IvfStore.assignBatch]] —
    * the corpus untouched), then exact-cosine-verify ONLY against the
    * STORED assignments of the same cell: one equi-join on `cell`
    * (the stored side is a parquet scan of (vec_id, v, n2, cell) —
    * 16 longs per asset, corpus payloads never re-read), one per-
    * arrival aggregate. No cap is needed — the batch side never
    * self-joins (the [[mediaDedupIncremental64]] posture in embedding
    * space). Verdict per arriving asset: distinct same-cell corpus
    * neighbors at ≥ `threshold`, and `is_new` for the admit gate. */
  def mediaSemanticIncrementalJudge(storeAsg: DataFrame,
                                    incoming: DataFrame,
                                    centsRow: DataFrame,
                                    threshold: Double = 0.995): DataFrame =
    mediaSemanticJudgeAssigned(storeAsg,
      graft.ann.IvfStore.assignBatch(mediaVectors(incoming), centsRow),
      threshold)

  /** The same-cell judge over an ALREADY-assigned batch frame — the
    * shared core, factored (r17) so the media production lane
    * ([[mediaCurateBatch]]) featurizes + assigns ONCE and feeds both
    * this judge and the admitted-assignment append from the same
    * pinned frame. */
  private[graft] def mediaSemanticJudgeAssigned(storeAsg: DataFrame,
                                                arr: DataFrame,
                                                threshold: Double)
  : DataFrame = {
    val matches = arr.select(col("vec_id").as("in_id"),
        col("v").as("iv"), col("n2").as("in2"), col("cell"))
      .join(storeAsg.dropDuplicates("vec_id")
        .select(col("vec_id").as("cor_id"), col("v").as("cv"),
          col("n2").as("cn2"), col("cell")), Seq("cell"))
      .filter(call_function("long_dot", col("iv"), col("cv"))
        .cast("double") /
        (sqrt(col("in2").cast("double")) * sqrt(col("cn2").cast("double")))
        >= threshold)
      .groupBy(col("in_id"))
      .agg(countDistinct(col("cor_id")).as("nd"))
    arr.select(col("vec_id").as("doc_id")).join(
        matches.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).as("n_sem_dups"),
        (coalesce(col("nd"), lit(0L)) === 0L).as("is_new"))
  }

  /** SEMANTIC media benchmark decontamination (r16 — the re-render
    * class [[mediaDecontam]]'s byte signatures structurally miss: a
    * re-encoded benchmark asset shares few byte windows, but its
    * content distribution survives re-encoding): incoming assets
    * featurize once and exact-cosine-judge against EVERY benchmark
    * feature vector. Deliberately NO quantizer on this path: a
    * benchmark set is small by nature (the same fact that lets
    * decontam stores stay static), so the right plan is one broadcast
    * of the benchmark vectors and one narrow pass over the batch —
    * never a trained-cell recall trade on the side where a miss means
    * a leaked eval asset. Whole-asset verdict, the [[mediaDecontam]]
    * layout. */
  def mediaSemanticDecontam(benchAssets: DataFrame, incoming: DataFrame,
                            threshold: Double = 0.995): DataFrame = {
    val bench = mediaVectors(benchAssets)
      .select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("n2").as("bn2"))
    val inc = mediaVectors(incoming)
    val matches = inc.join(broadcast(bench),
        call_function("long_dot", col("v"), col("bv")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("bn2").cast("double"))) >= threshold)
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("b_id")).as("nb"))
    inc.select(col("vec_id").as("doc_id"))
      .join(matches.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_benchmark_sem_matches"),
        (coalesce(col("nb"), lit(0L)) === 0L).as("is_clean"))
  }

  /** RETRO-ACTIVE semantic decontamination sweep — the
    * [[mediaRetroSweep]] direction in embedding space: when the media
    * benchmark gains a DELTA, the already-persisted corpus VECTORS
    * (the staged [[mediaVectorStore]] — 16 longs per asset, payloads
    * never re-read) are re-judged against only the new benchmark
    * material. The delta featurizes once and broadcasts (small by the
    * same benchmark-cadence argument); the store streams through one
    * pass. Verdict per stored asset; the flagged set applies through
    * the same anti-join shape as every refresh. */
  def mediaSemanticRetroSweep(deltaAssets: DataFrame, storeVecs: DataFrame,
                              threshold: Double = 0.995): DataFrame = {
    val delta = mediaVectors(deltaAssets)
      .select(col("vec_id").as("d_id"), col("v").as("dv"),
        col("n2").as("dn2"))
    val store = storeVecs.dropDuplicates("vec_id")
    val matches = store.join(broadcast(delta),
        call_function("long_dot", col("v"), col("dv")).cast("double") /
          (sqrt(col("n2").cast("double")) *
            sqrt(col("dn2").cast("double"))) >= threshold)
      .groupBy(col("vec_id"))
      .agg(countDistinct(col("d_id")).as("nd"))
    store.select(col("vec_id").as("doc_id"))
      .join(matches.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nd"), lit(0L)).cast("int")
          .as("n_delta_sem_matches"),
        (coalesce(col("nd"), lit(0L)) === 0L).as("is_clean"))
  }

  /** A [[mediaSemanticRetroSweep]]'s verdicts made EFFECTIVE on a
    * vector/assignment store FRAME (r17 — the [[mediaRefreshApply]]
    * shape in embedding space, closing the semantic decontam grid ON
    * DISK): flagged assets' rows delete (one broadcast anti-join of
    * the flagged ids — near-empty at benchmark cadence), survivors
    * keep their vectors/assignments verbatim, and the pass sheds
    * at-least-once replay duplicates like compaction does. Works on
    * any (vec_id, ...)-keyed store — the vector store AND the trained
    * assignment store apply the same delete-set. Shared VERBATIM by
    * the on-disk [[mediaSemanticRefreshStore]] and the
    * `media_retro_semantic_refresh` oracle row. */
  def mediaSemanticRefreshApply(store: DataFrame,
                                verdicts: DataFrame): DataFrame =
    store.dropDuplicates("vec_id")
      .join(broadcast(verdicts.filter(!col("is_clean"))
        .select(col("doc_id").as("vec_id"))), Seq("vec_id"), "left_anti")

  /** The media semantic refresh lifecycle CLOSED ON DISK: sweep the
    * persisted vector store at `vecStorePath` against the delta assets
    * (ONE featurize pass over the delta — store payloads never read),
    * then atomically rewrite the vector store AND, when given, the
    * trained assignment store with the flagged assets anti-joined away
    * ([[graft.sinks.StoreMaintenance.rewrite]] — a complete copy on
    * disk at every instant). Both stores hold the same vec_id
    * population, so one verdict frame drives both delete-sets — a
    * flagged asset disappears from the semantic dedup's candidate
    * space AND from the quantizer's serving assignments in one
    * cadence call. Idempotent: a second sweep with the same delta
    * flags vectors already gone, and each store's no-op guard probes
    * the STORE (is any flagged asset still present?), never the
    * flagged set's size (the [[graft.text.QualityStore
    * .refreshCurated]] probe argument). Verdicts pinned BEFORE any
    * rewrite moves the files they derive from. Runs at benchmark
    * cadence. */
  def mediaSemanticRefreshStore(spark: SparkSession, vecStorePath: String,
                                deltaAssets: DataFrame,
                                asgStorePath: String = null,
                                threshold: Double = 0.995): DataFrame = {
    graft.sinks.StoreMaintenance.recover(vecStorePath)
    val verdicts = mediaSemanticRetroSweep(deltaAssets,
      spark.read.parquet(vecStorePath), threshold).localCheckpoint(true)
    val flagged = verdicts.filter(!col("is_clean"))
      .select(col("doc_id").as("vec_id"))
    Seq(vecStorePath, asgStorePath).filter(_ != null).foreach { p =>
      graft.sinks.StoreMaintenance.recover(p)
      val pending = spark.read.parquet(p)
        .join(flagged, Seq("vec_id"), "left_semi")
      if (!pending.isEmpty)
        graft.sinks.StoreMaintenance.rewrite(spark, p)(
          mediaSemanticRefreshApply(_, verdicts))
    }
    verdicts
  }

  /** The incremental semantic judge on the fixture convention: staged
    * corpus index (doc_id % 10 < 8), arriving split the rest. The
    * corpus quantizer is AUTO-SIZED ([[autoCells]] over the corpus
    * count — the measured r16 point: at the fixed k = 8 the judge's
    * same-cell join grew 7× for 10× data as cells fattened; auto-sized
    * cell population stays ~constant, so the per-arrival candidate set
    * does too). At sf0.01 the rule lands on k = 8, so the oracle's
    * count-derived replay and the fixed-k history agree there. */
  def mediaDedupSemanticIncremental(spark: SparkSession, dir: String,
                                    threshold: Double = 0.995): DataFrame = {
    val k = autoCells(mediaSemanticCorpusVectors(spark, dir).count())
    mediaSemanticIncrementalJudge(
      graft.ann.IvfStore.read(spark,
        mediaSemanticCorpusIndexPath(spark, dir, k)),
      assetStore(spark, dir).filter(col("doc_id") % 10 >= 8),
      graft.ann.IvfStore.packedRow(
        mediaSemanticCorpusCentroids(spark, dir, k)), threshold)
  }

  /** The MEDIA PRODUCTION ingest stage (r17 — the one certified
    * composition an arriving ASSET runs, the text family's
    * `curateBatchGridFull` posture for media: until now byte near-dup,
    * semantic near-dup, byte decontam, and semantic decontam were four
    * separate lanes an operator had to sequence by convention): per
    * batch of (doc_id, payload) rows, ONE signing pass and ONE
    * featurize pass (the only payload reads), then FOUR independent
    * judges as a conjunction —
    *
    *   - byte benchmark decontam: signatures vs the static benchmark
    *     sig store (drifting re-encodes of eval assets);
    *   - semantic benchmark decontam: vectors vs the broadcast
    *     benchmark vectors (re-renders sharing no byte windows);
    *   - byte near-dup: signatures vs the corpus [[MediaSigStore]]
    *     scan (the accumulated admissions);
    *   - semantic near-dup: vectors cell-assigned against the stored
    *     quantizer and exact-cosine-judged within their cell against
    *     the corpus assignment store.
    *
    * An asset admits iff ALL four judges clear; the verdict carries
    * each judge's count so a rejection's reason is recoverable. A
    * sub-window asset (< 4 payload bytes — unsignable AND
    * unfeaturizable) passes through admitted-unjudged, the
    * [[graft.streaming.StreamingLanes.mediaSigStoreLane]] convention.
    * Returns (verdict, admitted signatures, admitted assignments):
    * the lane appends the last two to the byte-sig and assignment
    * stores, so later batches judge against everything this one
    * admitted — in BOTH spaces. All three frames derive from eagerly
    * pinned state (batch signatures, batch assignments, the verdict
    * itself), so the appends cannot feed back into the judge plans.
    *
    * Scale shape: two payload passes over the BATCH only (corpus
    * payloads never read), two corpus-store scans of narrow rows
    * (8 bytes/asset; 16 longs + cell/asset), two benchmark-side
    * bounded broadcasts, one packed-centroid argmin pass. No corpus
    * exchange anywhere. */
  private[graft] def mediaCurateBatch(
      benchSigs: DataFrame, benchVecs: DataFrame, esigs: DataFrame,
      storeAsg: DataFrame, centsRow: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, threshold: Double = 0.995,
      eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame) = {
    import graft.text.NearDup
    // `eager = false` (r18): the batch TWIN consumes one output in one
    // action over read-only fixture stores — the pins stay (each frame
    // feeds several judges) but defer materialization to that action,
    // one job instead of one per stage. The lane keeps the eager
    // default: its appends must not feed back into the judge plans.
    val isigs = mediaSigs64(batch).localCheckpoint(eager)
    val vecs = mediaVectors(batch).localCheckpoint(eager)
    val arr = graft.ann.IvfStore.assignBatch(vecs, centsRow)
      .localCheckpoint(eager)
    val byteDedup = NearDup.simhashIncremental64BothSigs(
      esigs, isigs, maxHamming)
      .select(col("doc_id"), col("n_dups"),
        col("is_new").as("byte_new"))
    val semDedup = mediaSemanticJudgeAssigned(storeAsg, arr, threshold)
      .select(col("doc_id"), col("n_sem_dups"),
        col("is_new").as("sem_new"))
    val byteDecontam = NearDup.simhashIncremental64BothSigs(
      benchSigs, isigs, maxHamming)
      .select(col("doc_id"), col("n_dups").as("n_benchmark_matches"),
        col("is_new").as("byte_clean"))
    val semDecontam = graft.ann.Similarity.semJudgeSmallSet(
      benchVecs, vecs, threshold, "n_benchmark_sem_matches")
      .select(col("vec_id").as("doc_id"),
        col("n_benchmark_sem_matches"),
        col("is_clean").as("sem_clean"))
    val verdict = batch.select(col("doc_id"))
      .join(byteDedup, Seq("doc_id"), "left")
      .join(semDedup, Seq("doc_id"), "left")
      .join(byteDecontam, Seq("doc_id"), "left")
      .join(semDecontam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0)).as("n_dups"),
        coalesce(col("n_sem_dups"), lit(0L)).as("n_sem_dups"),
        coalesce(col("n_benchmark_matches"), lit(0))
          .as("n_benchmark_matches"),
        coalesce(col("n_benchmark_sem_matches"), lit(0L))
          .as("n_benchmark_sem_matches"),
        (coalesce(col("byte_new"), lit(true)) &&
          coalesce(col("sem_new"), lit(true)) &&
          coalesce(col("byte_clean"), lit(true)) &&
          coalesce(col("sem_clean"), lit(true))).as("is_new"))
      .localCheckpoint(eager)
    // twin mode: one materializing job for all four deferred pins (the
    // verdict's lineage covers isigs/vecs/arr) — see Curation.curateCore
    if (!eager) verdict.count()
    val admitted = verdict.filter(col("is_new")).select(col("doc_id"))
    (verdict,
      isigs.join(admitted, "doc_id"),
      arr.join(admitted.select(col("doc_id").as("vec_id")), "vec_id"))
  }

  /** The batch TWIN of the media production lane on the fixture
    * convention (corpus stores = doc_id % 10 < 8 staged in both
    * spaces, benchmark = doc_id < 10, batch = the rest): one
    * [[mediaCurateBatch]] invocation, output = the four-judge verdict
    * the lane would act on. The DuckDB oracle replays all four judges
    * and the conjunction end to end. */
  def mediaLaneFullTwin(spark: SparkSession, dir: String): DataFrame = {
    val store = assetStore(spark, dir)
    val k = autoCells(mediaSemanticCorpusVectors(spark, dir).count())
    mediaCurateBatch(
      MediaSigStore.read(spark,
        MediaSigStore.fixtureBenchmarkStore(spark, dir)),
      mediaVectors(store.filter(col("doc_id") < 10)),
      MediaSigStore.read(spark,
        MediaSigStore.fixtureCorpusStore(spark, dir)),
      graft.ann.IvfStore.read(spark,
        mediaSemanticCorpusIndexPath(spark, dir, k)),
      graft.ann.IvfStore.packedRow(
        mediaSemanticCorpusCentroids(spark, dir, k)),
      store.filter(col("doc_id") % 10 >= 8), eager = false)._1
      .orderBy(col("doc_id"))
  }

  /** POST-RETRAIN semantic RE-AUDIT (r17 — the admit-under-stale-index
    * seam closed for the media vector store, the [[graft.text.LmStore
    * .floorsChecked]] argument applied to cell structure): a managed
    * lane's retrain ([[graft.ann.IvfMaintenance.retrainIfStale]])
    * moves cell boundaries, and assets ADMITTED under the old
    * centroids were judged only against their old cell's neighbors —
    * a pair that straddled an old boundary but shares a NEW cell was
    * never compared. This re-judges the whole persisted store under
    * the CURRENT centroids: stored vectors re-assign in one argmin
    * pass (16 longs per asset — payloads never re-read) and
    * exact-cosine pair-verify within their new cells through the
    * family's capped core. Runs at retrain cadence, immediately after
    * a swap; emitted pairs are the delete-set an operator applies
    * with the usual keeper election. Replayed-append duplicate rows
    * dedup first (the [[cappedPairsWithin]] unique-id
    * precondition). */
  def mediaSemanticReaudit(storeAsg: DataFrame, centsRow: DataFrame,
                           threshold: Double = 0.995,
                           cap: Int = 256): DataFrame =
    graft.ann.Similarity.cappedPairsWithin(
      graft.ann.IvfStore.assignBatch(
        storeAsg.dropDuplicates("vec_id")
          .select(col("vec_id"), col("v"), col("n2")), centsRow)
        .select(col("vec_id"), col("v"), col("n2"),
          col("cell").as("bucket")),
      threshold, cap)

  /** EMBEDDING-SPACE media near-dup — the SemDeDup recipe composed
    * onto the media feature vectors, closing the gap the byte-hash
    * family leaves: [[mediaDedupNear64]] catches drifting RE-ENCODES
    * (local byte edits flip few signature bits) but misses content
    * duplicates whose byte streams share nothing (a re-render, a
    * different codec of the same content — in real pipelines caught
    * by embedding-space near-dup, byte hashes structurally cannot).
    * Candidates pair only within the same TRAINED k-means cell of the
    * feature space, exact-cosine-verified at `threshold`, through the
    * SAME late-materialized capped core as the text/embedding family
    * ([[graft.ann.Similarity.cappedPairsWithin]] — skinny
    * (vec_id, cell, salt) rows through the pair self-join, vectors
    * re-join by id post-enumeration; degenerate cells sub-salt at
    * `cap`). The plan is a parquet scan of two staged stores — the
    * featurized corpus and its trained assignments — composed by one
    * projection: payloads are read by neither.
    *
    * Threshold 0.995 is MEASURED, not guessed: the low-nibble
    * histogram's random-pair cosine distribution on the fixture is
    * p50 ≈ 0.977 / p99 ≈ 0.995 ([[graft.functions.ByteHist16]]), so
    * 0.995 marks the ~top-1% most content-similar pairs. */
  def mediaDedupSemantic(spark: SparkSession, dir: String,
                         threshold: Double = 0.995, kCells: Int = 8,
                         cap: Int = 256): DataFrame =
    graft.ann.Similarity.cappedPairsWithin(
      graft.ann.IvfStore.read(spark, mediaSemanticIndexPath(spark, dir,
        kCells))
        .select(col("vec_id"), col("v"), col("n2"),
          col("cell").as("bucket")),
      threshold, cap)

  /** Connected components over the media Hamming≤`maxHamming` near-dup
    * graph — the transitive-family view the TEXT family has had since
    * r9 ([[graft.text.NearDup.simhashClusters64]]), now on the byte
    * signature: banded pairs ([[mediaDedupNear64]], never all-pairs)
    * become edges, the SAME min-label fixpoint assigns one cluster id
    * per family of drifting re-encodes (v1 → crop → re-crop), and every
    * signable singleton is its own keeper. The universe is the
    * signable population (byte_len ≥ 4 — sub-window assets carry no
    * dense signature and no edges by construction). Payloads are read
    * exactly once, by the signature pass; the fixpoint moves only
    * (doc_id, label) longs. */
  def mediaClusters64(store: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit bands guarantee recall to Hamming 3; maxHamming=$maxHamming would be silently incomplete")
    // ONE signing pass: the eager checkpoint pins (doc_id, simhash64) —
    // 8 bytes/asset — so the edge derivation and the singleton-rejoin
    // universe both read the tiny signed frame, and payload bytes are
    // scanned exactly once (two lazy consumers would each re-scan them)
    val sigs = mediaSigs64(store).localCheckpoint(true)
    graft.text.NearDup.dedupClustersFromEdges(
      sigs.select(col("doc_id")),
      graft.text.NearDup.bandedHammingPairs(
        sigs.withColumnRenamed("simhash64", "sig"),
        nBands = 4, bandBits = 16, maxHamming, maxBucket = 256)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
  }

  // per-(session, fixture) memo: the fixpoint is eager (an iterative
  // plan cannot be one lazy tree) — bench laps and repeated verify
  // calls reuse the converged labels, as the text clusters do
  private val mediaClusterMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def fixtureMediaClusters(s: SparkSession, d: String): DataFrame = {
    mediaClusterMemo.keys.filter(_._1.sparkContext.isStopped)
      .foreach(mediaClusterMemo.remove)
    mediaClusterMemo.getOrElseUpdate((s, d),
      mediaClusters64(assetStore(s, d)))
  }

  private val mt =
    "(['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)]"
  // UTF-8 BYTE semantics, not characters: the engine's payload is the
  // UTF-8 encoding of `text`, so byte_len is octet_length and the
  // checksum is the unsigned-byte sum, recovered from hex(encode(text))
  // two nibbles at a time. Empty payloads are guarded (engine yields 0).
  private val bLen = "octet_length(encode(text))"
  private val byteSum =
    s"""list_sum(list_transform(generate_series(1, $bLen),
       |  i -> (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i-1, 1)) - 1) * 16
       |     + (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i, 1)) - 1)))""".stripMargin

  /** The `byte_simhash32` mix replayed in BIGINT arithmetic: byte values
    * recovered from the uppercase hex encoding two nibbles at a time
    * (the [[byteSum]] pattern), big-endian 4-byte window value, two
    * multiplicative-mix rounds (exact below 2^62 — the kernel's design
    * constraint), bit-majority votes. */
  private def nib(j: String) =
    s"(strpos('0123456789ABCDEF', substr(hex(encode(text)), $j, 1)) - 1)"
  private def byteAt(i: String) =
    s"(${nib(s"2*($i)-1")} * 16 + ${nib(s"2*($i)")})"
  private def mixExprWith(c: Long) = {
    val v = s"(${byteAt("i")} * 16777216 + ${byteAt("i+1")} * 65536" +
      s" + ${byteAt("i+2")} * 256 + ${byteAt("i+3")})"
    s"((((($v * $c) & 4294967295) * $c) & 4294967295))"
  }
  private val mixExpr = mixExprWith(741103597L)
  private val mix2Expr = mixExprWith(1597334677L)
  private val byteSimTerms = (0 to 31).map { k =>
    s"""CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $k) & 1) = 1))
       |  > len(hs) THEN ${1L << k} ELSE 0 END""".stripMargin
  }.mkString(" + ")

  /** The 64-bit kernel's votes: bits 0..31 from the h1 (Mix1) hash list,
    * 32..63 from h2 (Mix2); bit 64's term is -2^63 (the signed-long
    * two's-complement value, as in the text family's simhash64 oracle). */
  private val byteSim64Terms = (1 to 64).map { k =>
    val (lst, bit) = if (k <= 32) ("h1", k - 1) else ("h2", k - 33)
    val value =
      if (k == 64) "(-9223372036854775807 - 1)" else (1L << (k - 1)).toString
    s"""CASE WHEN 2 * len(list_filter($lst, h -> ((h >> $bit) & 1) = 1))
       |  > len($lst) THEN $value ELSE 0 END""".stripMargin
  }.mkString(" + ")

  /** The batch-vs-corpus media oracle, shared by the in-session and
    * STAGED variants (the store only changes where the corpus
    * signatures come from — the text family's
    * `simhash64IncrementalOracle` precedent, on the byte-window
    * signature): both mixes replayed in BIGINT, 4×16-bit arithmetic
    * bands, Hamming ≤ 3 gate, count DISTINCT corpus matches per
    * incoming asset. No sub-salt cap — the incremental engine form has
    * none (the batch side is broadcast, never self-joined). */
  private def mediaSim64SplitCtes(exPred: String,
                                  incPred: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $bLen - 3),
       |      i -> $mixExpr) AS h1,
       |    list_transform(generate_series(1, $bLen - 3),
       |      i -> $mix2Expr) AS h2
       |  FROM documents WHERE $bLen >= 4),
       |sg AS (
       |  SELECT doc_id, CAST($byteSim64Terms AS BIGINT) AS sig FROM sh),
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
       |  GROUP BY inc_id)""".stripMargin

  private def mediaSim64SplitOracle(exPred: String, incPred: String,
                                    ndName: String, newName: String): String =
    s"""WITH ${mediaSim64SplitCtes(exPred, incPred)}
       |SELECT d.doc_id, CAST(coalesce(v.nd, 0) AS INTEGER) AS $ndName,
       |  coalesce(v.nd, 0) = 0 AS $newName
       |FROM sg d LEFT JOIN ver v ON v.inc_id = d.doc_id
       |WHERE $incPred
       |ORDER BY d.doc_id""".stripMargin

  /** The refresh APPLIED, replayed: surviving (doc_id, simhash64) store
    * rows — the judged population minus the delta's flagged assets. */
  private def mediaRetroRefreshOracle(exPred: String,
                                      incPred: String): String =
    s"""WITH ${mediaSim64SplitCtes(exPred, incPred)}
       |SELECT d.doc_id, d.sig AS simhash64
       |FROM sg d LEFT JOIN ver v ON v.inc_id = d.doc_id
       |WHERE ($incPred) AND coalesce(v.nd, 0) = 0
       |ORDER BY d.doc_id""".stripMargin

  private lazy val mediaSim64IncrementalOracle: String =
    mediaSim64SplitOracle("doc_id % 10 < 8", "doc_id % 10 >= 8",
      "n_dups", "is_new")

  /** Shared CTE chain for every 64-bit media SimHash oracle: both mixes
    * in BIGINT, signature votes, 4×16-bit arithmetic bands, the
    * family-shared sub-salt cap — ends at `s_salted` (plus `sg`, the
    * signable population). The pair view and the clusters view differ
    * only in their final SELECT, exactly like the engine plans. */
  private def mediaPair64CtesLayout(layout: Seq[(Int, Int)],
                                    where: String = ""): String = {
    // band rendering shared with every text-family oracle — one place
    // derives the shift/mask arithmetic from a bandLayout
    val bandSelects = graft.text.NearDup.bandSelectsSql(layout)
    s"""sh AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $bLen - 3),
       |      i -> $mixExpr) AS h1,
       |    list_transform(generate_series(1, $bLen - 3),
       |      i -> $mix2Expr) AS h2
       |  FROM documents WHERE $bLen >= 4${
      if (where.isEmpty) "" else s" AND ($where)"}),
       |sg AS (
       |  SELECT doc_id, CAST($byteSim64Terms AS BIGINT) AS sig FROM sh),
       |sbands AS (
       |  $bandSelects),
       |s_over AS (
       |  SELECT band, bval, count(*) AS bn FROM sbands GROUP BY band, bval
       |  HAVING count(*) > 256),
       |s_salted AS (
       |  SELECT sbands.doc_id, sbands.sig, sbands.band, sbands.bval,
       |    CASE WHEN o.bn IS NULL THEN 0
       |         ELSE (${graft.text.NearDup.saltHashSql("sbands.doc_id")})
       |           % ((o.bn + 255) // 256)
       |    END AS salt
       |  FROM sbands LEFT JOIN s_over o
       |    ON sbands.band = o.band AND sbands.bval = o.bval)""".stripMargin
  }

  private lazy val mediaPair64Ctes: String =
    mediaPair64CtesLayout((0 until 4).map(i => (16 * i, 16)))

  /** The 16-bin low-nibble histogram replayed from the hex payload
    * encoding: the low nibble of byte i is hex character 2i. */
  private lazy val lowNibbleHistSql: String =
    s"""list_transform(generate_series(0, 15),
       |  k -> CAST(len(list_filter(generate_series(1, $bLen),
       |    i -> ${nib("2*i")} = k)) AS BIGINT))""".stripMargin

  /** The semantic judge-vs-broadcast-set CTE chain shared by the
    * verdict replay and the refresh replay: featurize both splits
    * (low-nibble histogram from hex), exact cosine ≥ 0.995 between
    * every (judged, judge) pair, distinct judge ids per judged asset
    * — ends at `mt(vec_id, nb)` plus the judged population `dm`. */
  private def mediaSemJudgeCtes(judgePred: String,
                                judgedPred: String): String = {
    def cos(a: String, b: String, an2: String, bn2: String) =
      s"""CAST(list_sum(list_transform(generate_series(1, len($a)),
         |    k -> $a[k] * $b[k])) AS DOUBLE)
         |  / (sqrt(CAST($an2 AS DOUBLE)) * sqrt(CAST($bn2 AS DOUBLE)))"""
        .stripMargin
    s"""jn AS (
       |  SELECT doc_id AS b_id, $lowNibbleHistSql AS bv
       |  FROM documents WHERE $bLen >= 4 AND ($judgePred)),
       |jm AS (
       |  SELECT b_id, bv,
       |    list_sum(list_transform(generate_series(1, len(bv)),
       |      i -> bv[i] * bv[i])) AS bn2
       |  FROM jn),
       |dn AS (
       |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
       |  FROM documents WHERE $bLen >= 4 AND ($judgedPred)),
       |dm AS (
       |  SELECT vec_id, v,
       |    list_sum(list_transform(generate_series(1, len(v)),
       |      i -> v[i] * v[i])) AS n2
       |  FROM dn),
       |mt AS (
       |  SELECT d.vec_id, count(DISTINCT j.b_id) AS nb
       |  FROM dm d JOIN jm j
       |    ON ${cos("d.v", "j.bv", "d.n2", "j.bn2")} >= 0.995
       |  GROUP BY d.vec_id)""".stripMargin
  }

  /** The judge's verdict replay: every judged asset's distinct judge
    * match count, NULL-match rows kept clean. */
  private def mediaSemJudgeOracle(judgePred: String, judgedPred: String,
                                  cntName: String,
                                  cntType: String): String =
    s"""WITH ${mediaSemJudgeCtes(judgePred, judgedPred)}
       |SELECT d.vec_id AS doc_id,
       |  CAST(coalesce(mt.nb, 0) AS $cntType) AS $cntName,
       |  coalesce(mt.nb, 0) = 0 AS is_clean
       |FROM dm d LEFT JOIN mt ON mt.vec_id = d.vec_id
       |ORDER BY doc_id""".stripMargin

  /** The refresh APPLIED, replayed: the judged store population minus
    * every asset with a delta match — survivors with their exact
    * squared norms (the frame a rewritten vector store serves). */
  private def mediaSemRefreshOracle(judgePred: String,
                                    judgedPred: String): String =
    s"""WITH ${mediaSemJudgeCtes(judgePred, judgedPred)}
       |SELECT d.vec_id AS doc_id, CAST(d.n2 AS BIGINT) AS n2
       |FROM dm d
       |WHERE d.vec_id NOT IN (SELECT vec_id FROM mt)
       |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("media_dedup", (s, d) => mediaDedup(assetStore(s, d)),
      // md5 over the lowercase-hex payload: Spark's hex(binary) is
      // uppercase, DuckDB's hex(blob) too — lower() canonicalizes both,
      // and md5 of that ASCII string is engine-independent
      s"""SELECT md5(lower(hex(encode(text)))) AS content_hash,
         |CAST(count(*) AS BIGINT) AS n_copies,
         |min(doc_id) AS keeper_id,
         |CAST(count(DISTINCT $mt) AS BIGINT) AS n_types,
         |CAST(sum($bLen) AS BIGINT) AS bytes_total
         |FROM documents GROUP BY 1
         |ORDER BY content_hash""".stripMargin),

    // transitive near-dup families over the Hamming<=3 media pair graph
    QuerySpec("media_clusters64", (s, d) => fixtureMediaClusters(s, d),
      // min-label components over the media Hamming<=3 pair graph,
      // replayed as recursive reachability over the signable population —
      // the text family's dedup_simhash64_clusters shape on byte sigs
      s"""WITH RECURSIVE $mediaPair64Ctes,
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
         |  SELECT doc_id, doc_id FROM sg
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |clusters AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id, cluster_id = doc_id AS is_keeper
         |FROM clusters ORDER BY doc_id""".stripMargin),
    QuerySpec("media_dedup_near", (s, d) => mediaDedupNear(assetStore(s, d)),
      // dense 4-byte-window SimHash replayed exactly; the banded candidate
      // join is the naive OR of the two 16-bit band agreements (same pair
      // set as the engine's distinct'd banded union)
      s"""WITH sh AS (
         |  SELECT doc_id, list_transform(
         |    generate_series(1, $bLen - 3),
         |    i -> $mixExpr) AS hs
         |  FROM documents WHERE $bLen >= 4),
         |sg AS (
         |  SELECT doc_id, CAST($byteSimTerms AS BIGINT) AS sig FROM sh)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  AND ((a.sig >> 16) = (b.sig >> 16) OR (a.sig & 65535) = (b.sig & 65535))
         |WHERE bit_count(xor(a.sig, b.sig)) <= 2
         |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("media_dedup_near64", (s, d) =>
      mediaDedupNear64(assetStore(s, d)),
      // the 64-bit banded pair view with the shared sub-salt cap: both
      // mixes replayed in BIGINT arithmetic, 4×16-bit arithmetic bands
      // (DuckDB >> is arithmetic like Spark's shiftright — the negative
      // sign-bit signature bands identically masked), cap salt shared
      // with the LSH/text-SimHash families
      s"""WITH $mediaPair64Ctes
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s_salted a JOIN s_salted b
         |  ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // radius-derived banding at Hamming<=7 — the deep-radius escalation
    // the fixed 4x16-bit form refuses
    QuerySpec("media_dedup_near64_h7", (s, d) =>
      mediaDedupNear64Radius(assetStore(s, d), maxHamming = 7),
      // radius-derived 8x8-bit banding at Hamming<=7 — the oracle takes
      // the SAME bandLayout output as the engine plan
      s"""WITH ${mediaPair64CtesLayout(graft.text.NearDup.bandLayout(7))}
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s_salted a JOIN s_salted b
         |  ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 7
         |ORDER BY id_a, id_b""".stripMargin),

    // the deep audit served FROM THE STORE: re-bands persisted 8-byte
    // signatures (doc_id % 10 < 8 population) — zero payload reads
    QuerySpec("media_dedup_near64_h7_staged", (s, d) =>
      mediaDedupNear64RadiusFromSigs(
        MediaSigStore.read(s, MediaSigStore.fixtureCorpusStore(s, d)),
        maxHamming = 7),
      // store-served twin: radius-7 banding over the PERSISTED population
      // only (doc_id % 10 < 8) — engine reads 8-byte signatures, oracle
      // re-derives them from payload bytes
      s"""WITH ${mediaPair64CtesLayout(graft.text.NearDup.bandLayout(7),
        where = "doc_id % 10 < 8")}
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM s_salted a JOIN s_salted b
         |  ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 7
         |ORDER BY id_a, id_b""".stripMargin),

    // batch-vs-corpus media ingestion dedup on the incremental fixture
    // convention (accumulated = doc_id % 10 < 8) — corpus signed
    // in-session
    QuerySpec("media_dedup_near64_incremental", (s, d) => {
      val store = assetStore(s, d)
      mediaDedupIncremental64(
        mediaSigs64(store.filter(col("doc_id") % 10 < 8)),
        store.filter(col("doc_id") % 10 >= 8))
    },
      mediaSim64IncrementalOracle),
    // identical semantics from the PERSISTED signature store — the
    // corpus side is a parquet scan of (doc_id, simhash64) longs;
    // corpus payloads never re-read
    QuerySpec("media_dedup_near64_staged", (s, d) =>
      mediaDedupIncremental64(
        MediaSigStore.read(s, MediaSigStore.fixtureCorpusStore(s, d)),
        assetStore(s, d).filter(col("doc_id") % 10 >= 8)),
      mediaSim64IncrementalOracle),
    // media benchmark decontamination: incoming split judged against
    // the STATIC staged benchmark signature store (doc_id < 10)
    QuerySpec("media_decontam", (s, d) =>
      mediaDecontam(
        MediaSigStore.read(s, MediaSigStore.fixtureBenchmarkStore(s, d)),
        assetStore(s, d).filter(col("doc_id") % 10 >= 8)),
      // decontamination split: the benchmark assets (doc_id < 10) are the
      // judge side, the incoming split the judged — staged-store
      // precedent (the oracle re-derives the benchmark signatures)
      mediaSim64SplitOracle("doc_id < 10",
      "doc_id % 10 >= 8", "n_benchmark_matches", "is_clean")),
    // benchmark-REFRESH sweep: the persisted corpus signature store
    // judged against ONLY the staged delta (doc_id in [5,10)) — zero
    // payload reads on either side
    QuerySpec("media_retro", (s, d) => mediaRetroSweep(
      MediaSigStore.read(s, MediaSigStore.fixtureBenchmarkDeltaStore(s, d)),
      MediaSigStore.read(s, MediaSigStore.fixtureCorpusStore(s, d))),
      // benchmark-refresh sweep: the delta assets (doc_id in [5,10)) are
      // the judge side, the persisted corpus population the judged —
      // the same shared split oracle with the roles transposed
      mediaSim64SplitOracle(
      "doc_id >= 5 AND doc_id < 10", "doc_id % 10 < 8",
      "n_delta_matches", "is_clean")),
    // the refresh APPLIED (pure frame form of mediaRefreshStore):
    // surviving store rows after the delta's flagged assets delete
    QuerySpec("media_retro_refresh", (s, d) => {
      val store = MediaSigStore.read(s,
        MediaSigStore.fixtureCorpusStore(s, d))
      mediaRefreshApply(store, mediaRetroSweep(
        MediaSigStore.read(s,
          MediaSigStore.fixtureBenchmarkDeltaStore(s, d)), store))
    },
      mediaRetroRefreshOracle(
      "doc_id >= 5 AND doc_id < 10", "doc_id % 10 < 8")),
    // embedding-space media near-dup: trained cells over the staged
    // 16-dim feature vectors, exact cosine verify at the measured
    // top-1% threshold — the re-render/cross-codec duplicate class the
    // byte-signature family structurally misses
    QuerySpec("media_dedup_semantic", (s, d) => mediaDedupSemantic(s, d),
      // the trained-cell semantic partition on the MEDIA feature vectors:
      // byte_hist16 replayed from hex, the shared Lloyd chain (seeds
      // vec_id < 8, 2 exact-integer iterations, dim 16), assignment, the
      // family cap salt, within-cell exact-cosine pairs at 0.995
      s"""WITH n AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |${graft.ann.Similarity.seedCteK(8)},
         |${graft.ann.Similarity.lloydCtes("msem", "m")},
         |${graft.ann.Similarity.assignCte("msemav", "m", "msems1")},
         |ov AS (
         |  SELECT cell, count(*) AS bn FROM msemav GROUP BY cell
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT msemav.vec_id, msemav.v, msemav.n2, msemav.cell,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("msemav.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM msemav LEFT JOIN ov USING (cell))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.cell = b.cell AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |  >= 0.995
         |ORDER BY id_a, id_b""".stripMargin),

    // the AUTO-SIZED quantizer — what a dedup run should default to:
    // k from the corpus count at the sweep's measured peak density
    // (~160 vectors/cell); k = 8 above stays as the sweep's
    // comparison point
    QuerySpec("media_dedup_semantic_auto", (s, d) =>
      mediaDedupSemanticAuto(s, d),
      // the auto-sized quantizer: k derived from the oracle's OWN count
      // (GREATEST(8, ceil(n/160)) — the engine's autoCells rule), seeds
      // as the k LOWEST vec_ids by rank (the trainCentroids contract,
      // id-space-agnostic), then the same Lloyd/assign/salt/pair chain
      s"""WITH n AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |kc AS (
         |  SELECT GREATEST(8, CAST(CEIL(count(*) / 160.0) AS INTEGER))
         |    AS k FROM n),
         |s0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cell, v AS c,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS c2
         |  FROM n, kc
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= kc.k),
         |${graft.ann.Similarity.lloydCtes("msau", "m")},
         |${graft.ann.Similarity.assignCte("msauav", "m", "msaus1")},
         |ov AS (
         |  SELECT cell, count(*) AS bn FROM msauav GROUP BY cell
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT msauav.vec_id, msauav.v, msauav.n2, msauav.cell,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("msauav.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM msauav LEFT JOIN ov USING (cell))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.cell = b.cell AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |  >= 0.995
         |ORDER BY id_a, id_b""".stripMargin),

    // the semantic lifecycle's incremental direction: arriving assets
    // featurized + cell-assigned against the STORED quantizer, exact-
    // cosine-judged only within their cell — corpus payloads never
    // re-read, no pair re-enumeration
    QuerySpec("media_dedup_semantic_incremental", (s, d) =>
      mediaDedupSemanticIncremental(s, d).orderBy(col("doc_id")),
      // the incremental judge replayed: corpus quantizer trained on the
      // % 10 < 8 split at the AUTO-derived k (count-derived, rank-based
      // seeds — at sf0.01 the rule lands on k = 8), corpus + batch
      // assigned against the SAME trained centroids, same-cell exact
      // cosine at 0.995, distinct corpus neighbors per arrival
      s"""WITH n AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4 AND doc_id % 10 < 8),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |kc AS (
         |  SELECT GREATEST(8, CAST(CEIL(count(*) / 160.0) AS INTEGER))
         |    AS k FROM n),
         |s0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cell, v AS c,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS c2
         |  FROM n, kc
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= kc.k),
         |${graft.ann.Similarity.lloydCtes("msin", "m")},
         |${graft.ann.Similarity.assignCte("msinav", "m", "msins1")},
         |bn AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4 AND doc_id % 10 >= 8),
         |bm AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM bn),
         |${graft.ann.Similarity.assignCte("msinbv", "bm", "msins1")},
         |mt AS (
         |  SELECT b.vec_id, count(DISTINCT a.vec_id) AS nd
         |  FROM msinbv b JOIN msinav a ON a.cell = b.cell
         |  WHERE CAST(list_sum(list_transform(generate_series(1, len(b.v)),
         |      i -> b.v[i] * a.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |    >= 0.995
         |  GROUP BY b.vec_id)
         |SELECT b.vec_id AS doc_id,
         |  CAST(coalesce(mt.nd, 0) AS BIGINT) AS n_sem_dups,
         |  coalesce(mt.nd, 0) = 0 AS is_new
         |FROM bm b LEFT JOIN mt ON mt.vec_id = b.vec_id
         |ORDER BY doc_id""".stripMargin),

    // semantic benchmark decontamination: the incoming split judged by
    // exact cosine against the (small, broadcast) benchmark vectors —
    // the re-encoded-benchmark class byte signatures miss
    QuerySpec("media_decontam_semantic", (s, d) =>
      mediaSemanticDecontam(
        assetStore(s, d).filter(col("doc_id") < 10),
        assetStore(s, d).filter(col("doc_id") % 10 >= 8))
        .orderBy(col("doc_id")),
      // the semantic judge-vs-small-set shape shared by benchmark
      // decontamination (judge = bench, judged = incoming) and the
      // benchmark-refresh sweep (judge = delta, judged = the corpus
      // store population): byte_hist16 from hex on both sides, exact
      // cosine at 0.995, distinct judge matches per judged asset
      mediaSemJudgeOracle(
      "doc_id < 10", "doc_id % 10 >= 8",
      "n_benchmark_sem_matches", "BIGINT")),
    // the benchmark-REFRESH direction in embedding space: the staged
    // corpus vector store re-judged against only the delta assets
    // (doc_id in [5,10)) — payloads read on neither side beyond the
    // delta's one featurize pass
    QuerySpec("media_retro_semantic", (s, d) =>
      mediaSemanticRetroSweep(
        assetStore(s, d).filter(col("doc_id") >= 5 && col("doc_id") < 10),
        mediaSemanticCorpusVectors(s, d))
        .orderBy(col("doc_id")),
      mediaSemJudgeOracle(
      "doc_id >= 5 AND doc_id < 10", "doc_id % 10 < 8",
      "n_delta_sem_matches", "INTEGER")),
    // the semantic refresh APPLIED (r17 — the pure frame form of
    // mediaSemanticRefreshStore's rewrite): the surviving corpus
    // vector-store rows after the delta's flagged assets anti-join
    // away — the delete-set both persisted stores (vectors +
    // assignments) apply at benchmark cadence
    QuerySpec("media_retro_semantic_refresh", (s, d) =>
      mediaSemanticRefreshApply(
        mediaSemanticCorpusVectors(s, d),
        mediaSemanticRetroSweep(
          assetStore(s, d)
            .filter(col("doc_id") >= 5 && col("doc_id") < 10),
          mediaSemanticCorpusVectors(s, d)))
        .select(col("vec_id").as("doc_id"), col("n2"))
        .orderBy(col("doc_id")),
      mediaSemRefreshOracle(
      "doc_id >= 5 AND doc_id < 10", "doc_id % 10 < 8")),

    // the MEDIA PRODUCTION lane's batch twin (r17): byte + semantic
    // near-dup store judges AND byte + semantic benchmark decontam as
    // ONE four-judge conjunction per arriving asset
    QuerySpec("media_lane_full_twin", (s, d) => mediaLaneFullTwin(s, d),
      // the media production lane's four-judge conjunction replayed end
      // to end: ONE byte-signature derivation banded three ways (corpus
      // store, benchmark store, batch), the auto-k semantic quantizer
      // over the corpus split with corpus + batch assigned against the
      // SAME trained centroids, the broadcast benchmark vectors — every
      // judge an existing oracle fragment, composed per batch asset
      s"""WITH msh AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, $bLen - 3),
         |      i -> $mixExpr) AS h1,
         |    list_transform(generate_series(1, $bLen - 3),
         |      i -> $mix2Expr) AS h2
         |  FROM documents WHERE $bLen >= 4),
         |msg AS MATERIALIZED (
         |  SELECT doc_id, CAST($byteSim64Terms AS BIGINT) AS sig
         |  FROM msh),
         |meb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM msg WHERE doc_id % 10 < 8")
        .mkString("\n  UNION ALL\n  ")}),
         |mbb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM msg WHERE doc_id < 10")
        .mkString("\n  UNION ALL\n  ")}),
         |mib AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM msg WHERE doc_id % 10 >= 8")
        .mkString("\n  UNION ALL\n  ")}),
         |mver AS MATERIALIZED (
         |  SELECT inc_id, count(DISTINCT ex_id) AS nd FROM (
         |    SELECT DISTINCT e.doc_id AS ex_id, i.doc_id AS inc_id,
         |      e.sig AS esig, i.sig AS isig
         |    FROM meb e JOIN mib i
         |      ON e.band = i.band AND e.bval = i.bval)
         |  WHERE bit_count(xor(esig, isig)) <= 3
         |  GROUP BY inc_id),
         |mbver AS MATERIALIZED (
         |  SELECT inc_id, count(DISTINCT ex_id) AS nd FROM (
         |    SELECT DISTINCT e.doc_id AS ex_id, i.doc_id AS inc_id,
         |      e.sig AS esig, i.sig AS isig
         |    FROM mbb e JOIN mib i
         |      ON e.band = i.band AND e.bval = i.bval)
         |  WHERE bit_count(xor(esig, isig)) <= 3
         |  GROUP BY inc_id),
         |n AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4 AND doc_id % 10 < 8),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |kc AS (
         |  SELECT GREATEST(8, CAST(CEIL(count(*) / 160.0) AS INTEGER))
         |    AS k FROM n),
         |s0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cell, v AS c,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS c2
         |  FROM n, kc
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= kc.k),
         |${graft.ann.Similarity.lloydCtes("mlf", "m")},
         |${graft.ann.Similarity.assignCte("mlfav", "m", "mlfs1")},
         |bn AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4 AND doc_id % 10 >= 8),
         |bm AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM bn),
         |${graft.ann.Similarity.assignCte("mlfbv", "bm", "mlfs1")},
         |smt AS MATERIALIZED (
         |  SELECT b.vec_id, count(DISTINCT a.vec_id) AS nd
         |  FROM mlfbv b JOIN mlfav a ON a.cell = b.cell
         |  WHERE CAST(list_sum(list_transform(generate_series(1, len(b.v)),
         |      i -> b.v[i] * a.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(b.n2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE)))
         |    >= 0.995
         |  GROUP BY b.vec_id),
         |jn AS (
         |  SELECT doc_id AS b_id, $lowNibbleHistSql AS bv
         |  FROM documents WHERE $bLen >= 4 AND doc_id < 10),
         |jm AS (
         |  SELECT b_id, bv,
         |    list_sum(list_transform(generate_series(1, len(bv)),
         |      i -> bv[i] * bv[i])) AS bn2
         |  FROM jn),
         |bmt AS MATERIALIZED (
         |  SELECT d.vec_id, count(DISTINCT j.b_id) AS nb
         |  FROM bm d JOIN jm j
         |    ON CAST(list_sum(list_transform(generate_series(1, len(d.v)),
         |        k -> d.v[k] * j.bv[k])) AS DOUBLE)
         |      / (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(j.bn2 AS DOUBLE)))
         |      >= 0.995
         |  GROUP BY d.vec_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(v1.nd, 0) AS INTEGER) AS n_dups,
         |  CAST(coalesce(smt.nd, 0) AS BIGINT) AS n_sem_dups,
         |  CAST(coalesce(v2.nd, 0) AS INTEGER) AS n_benchmark_matches,
         |  CAST(coalesce(bmt.nb, 0) AS BIGINT)
         |    AS n_benchmark_sem_matches,
         |  (coalesce(v1.nd, 0) = 0 AND coalesce(smt.nd, 0) = 0
         |    AND coalesce(v2.nd, 0) = 0 AND coalesce(bmt.nb, 0) = 0)
         |    AS is_new
         |FROM documents d
         |LEFT JOIN mver v1 ON v1.inc_id = d.doc_id
         |LEFT JOIN smt ON smt.vec_id = d.doc_id
         |LEFT JOIN mbver v2 ON v2.inc_id = d.doc_id
         |LEFT JOIN bmt ON bmt.vec_id = d.doc_id
         |WHERE d.doc_id % 10 >= 8
         |ORDER BY d.doc_id""".stripMargin),

    // the post-retrain re-audit: the persisted corpus assignments
    // (signed under the ORIGINAL fixed-k quantizer) re-assigned and
    // pair-judged under the CURRENT auto-sized centroids — the pairs
    // a boundary move exposes that admission-time judging never saw
    QuerySpec("media_sem_reaudit", (s, d) => {
      val k = autoCells(mediaSemanticCorpusVectors(s, d).count())
      mediaSemanticReaudit(
        graft.ann.IvfStore.read(s, mediaSemanticCorpusIndexPath(s, d)),
        graft.ann.IvfStore.packedRow(
          mediaSemanticCorpusCentroids(s, d, k)))
    },
      // the post-retrain re-audit replayed: the corpus-split population
      // (the persisted store's vectors, re-derived from payload hex),
      // the CURRENT auto-k quantizer trained on that same split
      // (count-derived k, rank-based seeds — the autoCells contract),
      // assignment, the family cap salt, within-cell exact-cosine pairs
      s"""WITH n AS (
         |  SELECT doc_id AS vec_id, $lowNibbleHistSql AS v
         |  FROM documents WHERE $bLen >= 4 AND doc_id % 10 < 8),
         |m AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM n),
         |kc AS (
         |  SELECT GREATEST(8, CAST(CEIL(count(*) / 160.0) AS INTEGER))
         |    AS k FROM n),
         |s0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cell, v AS c,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS c2
         |  FROM n, kc
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= kc.k),
         |${graft.ann.Similarity.lloydCtes("msrd", "m")},
         |${graft.ann.Similarity.assignCte("msrdav", "m", "msrds1")},
         |ov AS (
         |  SELECT cell, count(*) AS bn FROM msrdav GROUP BY cell
         |  HAVING count(*) > 256),
         |sl AS (
         |  SELECT msrdav.vec_id, msrdav.v, msrdav.n2, msrdav.cell,
         |    CASE WHEN ov.bn IS NULL THEN 0
         |      ELSE ${graft.text.NearDup.saltHashSql("msrdav.vec_id")}
         |        % ((ov.bn + 255) // 256)
         |    END AS salt
         |  FROM msrdav LEFT JOIN ov USING (cell))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) AS DOUBLE)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cosine
         |FROM sl a JOIN sl b ON a.vec_id < b.vec_id
         |  AND a.cell = b.cell AND a.salt = b.salt
         |WHERE CAST(list_sum(list_transform(generate_series(1, len(a.v)),
         |    i -> a.v[i] * b.v[i])) AS DOUBLE)
         |  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |  >= 0.995
         |ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("media_features", (s, d) => decodeFeatures(assets(s, d)).toDF(),
      s"""SELECT doc_id, $mt AS media_type,
         |CAST($bLen AS INTEGER) AS byte_len,
         |CAST(CASE WHEN $bLen = 0 THEN 0 ELSE $byteSum END AS BIGINT) AS checksum,
         |CASE WHEN $bLen = 0 THEN 0
         |  ELSE CAST($byteSum AS BIGINT) * 1000 // $bLen END AS mean_byte_x1000
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("frame_sample", (s, d) => frameSample(assetStore(s, d)),
      s"""SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         |CAST(i * ($bLen // (doc_id % 7 + 1)) AS INTEGER) AS frame_off,
         |CAST($bLen // (doc_id % 7 + 1) AS INTEGER) AS frame_len
         |FROM documents,
         |  unnest(generate_series(0, CAST(doc_id % 7 AS INTEGER))) t(i)
         |ORDER BY doc_id, frame_idx""".stripMargin),

    QuerySpec("resize_meta", (s, d) => resizeMeta(assetStore(s, d), 128),
      """SELECT doc_id,
        |CAST((doc_id % 8) * 40 + 64 AS INTEGER) AS width,
        |CAST((doc_id % 5) * 30 + 48 AS INTEGER) AS height,
        |CAST(((doc_id % 8) * 40 + 64) * 128
        |  // greatest((doc_id % 8) * 40 + 64, (doc_id % 5) * 30 + 48)
        |  AS INTEGER) AS new_width,
        |CAST(((doc_id % 5) * 30 + 48) * 128
        |  // greatest((doc_id % 8) * 40 + 64, (doc_id % 5) * 30 + 48)
        |  AS INTEGER) AS new_height
        |FROM documents ORDER BY doc_id""".stripMargin))
}
