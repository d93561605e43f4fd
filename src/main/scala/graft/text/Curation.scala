package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => bridge}

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables
import graft.text.TextOps.norm

/** Training-data curation operators over `documents`: deterministic
  * stratified sampling, benchmark decontamination, and PII scrubbing —
  * the selection/hygiene stages of a large-scale pipeline.
  *
  * Sampling keys off md5 hex-prefix comparison (uniform in [0,1) per key,
  * identical in any engine — never `rand()`); decontamination joins on
  * exploded shingles so the benchmark side stays broadcast-small and the
  * corpus side streams through one shuffle-free semi-join probe.
  */
object Curation extends QueryModule {
  /** Per-source sampling rates as md5-prefix thresholds: a doc is kept iff
    * the first two hex chars of md5("s:"+doc_id) sort below the stratum's
    * threshold ("40" ≈ 25%, "80" ≈ 50%). */
  def sampleStratified(docs: DataFrame): DataFrame = {
    val tag = substring(md5(concat(lit("s:"),
      col("doc_id").cast("string")).cast("binary")), 1, 2)
    val threshold = when(
      pmod(regexp_extract(col("source"), "(\\d+)", 1).cast("long"), lit(2L))
        === 0, lit("80")).otherwise(lit("40"))
    docs.filter(tag < threshold)
      .select(col("doc_id"), col("source"), tag.as("sample_tag"),
        threshold.as("stratum_threshold"))
  }

  /** Benchmark decontamination: flag corpus docs sharing any 5-token
    * shingle with the benchmark set (here: doc_id < 10). The benchmark
    * shingle set is tiny → broadcast; corpus shingles explode and probe.
    * Shingling via the native one-pass `word_shingles` kernel
    * (`functions/TextShingles.scala`); it emits DISTINCT shingles, which
    * only thins the exploded probe stream — both sides of the join
    * de-duplicate downstream, so results are unchanged. */
  /** Source-balanced mixture sampling — the data-mixing step of
    * training-corpus assembly: downsample every source to the size of
    * the SMALLEST one (the equal-weight mixture, the floor case of
    * weighted mixing — any other weight vector only changes the
    * per-source take arithmetic, not the plan). Selection within a
    * source is by md5 order on the doc id (`"m:"+doc_id`), the same
    * deterministic no-`rand()` discipline as [[sampleStratified]]:
    * re-runs, retries, and the DuckDB oracle pick the identical docs.
    *
    * Scale shape: per-source counts are one tiny aggregate broadcast
    * back; selection is one rank window per source — a single corpus
    * exchange on the source key carrying (doc_id, source, tag) rows
    * only, never text. The take bound is data-derived (a column), so
    * the rank filter evaluates post-window; a production mix with a
    * CONFIGURED take would pass a literal and get the
    * InferWindowGroupLimit per-partition pre-reduction for free. */
  def mixBalanced(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val take = counts.agg(min(col("n")).as("take"))
    val tag = md5(concat(lit("m:"), col("doc_id").cast("string"))
      .cast("binary"))
    docs.select(col("doc_id"), col("source"), tag.as("mix_tag"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("mix_tag").asc, col("doc_id").asc)))
      .crossJoin(broadcast(take))
      .filter(col("rank") <= col("take"))
      .select(col("doc_id"), col("source"), col("rank").cast("int").as("rank"))
  }

  /** Weighted mixture sampling from a CONFIGURED `(source, w)` weight
    * table — the production form: given per-source weights w_s, the
    * output holds sources in w_s proportion at the largest size the
    * corpus affords. λ = min_s (n_s / w_s) and take_s = floor(λ · w_s);
    * the bottleneck source (the λ argmin) is kept whole. The λ ratio is
    * selected by a double compare, but every take is then EXACT integer
    * arithmetic from the argmin's (n, w) pair — floor(n_j · w_s / w_j) —
    * so ratio ties are harmless (equal ratios yield identical takes) and
    * the oracle replays the takes exactly.
    *
    * The weight table is a dimension frame (one row per source) joined
    * IN-PLAN and broadcast at both uses (counts and takes) — no
    * collect, no literal baking, so a 100 TB corpus mix is reconfigured
    * by swapping a tiny table, not recompiling a plan. Sources absent
    * from the weight table are excluded (weight 0 by omission). */
  def mixWeightedTable(docs: DataFrame, weights: DataFrame): DataFrame =
    mixFromCounts(docs,
      docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .join(broadcast(weights), "source"))

  /** The shared λ/takes/rank plan over a pre-built (source, n, w)
    * counts frame — both weighted forms differ only in how `w` lands
    * on the (aggregate-scale) counts rows. */
  private def mixFromCounts(docs: DataFrame, counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lam = counts.agg(min_by(struct(col("n"), col("w")),
      col("n").cast("double") / col("w").cast("double")).as("l"))
      .select(col("l.n").as("ln"), col("l.w").as("lw"))
    val takes = counts.crossJoin(broadcast(lam))
      .withColumn("take", expr("ln * w DIV lw"))
      .select(col("source"), col("take"))
    val tag = md5(concat(lit("w:"), col("doc_id").cast("string"))
      .cast("binary"))
    docs.select(col("doc_id"), col("source"), tag.as("mix_tag"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("mix_tag").asc, col("doc_id").asc)))
      .join(broadcast(takes), "source")
      .filter(col("rank") <= col("take"))
      .select(col("doc_id"), col("source"),
        col("rank").cast("int").as("rank"))
  }

  /** The [[sampleStratified]] parity convention (even-numbered sources
    * weight 2, odd 1) as the fixture's convention-driven twin. The
    * weight is a column EXPRESSION on the already-aggregated counts
    * rows — no extra corpus scan to build a weight frame; the table
    * form above is what a configured pipeline calls. */
  def mixWeighted(docs: DataFrame): DataFrame =
    mixFromCounts(docs,
      docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .withColumn("w", when(
          pmod(regexp_extract(col("source"), "(\\d+)", 1).cast("long"),
            lit(2L)) === 0, lit(2L)).otherwise(lit(1L))))

  /** TOKEN-budgeted weighted mixture — the mixing form a TRAINING run
    * actually specifies: "assemble N tokens total, sources in w_s
    * proportion". Where [[mixWeightedTable]] budgets in DOCUMENTS,
    * this budgets in tokens (`counter` prices each doc — pass the
    * subword kernel for tokenizer-faithful budgets): each source gets
    * budget_s = totalBudget · w_s / Σw (integer arithmetic), docs fill
    * it greedily in the shared md5-deterministic order, and the budget
    * is a HARD cap — a doc whose inclusion would overflow its source's
    * budget is dropped (with everything after it; the running total is
    * monotone), so the assembled mixture never exceeds totalBudget.
    *
    * Scale shape (r13): the per-source running sum is the TWO-PHASE
    * distributed prefix sum [[packTokens]] pioneered, keyed per
    * (source, BUCKET) where the bucket is the first two hex chars of
    * the doc's md5 selection tag. The bucket is a PREFIX of the order
    * key, so (bucket, tag) ordering IS tag ordering — each source's
    * global md5 order is preserved across bucket boundaries with no
    * range-partitioner sampling pass and no partition-id capture
    * (both deterministic-output hazards the first r13 cut paid a
    * checkpoint to pin). Phase 1 collects one (source, bucket,
    * token-sum) row per pair — metadata, not data: |sources| × 256
    * rows — and cumulates the within-source exclusive offsets on the
    * driver; phase 2 adds the broadcast offset to a (source, bucket)-
    * keyed window. The r12 form's `Window.partitionBy(source)`
    * funneled a dominant source's every row through ONE task for the
    * ordered sum — the exact skew 100 TB corpora have (one source is
    * usually most of the data); md5 uniformity spreads each source
    * over 256 balanced buckets instead. Rows carry (doc_id, tag,
    * n_tokens) — never text — and the priced frame is eagerly pinned
    * so the counter kernel prices each doc exactly once across the
    * two phases. Output is hash-identical to the single-window
    * form. */
  def mixTokenBudget(docs: DataFrame, weights: DataFrame,
                     totalBudget: Long,
                     counter: org.apache.spark.sql.Column =>
                       org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val wsum = weights.agg(sum(col("w")).as("wsum"))
    val budgets = weights.crossJoin(broadcast(wsum))
      .select(col("source"),
        expr(s"$totalBudget * w DIV wsum").as("token_budget"))
    val tag = md5(concat(lit("b:"), col("doc_id").cast("string"))
      .cast("binary"))
    // eager localCheckpoint (the packTokens discipline): one pricing
    // pass feeds both the bucket-sum collect and the final window join.
    // Null-priced docs (null text) are DROPPED here — a deliberate
    // tightening of the r12 single-window form, where window `sum`
    // skipped the null so the doc inherited the prior running total
    // and could ride along inside the budget while contributing zero
    // tokens. A doc the counter cannot price has no defensible claim
    // on a token budget; dropping it also keeps the phase-1 driver
    // fold free of null group sums.
    val priced = docs.select(col("doc_id"), col("source"),
      tag.as("mix_tag"), counter(col("text")).cast("long").as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
      .withColumn("bucket",
        conv(substring(col("mix_tag"), 1, 2), 16, 10).cast("int"))
      .localCheckpoint(true)
    // |sources| × 256 rows of metadata: each (source, bucket)'s token
    // sum, cumulated into that source's exclusive "tokens before this
    // bucket" offset
    val sums = priced.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val offsets = sums.foldLeft(
      (List.empty[(String, Int, Long)], "", 0L)) {
      case ((acc, prevSrc, running), (src, bucket, s)) =>
        val base = if (src == prevSrc) running else 0L
        ((src, bucket, base) :: acc, src, base + s)
    }._1.reverse
    val offDf = spark.createDataFrame(offsets)
      .toDF("source", "bucket", "offset")
    val w = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("mix_tag").asc, col("doc_id").asc)
    priced.join(broadcast(offDf), Seq("source", "bucket"))
      .withColumn("cum_tokens",
        col("offset") + sum(col("n_tokens")).over(w))
      .join(broadcast(budgets), "source")
      .filter(col("cum_tokens") <= col("token_budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("token_budget"))
  }

  /** CLUSTER-balanced token-budget mixture — [[mixTokenBudget]] with
    * the partition key swapped from the provenance `source` label to
    * the doc's SEMANTIC cluster: the trained IVF cell of its embedding
    * (`cells`: one (doc_id, cell) row per doc, read from the persisted
    * ANN index — the quantizer is trained once, inside the index
    * staging write, never in this plan). Balancing the assembled
    * mixture across embedding clusters instead of source labels is the
    * curation move when provenance is uninformative (one giant crawl
    * "source") but the corpus has semantic modes a training run must
    * not let one mode dominate — equal token budgets per cell is the
    * uniform-weight instance of cluster-balanced data selection.
    *
    * Scale shape: one doc_id equi-join of two narrow frames (docs are
    * priced AFTER the join; the cells side is (id, int) only), then
    * the certified two-phase bucketed prefix sum VERBATIM — the cell
    * relabel changes no machinery, so skew, determinism, and the hard
    * cap all carry over. Weights derive from the index's cell set
    * (one row per occupied cell), never from a corpus pass. */
  def mixClusterBudget(docs: DataFrame, cells: DataFrame,
                       totalBudget: Long,
                       counter: org.apache.spark.sql.Column =>
                         org.apache.spark.sql.Column): DataFrame = {
    val labeled = cells.select(col("doc_id"),
      concat(lit("cell"), col("cell")).as("source"))
    mixTokenBudget(
      docs.drop("source").join(labeled, "doc_id"),
      labeled.select(col("source")).distinct().withColumn("w", lit(1L)),
      totalBudget, counter)
  }

  /** EPOCH-seeded deterministic shuffle — the dataloader-facing
    * ordering step a training run ends on: every doc gets a per-epoch
    * md5 tag, a SHARD (the tag's leading 16 bits mod `nShards` —
    * md5-uniform, so shards balance at any scale with no sampling
    * pass), and a dense within-shard position. Deterministic: the same
    * (epoch, nShards) reproduces the identical order on any cluster
    * (restartable dataloaders, exact resume); a different epoch
    * reshuffles. Scale shape: one narrow projection plus ONE window
    * partitioned by shard — no global ordering anywhere (a global
    * row_number would funnel the corpus through one task; the
    * per-shard position is all a sharded reader consumes), no shuffle
    * beyond the one per-shard exchange. */
  /** The per-epoch shuffle tag — md5 of "e<epoch>:doc_id". */
  private def shuffleTag(epoch: Int) =
    md5(concat(lit(s"e$epoch:"), col("doc_id").cast("string"))
      .cast("binary"))

  /** The shard of a tag column — its leading 16 bits mod `nShards`.
    * ONE definition shared by [[epochShuffle]] and [[shardManifest]]:
    * the manifest's entire contract is describing the assignment the
    * shuffle makes, so the hash arithmetic must not be able to
    * diverge between the two (the oracle's nibble arithmetic replays
    * this exact expression). */
  private def shardCol(tag: org.apache.spark.sql.Column, nShards: Int) =
    pmod(conv(substring(tag, 1, 4), 16, 10).cast("long"),
      lit(nShards.toLong)).cast("int")

  /** The dataloader family's POPULATION — one definition shared by
    * [[epochPack]] and [[shardManifest]] so it cannot drift: priceable
    * docs only (null-priced drop — a doc the counter cannot price has
    * no place in a token-budgeted shard), doc_id-distinct (the
    * documented corpus wiring is an at-least-once store; a replayed
    * doc must not pack twice while the manifest double-counts it
    * identically). Narrow rows: (doc_id, n_tokens), never text. */
  private def pricedDocs(docs: DataFrame,
                         counter: org.apache.spark.sql.Column =>
                           org.apache.spark.sql.Column): DataFrame =
    docs.select(col("doc_id"),
      counter(col("text")).cast("long").as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
      .dropDuplicates("doc_id")

  /** NOTE the population contract: this assigns over `docs` AS GIVEN
    * (one row per doc_id expected). The token-budgeted family
    * ([[epochPack]] / [[shardManifest]] / [[writeShards]]) restricts
    * to [[pricedDocs]] first — pair a manifest only with an ordering
    * computed over the same population. */
  def epochShuffle(docs: DataFrame, epoch: Int, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), shuffleTag(epoch).as("shuffle_tag"))
      .withColumn("shard", shardCol(col("shuffle_tag"), nShards))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_tag"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Per-shard MANIFEST of an [[epochPack]]/[[writeShards]] artifact —
    * the sizes a dataloader reads before touching data: docs and
    * tokens per shard (`counter` prices each doc; pass the subword
    * kernel for tokenizer-faithful budgets, as [[mixTokenBudget]]
    * does). The POPULATION is [[pricedDocs]] — exactly what the writer
    * packs — so the manifest certifies the written shards on any
    * corpus, including one with null-text or replayed docs; pair it
    * with a raw [[epochShuffle]] only over an already-priced
    * population (the shuffle assigns docs AS GIVEN). The shard is a
    * pure function of (epoch, doc_id), so the manifest is ONE
    * projection (tag → shard, priced text), the population dedup's
    * doc_id-keyed exchange (narrow (doc_id, n_tokens) rows — the
    * at-least-once wiring's price, shared with the writer), and one
    * map-side-combined aggregate over `nShards` groups — no join, no
    * second corpus scan, no window (positions are irrelevant to
    * sizes). */
  def shardManifest(docs: DataFrame, epoch: Int, nShards: Int,
                    counter: org.apache.spark.sql.Column =>
                      org.apache.spark.sql.Column): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    // the epochPack population EXACTLY ([[pricedDocs]] — null-drop +
    // replay dedup): the manifest certifies the WRITTEN shards, which
    // never hold an unpriceable doc and never hold a replayed doc twice
    pricedDocs(docs, counter)
      .select(shardCol(shuffleTag(epoch), nShards).as("shard"),
        col("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  /** EPOCH-PACKED shards — [[epochShuffle]] COMPOSED with the greedy
    * subword packing into the artifact a training job actually reads:
    * every doc gets its epoch-shuffled (shard, pos) plus the packed
    * SEQUENCE it belongs to within its shard — `seq_id =
    * floor(tokens_before_it_in_shard / budget)`, the [[packTokens]]
    * convention applied per shard in pos order. Doc boundaries are
    * preserved (whole docs, never split — the packer a dataloader pairs
    * with the chunker upstream: [[chunkDocs]] cuts oversized docs to
    * the context window BEFORE packing); `counter` prices each doc —
    * pass the by-reference subword kernel for budgets in BPE units.
    *
    * Scale shape: one narrow pricing projection over [[pricedDocs]]
    * (null-priced docs drop and must not consume a position; replayed
    * docs dedup — the population definition shared with the manifest;
    * the dedup is a doc_id-keyed exchange of (doc_id, n_tokens) rows),
    * then ONE data exchange: position and running sum come from the
    * SAME per-shard window (`pos` is the row_number of the (tag,
    * doc_id) ordering, so cumulating in that ordering IS cumulating in
    * pos order — no join, no second window exchange). The window's parallelism is
    * exactly `nShards` — the same bound [[epochShuffle]]'s position
    * window carries, sized by the production rule in SCALING.md
    * (nShards ≥ cluster cores; real dataloader shard counts are
    * large). No global ordering anywhere. The tag/shard arithmetic is
    * the shared [[shuffleTag]]/[[shardCol]] pair, so this ordering
    * cannot diverge from [[epochShuffle]]'s over the same
    * population. */
  def epochPack(docs: DataFrame, epoch: Int, nShards: Int,
                budget: Long,
                counter: org.apache.spark.sql.Column =>
                  org.apache.spark.sql.Column): DataFrame =
    epochPackPriced(pricedDocs(docs, counter), epoch, nShards, budget)

  /** [[epochPack]] over an ALREADY-priced (doc_id, n_tokens) frame —
    * the shared core, factored so a caller whose prices come from
    * somewhere other than a text counter (e.g. [[exportSequences]],
    * whose per-doc counts are the id store's own row counts and
    * therefore consistent with the ids BY CONSTRUCTION) packs through
    * the identical tag/shard/window arithmetic. PRECONDITION: one row
    * per doc_id, n_tokens non-null (what [[pricedDocs]] guarantees on
    * the counter path). */
  private[text] def epochPackPriced(priced: DataFrame, epoch: Int,
                                    nShards: Int, budget: Long): DataFrame =
    epochPackOffsets(priced, epoch, nShards, budget)
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("seq_id"))

  /** [[epochPackPriced]] PLUS each doc's token offset WITHIN its packed
    * sequence (`doc_off` = tokens of the sequence's earlier docs) — the
    * doc-level fact [[exportSequences]] needs to place every token by
    * arithmetic instead of a per-token window. All three extra columns
    * ride the SAME per-shard window exchange the pack already pays:
    * `seq_start` (the running sum at the sequence's first doc) is a
    * running `last(..., ignoreNulls)` over the identical
    * partitioning/ordering, so no new exchange and no new sort — only
    * additional Window expressions over the nShards-way doc frame. */
  private[text] def epochPackOffsets(priced: DataFrame, epoch: Int,
                                     nShards: Int, budget: Long): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(budget > 0, s"epochPack: budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val tagged = priced
      .withColumn("shuffle_tag", shuffleTag(epoch))
      .withColumn("shard", shardCol(col("shuffle_tag"), nShards))
    // one window spec serves both functions; (tag, doc_id) is unique,
    // so the default RANGE frame degenerates to ROWS and the running
    // sum is exact
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_tag"), col("doc_id"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("pos", row_number().over(w))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", expr(s"cum_before DIV $budget"))
      // a sequence starts where seq_id moves (docs pack whole, so the
      // straddling doc's OVERFLOW belongs to the prior sequence and the
      // next sequence starts at the next doc's cum_before, not at a
      // budget multiple) — seq_start is that first doc's running sum,
      // carried forward over the same frame
      .withColumn("seq_start",
        last(when(lag(col("seq_id"), 1).over(w).isNull ||
          lag(col("seq_id"), 1).over(w) =!= col("seq_id"),
          col("cum_before")), ignoreNulls = true).over(wRows))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("seq_id"), (col("cum_before") - col("seq_start")).as("doc_off"))
  }

  /** MATERIALIZE an epoch's packed shards — the shard WRITER closing
    * the gap between "an ordering exists" ([[epochShuffle]]) and "a
    * training job can read it": the packed assignment lands as one
    * parquet directory per shard (`shard=K/`), each shard's rows
    * pos-ordered within its files (`repartition(shard)` +
    * `sortWithinPartitions` — a dataloader reads its shard
    * sequentially, no shuffle at read time). Returns the WRITTEN
    * artifact's manifest (shard, n_docs, n_tokens) re-derived from the
    * files on disk, so a caller certifies it against [[shardManifest]]
    * with one frame compare (the parity [[CurationSpec]] pins: the
    * manifest predicted from the corpus == the totals actually
    * written). */
  def writeShards(spark: SparkSession, docs: DataFrame, path: String,
                  epoch: Int, nShards: Int, budget: Long,
                  counter: org.apache.spark.sql.Column =>
                    org.apache.spark.sql.Column): DataFrame = {
    epochPack(docs, epoch, nShards, budget, counter)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  /** PACKED SEQUENCES WITH THE ACTUAL TOKEN IDS — the dataloader
    * artifact completed: [[writeShards]] materializes doc-level pack
    * assignments (doc ids + counts), but what a trainer CONSUMES is
    * sequences of token ids; this composes the epoch packing with a
    * numericalized id stream ([[TokenIdStore]]-shaped: doc_id,
    * token_idx, piece_id) into one row per token carrying its full
    * address in the training artifact — (shard, seq_id, seq_pos,
    * doc_id, token_idx, piece_id). `seq_pos` is the token's 0-based
    * offset within its packed sequence; doc boundaries are preserved
    * (a doc's tokens are contiguous in (pos, token_idx) order — the
    * whole-doc packing contract), and the id values are bit-identical
    * to the store's (export re-tokenizes nothing).
    *
    * Per-doc prices are the id stream's OWN row counts — consistent
    * with the exported tokens by construction (a counter-priced pack
    * could disagree with the ids if vocab or normalization drifted
    * between the two derivations; deriving both from one frame makes
    * that impossible). The id frame is deduped on (doc_id, token_idx)
    * first: the store's at-least-once append contract permits replayed
    * key-identical rows, and a replayed doc must neither pack twice
    * nor double-price its sequence.
    *
    * SINGLE-ID-SPACE GUARD, enforced not assumed (r15 — the
    * FirstCodePoint discipline: never mint plausible garbage): the
    * dedup is sound only because replayed rows are bit-identical, but
    * a [[TokenIdStore]] read mid-renumber holds the same
    * (doc_id, token_idx) under TWO versions with DIFFERENT piece_ids,
    * and deduping across them would pick arbitrarily — exporting a
    * nondeterministic mix of id spaces into the one artifact a
    * trainer consumes, silently. `version` is the id space the caller
    * exports (READ from the registry —
    * [[VocabMaintenance.currentVersion]] — never invented), and the
    * guard is DETERMINISTIC over every input row (r16, ADVICE: a
    * per-row assert projected through the dedup only ran on each
    * key's FIRST row per partition — a stale duplicate that lost the
    * dedup passed silently): the dedup is spelled as the per-key
    * aggregate it already was, with min/max `vocab_version` riding
    * the same exchange, and the assert fires on the aggregated
    * bounds — every row's version flows into min/max by aggregate
    * semantics, so a store with ANY residual stale row (winner OR
    * loser of the dedup) fails the export loudly instead of silently
    * dropping or mixing (a stale row means the renumber sweep has not
    * run — refusing is the only answer that cannot corrupt).
    *
    * Scale shape: one (doc_id, token_idx)-keyed dedup exchange over
    * narrow id rows — pinned eagerly (r15, ADVICE: three downstream
    * branches read it; unpinned, the widest exchange in the plan
    * re-ran per branch; the pin backs the RETURNED frame, so blocks
    * release via ContextCleaner when the caller drops it — the
    * [[QualityStore.retroSweep]] lifecycle, not the internal-pin
    * eager release) — then the doc-level pack ([[epochPackPriced]] —
    * window parallelism nShards, the documented SCALING bound), one
    * doc_id-keyed join fanning assignments back to token rows (the
    * pack side is docs-sized — AQE broadcasts it when small), and the
    * seq_pos window partitioned by (shard, seq_id) — parallelism =
    * number of SEQUENCES, each partition at most ~budget tokens. No
    * global ordering anywhere. */
  def exportSequences(ids: DataFrame, epoch: Int, nShards: Int,
                      budget: Long, version: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ids.columns.contains("vocab_version"),
      "exportSequences: ids frame lacks vocab_version — the export " +
        "certifies a single id space and cannot do so on untagged rows " +
        "(numericalize through TokenIdStore, which tags every row)")
    // the dedup AS an aggregate, min/max version riding the same
    // (doc_id, token_idx) exchange dropDuplicates would pay: the
    // guard sees the BOUNDS of every input row's version (aggregate
    // semantics — dedup losers included), and the eager checkpoint
    // below evaluates it on every key before anything packs.
    // first(piece_id) is deterministic exactly when the guard passes:
    // a single version means replayed rows are bit-identical.
    val deduped = ids.groupBy(col("doc_id"), col("token_idx"))
      .agg(first(col("piece_id")).as("piece_id0"),
        min(col("vocab_version")).as("vmin"),
        max(col("vocab_version")).as("vmax"))
      .select(col("doc_id"), col("token_idx"),
        when(assert_true(
          col("vmin") === lit(version) && col("vmax") === lit(version),
          concat(lit("exportSequences: id rows for doc "), col("doc_id"),
            lit(" carry vocab_version in ["), col("vmin"), lit(", "),
            col("vmax"),
            lit(s"] != export version $version — mid-renumber store; " +
              "run TokenIdStore.renumberSweep before exporting"))).isNull,
          col("piece_id0")).as("piece_id"))
      .localCheckpoint(true)
    val priced = deduped.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    // r18: seq_pos by ARITHMETIC, not a per-token window (guide §8 —
    // decide with small rows, never shuffle the token stream twice).
    // token_idx is dense 0-based per doc (posexplode mints it; the
    // dedup drops only key-identical replays), and a doc's tokens are
    // contiguous in the old window's (pos, token_idx) ordering, so
    //   row_number − 1 = (tokens of earlier docs in the sequence)
    //                    + token_idx = doc_off + token_idx
    // with doc_off computed in the doc-level pack window
    // ([[epochPackOffsets]]). The token stream's ONLY exchange is the
    // dedup; pack assignments attach by the docs-sized broadcast join —
    // broadcast EXPLICITLY on the pack side (guide §8: the plan table is
    // the side that moves; left to estimates, the planner broadcast the
    // checkpointed TOKEN stream at small scale — the exact join-sneaks-
    // the-shuffle-back-in failure §8.4 warns about, and a driver-memory
    // scale-killer besides: pack is docs-grain, four narrow columns).
    val pack = epochPackOffsets(priced, epoch, nShards, budget)
      .select(col("doc_id"), col("shard"), col("seq_id"), col("doc_off"))
    deduped.join(broadcast(pack), Seq("doc_id"))
      .select(col("shard"), col("seq_id"),
        (col("doc_off") + col("token_idx")).cast("int").as("seq_pos"),
        col("doc_id"), col("token_idx"), col("piece_id"))
  }

  /** MATERIALIZE the packed-sequence artifact — [[writeShards]]'s twin
    * at TOKEN granularity: [[exportSequences]] lands as one parquet
    * directory per shard (`shard=K/`), rows ordered (seq_id, seq_pos)
    * within each shard's files, so a training job reads its shard as
    * one sequential pass emitting ready-to-consume sequences — no
    * shuffle, no sort, no join at read time. Returns the WRITTEN
    * artifact's per-shard totals (n_seqs, n_docs, n_tokens) re-derived
    * from the files on disk, so a caller certifies the write against
    * the plan-side export with one frame compare (the
    * [[writeShards]]/[[shardManifest]] parity discipline, spec-pinned:
    * predicted == written).
    *
    * The written artifact carries its MANIFEST (r15): the per-shard
    * totals PLUS the `vocab_version` the ids were exported under,
    * landed as parquet beside the shard directories (`_manifest/` —
    * the underscore prefix keeps it invisible to a plain scan of the
    * shard root, the `_SUCCESS` convention). The version tag is what
    * [[sequenceShardStaleness]] probes: after a vocabulary swap +
    * renumber sweep move the live id space past the one recorded
    * here, the shards are STALE — bit-valid parquet a training job
    * would happily read — and the probe is the freshness signal that
    * says so (the [[graft.ann.IvfMaintenance]] staleness-telemetry
    * shape, applied to the ids' downstream artifact). */
  def writeSequenceShards(spark: SparkSession, ids: DataFrame,
                          path: String, epoch: Int, nShards: Int,
                          budget: Long, version: Int): DataFrame = {
    exportSequences(ids, epoch, nShards, budget, version)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("seq_id"), col("seq_pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    val written = spark.read.parquet(path)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).cast("long").as("n_tokens"))
      .orderBy(col("shard"))
    // manifest AFTER the shard write (a manifest must never describe
    // an artifact that failed to land), version-tagged, overwritten
    // atomically with the re-export it describes
    written.withColumn("vocab_version", lit(version).cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    written
  }

  /** STALENESS PROBE for a written sequence-shard artifact — compares
    * the manifest's recorded `vocab_version` against the registry's
    * CURRENT one ([[VocabMaintenance.currentVersion]], read by the
    * caller): one row per distinct recorded version (one, for any
    * artifact [[writeSequenceShards]] wrote) with the verdict. After
    * a swap + renumber sweep, previously-written shard directories
    * are silently stale — still bit-valid parquet — and this probe is
    * the freshness signal a training job reads BEFORE reading any
    * shard. A manifest-only read: never touches token rows.
    *
    * A MISSING manifest is a verdict, not an error (r16, ADVICE):
    * it is exactly the state after a crash between the shard write
    * and the manifest write, and the state of every shard artifact
    * written before the manifest existed — a freshness probe that
    * throws on crash remnants is unusable where it matters most. The
    * verdict is one row with a NULL `artifact_version` and
    * `stale = true`: an artifact whose version is unknowable must be
    * re-exported, never trusted. */
  def sequenceShardStaleness(spark: SparkSession, path: String,
                             currentVersion: Int): DataFrame = {
    import spark.implicits._
    if (!new java.io.File(s"$path/_manifest").exists())
      Seq((Option.empty[Int], currentVersion, true))
        .toDF("artifact_version", "current_version", "stale")
        .select(col("artifact_version").cast("int"),
          col("current_version").cast("int"), col("stale"))
    else
      spark.read.parquet(s"$path/_manifest")
        .select(col("vocab_version")).distinct()
        .select(col("vocab_version").as("artifact_version"),
          lit(currentVersion).cast("int").as("current_version"),
          (col("vocab_version") =!= currentVersion).as("stale"))
        .orderBy(col("artifact_version"))
  }

  /** PACKING-EFFICIENCY telemetry — what the budget actually buys, per
    * shard: sequence count, token total, mean fill ratio
    * (seq_tokens / budget), and how many sequences OVERFLOW the budget
    * (docs pack whole — `seq_id = cum_before DIV budget` — so a doc
    * straddling a boundary overfills its sequence; a trainer sizing
    * its context window reads this row before reading any shard). The
    * number that moves when the upstream chunker's window is mis-sized
    * relative to the pack budget: oversized docs → overflow count
    * rises; tiny docs → fill ratio sags toward the last-partial-pack
    * underfill. Two map-side-combined aggregates over the pack
    * assignment's narrow rows — no data read. */
  def packEfficiency(packed: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"packEfficiency: budget must be positive, got $budget")
    packed.groupBy(col("shard"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("seq_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_seqs"),
        sum(col("seq_tokens")).as("n_tokens"),
        avg(col("seq_tokens").cast("double") / lit(budget.toDouble))
          .as("avg_fill"),
        sum(when(col("seq_tokens") > budget, 1L).otherwise(0L))
          .as("n_overflow"))
      .orderBy(col("shard"))
  }

  /** The fixture's stand-in for a user-supplied weight table: one row
    * per source, weight (source number MOD 3) + 1 ∈ {1,2,3} — distinct
    * from [[mixWeighted]]'s parity convention so the two queries
    * exercise different take vectors. */
  def fixtureWeights(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .withColumn("w",
        pmod(regexp_extract(col("source"), "(\\d+)", 1).cast("long"),
          lit(3L)) + 1)

  def decontaminate(docs: DataFrame, benchmarkMaxId: Long = 10): DataFrame = {
    def shingled(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(call_function("word_shingles", norm(col("text")), lit(5)))
          .as("sh"))
    val bench = shingled(docs.filter(col("doc_id") < benchmarkMaxId))
      .select(col("sh")).distinct()
    shingled(docs.filter(col("doc_id") >= benchmarkMaxId))
      .join(broadcast(bench), "sh")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
  }

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
  private val initialRe = "\\b[a-z]\\b"

  /** PII scrub: redact emails, phone numbers, and single-letter initials;
    * emit the scrubbed-content hash and per-class redaction counts. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val n = norm(col("text"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(n,
      emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), initialRe, "<I>")
    docs.select(
      col("doc_id"),
      regexp_count(n, lit(emailRe)).as("emails"),
      regexp_count(n, lit(phoneRe)).as("phones"),
      regexp_count(n, lit(initialRe)).as("initials"),
      md5(scrubbed.cast("binary")).as("scrubbed_hash"))
  }

  /** Greedy sequential token packing: docs in doc_id order are binned
    * into fixed-budget packs — `pack_id = floor(cum_tokens_before /
    * budget)` — the sequence-forming step between curation and training.
    *
    * The naive form (`sum OVER (ORDER BY doc_id)`) is a SINGLE-partition
    * window: the whole corpus funnels through one task. This is the
    * scale-correct two-phase distributed prefix sum instead:
    * range-partition by doc_id (global order preserved across partition
    * boundaries), per-partition token sums — ONE row per partition — are
    * collected and cumulated on the driver (P values, metadata not data;
    * at 32k partitions this is a 256 KB array), then broadcast back as
    * offsets so each partition computes its running total independently
    * under a partition-LOCAL window. Wall-clock is two narrow passes,
    * no global funnel. */
  def packTokens(docs: DataFrame, budget: Long = 512,
                 counter: org.apache.spark.sql.Column =>
                   org.apache.spark.sql.Column =
                 t => size(split(norm(t), " ")).cast("long")): DataFrame = {
    require(budget > 0, s"packTokens: budget must be positive, got $budget")
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val parts = spark.sessionState.conf.numShufflePartitions
    // eager localCheckpoint (not persist): one materialization feeds both
    // the partition-sum pass and the final join, lineage stays flat, and
    // the backing RDD is reclaimed by the ContextCleaner when the result
    // frame is dropped — no pinned cache left behind.
    // `counter` is the budget unit: whitespace tokens by default, the
    // subword kernel (TextOps.bpeCountCol) for tokenizer-faithful packs.
    val counts = docs
      .select(col("doc_id"), counter(col("text")).as("n_tokens"))
      .repartitionByRange(parts, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    // P rows of metadata: (partition, its token sum), cumulated into the
    // "tokens before this partition" exclusive offset
    val sums = counts.groupBy(col("pid")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, s) =>
      val o = (pid, acc); acc += s; o
    }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "offset")
    val w = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    counts.join(broadcast(offDf), "pid")
      .withColumn("cum_before",
        col("offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before DIV $budget").as("pack_id"))
  }

  /** Context-window CHUNKING — split each document into fixed-token
    * windows with overlap (`stride` < `window` ⇒ consecutive chunks
    * share `window − stride` tokens), the shaping step between curation
    * and training that [[packTokens]] does NOT do: packing groups whole
    * docs into budget bins; chunking cuts docs that exceed the context
    * window, keeping every token covered and boundary context shared.
    * Output: one row per (doc_id, chunk_idx) with the chunk text and
    * its token count; a doc at or under `window` tokens is one chunk.
    *
    * Chunk count is exact-integer in both engines: k extra chunks with
    * k = ⌈(n − window) / stride⌉ via (n − window + stride − 1) DIV
    * stride on positives — the last start is ≥ n − window, so the tail
    * is always covered and no start begins past the end. Scale shape:
    * pure per-row compute (tokenize → sequence → explode → slice)
    * inside one projection — no shuffle, no state; output rows ≈
    * corpus_tokens / stride, the unavoidable result size. */
  def chunkDocs(docs: DataFrame, window: Int = 128,
                stride: Int = 96): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkDocs: need 0 < stride <= window, got window=$window stride=$stride")
    val toks = split(norm(col("text")), " ")
    docs.select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("k",
        when(col("n") <= window, lit(0))
          .otherwise(expr(s"(n - $window + $stride - 1) DIV $stride"))
          .cast("int"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("k"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(slice(col("toks"),
          col("chunk_idx") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), col("n") - col("chunk_idx") * stride)
          .cast("int").as("n_chunk_tokens"))
  }

  /** SUBWORD-BUDGETED chunking — [[chunkDocs]] with the budget measured
    * in BPE tokens (the unit a context window actually holds):
    * whitespace tokens fill each chunk greedily until adding the next
    * token would exceed `window` subword units, then a new chunk opens.
    * Tokens never split (whitespace-aligned boundaries, the property
    * retrieval/attribution pipelines rely on); a single token whose own
    * subword count exceeds the budget still occupies one chunk alone —
    * the honest outcome, flagged by its `n_chunk_bpe > window`.
    * Output: (doc_id, chunk_idx, chunk_text, n_chunk_tokens,
    * n_chunk_bpe), no overlap (BPE-budgeted STRIDE would need
    * subword-aligned window starts; the overlapping form stays
    * whitespace-budgeted in [[chunkDocs]]).
    *
    * Scale shape: pure per-row compute — per-token subword costs via
    * the codegen `bpe_count` kernel inside one `transform`, the greedy
    * fill as one `aggregate` scan, then chunk assembly by
    * per-chunk-row filtering of the token array. Assembly work is
    * O(tokens × chunks) per doc (each chunk row re-scans its doc's
    * token array) — fine while docs ≪ corpus (the universal case);
    * a pathological single-doc-of-a-billion-tokens would want a
    * `mapPartitions` rewrite, not a different plan. No shuffle. */
  def chunkDocsBpeBudget(docs: DataFrame, pieces: Seq[String],
                         window: Int = 48): DataFrame = {
    require(window > 0, s"chunkDocsBpeBudget: window must be positive, got $window")
    val costsCol = transform(col("toks"), t =>
      TextOps.bpeCountRaw(t, pieces))
    // greedy fill over the cost stream — a token that would overflow a
    // NON-empty chunk starts the next one. r18: the fill is the native
    // linear kernel ([[graft.functions.GreedyChunkAssign]]); the
    // Catalyst-`aggregate` spelling concat-copied its accumulator array
    // per token (O(tokens²) per doc, interpreted) and dominated the 10×
    // lap. Identical recurrence, codegen'd (parity spec-pinned).
    val assignCol = bridge.column(graft.functions.GreedyChunkAssign(
      bridge.expression(col("costs")), window))
    docs
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .withColumn("costs", costsCol)
      .withColumn("cidx", assignCol)
      .select(col("doc_id"), col("toks"), col("costs"), col("cidx"),
        explode(sequence(lit(0), element_at(col("cidx"), -1)))
          .as("chunk_idx"))
      .withColumn("sel", filter(
        zip_with(col("toks"), col("cidx"),
          (t, i) => when(i === col("chunk_idx"), t)),
        x => x.isNotNull))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("sel"), " ").as("chunk_text"),
        size(col("sel")).as("n_chunk_tokens"),
        aggregate(
          zip_with(col("costs"), col("cidx"),
            (c, i) => when(i === col("chunk_idx"), c).otherwise(lit(0))),
          lit(0), (a, c) => a + c).as("n_chunk_bpe"))
  }

  /** OVERLAPPING subword-budgeted chunking — the retrieval-style
    * sliding window ([[chunkDocs]]'s overlap) with BOTH the window and
    * the stride measured in BPE units ([[chunkDocsBpeBudget]] documents
    * its overlap gap: its stride was whitespace-only): chunk starts
    * stay whitespace-ALIGNED (tokens never split), each chunk fills
    * greedily to `window` subword units, and the next chunk opens at
    * the first token after at least `stride` subword units of the
    * current chunk — so consecutive chunks share ≈ window − stride BPE
    * units of context, an HONEST budget for overlapping windows.
    *
    * Exact contract (deterministic, replayed by the oracle): with
    * per-token costs c_i and prefixes P_i, a chunk at start s covers
    * tokens s..e(s), e(s) = the last t with P_t − P_{s−1} ≤ window
    * (at least s — an oversized token sits alone, flagged by
    * `n_chunk_bpe > window`); the next start is the smallest i > s
    * with P_{i−1} − P_{s−1} ≥ stride OR P_i − P_{s−1} > window
    * (the second disjunct caps the advance at e(s)+1, so every token
    * is covered), and no new chunk opens once the current one reaches
    * the last token. Output: (doc_id, chunk_idx, start_tok,
    * chunk_text, n_chunk_tokens, n_chunk_bpe).
    *
    * Scale shape: pure per-row compute — per-token kernel costs in one
    * `transform`, the prefix array and the start scan as two
    * `aggregate` passes, emission by start-indexed slices. No
    * shuffle; output rows ≈ corpus_bpe_units / stride. */
  def chunkDocsBpeOverlap(docs: DataFrame, pieces: Seq[String],
                          window: Int = 48, stride: Int = 32): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkDocsBpeOverlap: need 0 < stride <= window, got window=$window stride=$stride")
    val costsCol = transform(col("toks"), t =>
      TextOps.bpeCountRaw(t, pieces))
    // pr[k] (1-indexed) = P_{k-1}; pr[1] = 0, pr[n+1] = P_n.
    // r18: prefix array and start scan are the native linear kernels
    // ([[graft.functions.PrefixCosts]] / [[OverlapStarts]]); the
    // Catalyst-`aggregate` spellings concat-copied their accumulator
    // arrays per token (O(tokens²) per doc, interpreted) and dominated
    // the 10× lap. Identical recurrences (parity spec-pinned); the
    // coalesce keeps the aggregate form's `[1]` init for a null-text
    // doc, whose pr is null exactly as the transform chain's was.
    val prefixCol = bridge.column(graft.functions.PrefixCosts(
      bridge.expression(col("costs"))))
    val startsCol = coalesce(
      bridge.column(graft.functions.OverlapStarts(
        bridge.expression(col("pr")), window, stride)),
      expr("CAST(array(1) AS ARRAY<INT>)"))
    docs.select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .withColumn("costs", costsCol)
      .withColumn("pr", prefixCol)
      .select(col("doc_id"), col("toks"), col("pr"),
        posexplode(startsCol).as(Seq("chunk_idx", "start_tok")))
      .withColumn("m", size(filter(
        sequence(col("start_tok"), size(col("toks"))),
        t => element_at(col("pr"), t + 1) -
          element_at(col("pr"), col("start_tok")) <= lit(window.toLong))))
      .withColumn("e",
        greatest(col("start_tok"), col("start_tok") - 1 + col("m")))
      .select(col("doc_id"),
        col("chunk_idx").cast("int").as("chunk_idx"),
        col("start_tok").cast("int").as("start_tok"),
        array_join(slice(col("toks"), col("start_tok"),
          col("e") - col("start_tok") + 1), " ").as("chunk_text"),
        (col("e") - col("start_tok") + 1).cast("int").as("n_chunk_tokens"),
        (element_at(col("pr"), col("e") + 1) -
          element_at(col("pr"), col("start_tok"))).cast("int")
          .as("n_chunk_bpe"))
  }

  /** The end-to-end curation pipeline as ONE composed plan: normalize →
    * exact dedup (keep the smallest doc_id per content hash) → quality
    * gate → greedy token packing over the survivors. Each stage is the
    * already-certified operator — the value here is proving they compose
    * into a single Catalyst plan (one optimizer pass sees the whole
    * lineage; stages don't re-materialize between steps except the
    * packing checkpoint that bounds ITS lineage). */
  def curationPipeline(docs: DataFrame,
                       minQuality: Double = 0.4): DataFrame = {
    val hashed = docs
      .withColumn("content_hash", md5(norm(col("text")).cast("binary")))
    val keep = hashed.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"))
    val gated = hashed
      .join(keep, Seq("content_hash", "doc_id"))
      .join(TextOps.qualityScore(docs)
        .select(col("doc_id"), col("quality")), "doc_id")
      .filter(col("quality") >= minQuality)
    val packed = packTokens(gated.select(col("doc_id"), col("text")))
    packed.join(gated.select(col("doc_id"), col("content_hash"),
        col("quality")), "doc_id")
      .select(col("doc_id"), col("content_hash"), col("quality"),
        col("n_tokens"), col("pack_id"))
  }

  /** Distribution-RELATIVE quality gate — keep docs at or above the
    * corpus `p`-quantile of [[TextOps.qualityScore]]'s composite score.
    * Where [[curationPipeline]] hardcodes an absolute floor (0.4), this
    * derives the floor from the corpus itself — "drop the worst 10%" —
    * which is how a production stage is actually tuned: the threshold
    * tracks the corpus as it drifts, no manual re-calibration.
    *
    * Scale shape: ONE aggregate over the scored corpus produces a
    * one-row threshold, broadcast as a scalar anchor (the
    * `trade_summary` NOW()-anchor pattern) — the corpus is scanned
    * twice (score+aggregate, score+filter) and never shuffled. The
    * fixture form uses EXACT `percentile` so the DuckDB oracle replays
    * it bit-exactly (`quantile_cont` shares Spark's linear
    * interpolation — the `latency_quantiles` precedent); exact
    * percentile buffers the group's values, so at 100 TB swap in
    * `percentile_approx` (fixed-size mergeable sketch) on the same
    * plan — the `approx_corpus_stats` exact/approx pairing, at the
    * price of boundary membership within the sketch's rank error. */
  def qualityQuantileGate(docs: DataFrame, p: Double = 0.1,
                          approx: Boolean = false): DataFrame = {
    val scored = TextOps.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val thr = scored.agg(
      (if (approx) percentile_approx(col("quality"), lit(p), lit(10000))
      else expr(s"percentile(quality, $p)")).as("q_thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("quality") >= col("q_thr"))
      .select(col("doc_id"), col("quality"), col("q_thr"))
  }

  /** PER-SOURCE quantile gate — [[qualityQuantileGate]] with one floor
    * per source instead of one global floor: quality-score
    * distributions differ structurally by domain (a code-heavy source
    * scores low on stopword ratio without being low-quality), so a
    * global floor over-prunes whole sources; "drop each source's worst
    * 10%" is the form a mixture pipeline actually runs, and it
    * composes with the weight-table mixture ([[mixWeightedTable]])
    * which assumes every source survives curation.
    *
    * Scale shape: the thresholds are one aggregate keyed by source —
    * a |sources|-row frame, broadcast — and the corpus streams through
    * one broadcast hash join on `source`. No corpus shuffle, no sort.
    * The exact-percentile buffering caveat and its `percentile_approx`
    * swap are per-GROUP here (the buffered multiset is one source's
    * scores), same trade as the global gate. */
  def qualityQuantileGateBySource(docs: DataFrame, p: Double = 0.1,
                                  langAware: Boolean = false): DataFrame = {
    // langAware: score with the doc's own detected language's stopword
    // model (TextOps.qualityLangCol) — the floor a MULTILINGUAL source
    // needs: under the fixed-English model a foreign-language doc has
    // ~zero English stop hits and scores artificially HIGH, so a mixed
    // source's floor prunes its English docs preferentially while
    // low-quality foreign text passes ungated; the language-aware score
    // applies the same stopword discipline to every doc in its own
    // language, making within-source ranks comparable.
    val qcol = if (langAware) TextOps.qualityLangCol(col("text"))
    else TextOps.qualityCol(col("text"))
    val scored = docs.select(col("doc_id"), col("source"),
      qcol.as("quality"))
    val thr = scored.groupBy(col("source"))
      .agg(expr(s"percentile(quality, $p)").as("q_thr"))
    scored.join(broadcast(thr), "source")
      .filter(col("quality") >= col("q_thr"))
      .select(col("doc_id"), col("source"), col("quality"), col("q_thr"))
  }

  /** The composed single-batch curation stage — the ONE pipeline form a
    * training-data team runs, shared VERBATIM by the streaming lane
    * (`StreamingLanes.curationStoreLane`) and the batch twin
    * ([[curationLaneTwin]], the CORRECTNESS row):
    *
    *   1. sign the batch once (`NearDup.simhash64`, eager — one long
    *      per doc feeds judge + append);
    *   2. judge against a SCAN of the persisted signature store
    *      (`simhashIncremental64BothSigs` — corpus never re-read);
    *   3. intra-batch exactness gate (`intraBatchKeeperGate`: same-batch
    *      near-dup families keep only their keeper);
    *   4. per-source quality floor over the ADMITTED docs
    *      ([[qualityQuantileGateBySource]] — batch-relative: drop each
    *      source's worst `p` of this batch's admissions);
    *   5. chunk the survivors into context windows ([[chunkDocs]]).
    *
    * Returns (curated chunks, survivor signatures, gated verdict,
    * survivors): the lane appends the first to the curated-chunk store
    * and the second to the signature store — only QUALITY survivors
    * sign the store, so a rejected-for-quality doc never blocks a
    * future higher-quality near-duplicate of itself. The third is the
    * already-checkpointed per-doc judge+gate verdict (doc_id, n_dups,
    * is_new, n_batch_dups — one row per batch doc), so the lane's
    * stats frame derives from pinned state instead of re-counting the
    * micro-batch source; the fourth is the checkpointed survivor frame
    * (doc_id, source, quality, q_thr) the corpus-floor lane appends to
    * its [[QualityStore]]. All frames derive from eagerly checkpointed
    * judge state, so the lane's appends cannot feed back into their
    * plans. */
  private[graft] def curateBatch(esigs: DataFrame, batch: DataFrame,
                                 maxHamming: Int = 3, p: Double = 0.1,
                                 window: Int = 32, stride: Int = 24,
                                 eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame) =
    curateCore(esigs, batch, maxHamming, window, stride,
      admitted => qualityQuantileGateBySource(admitted, p), eager)

  /** [[curateBatch]] with the quality stage gated against the CORPUS
    * floor — per-source `p`-quantile thresholds derived from a scan of
    * persisted quality state ([[QualityStore]]) instead of the batch's
    * own admissions. The batch-relative percentile is noisy at
    * production trigger rates (a 1-doc source is always its own floor
    * and always survives); the corpus floor is stable across batches
    * and evolves only as admitted survivors append their qualities. A
    * batch doc from a source the store has never seen carries a NULL
    * `q_thr` and is kept — no floor has been learned for that source
    * yet, and inventing one from a single batch is exactly the noise
    * this form removes. */
  private[graft] def curateBatchCorpusFloor(
      esigs: DataFrame, qualities: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, p: Double = 0.1,
      window: Int = 32, stride: Int = 24,
      eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame) =
    curateCore(esigs, batch, maxHamming, window, stride,
      admitted => qualityGateAgainstFloors(admitted,
        QualityStore.floors(qualities, p)), eager)

  /** [[curateBatch]] with the REFERENCE-LM gate composed into the
    * quality stage — the CCNet shape the LM store was built for,
    * finally gating instead of only telling dashboards: survivors
    * must clear BOTH floors, the heuristic per-source quality
    * percentile AND the per-source avg-log-prob percentile under the
    * PERSISTED reference model ([[LmStore.lmGateBySource]] — `uni`/
    * `bi` are store scans, counts never re-derived from the batch).
    * The two gates are independent conjuncts over the same admitted
    * set (floors each derive from ALL admissions, so composition
    * order cannot change either threshold), joined by doc_id; the
    * survivor frame carries both verdicts
    * (quality, q_thr, avg_logprob, lm_thr) into the curated chunks.
    * Un-judgeable docs pass the LM conjunct unconditionally (the
    * [[LmStore.lmGateBySource]] NULL-keep contract). Per-batch cost
    * over [[curateBatch]]: the scoring pass's two model equi-joins +
    * one aggregate + one tiny floor broadcast — priced in
    * `StreamBench curlm`. */
  private[graft] def curateBatchLm(esigs: DataFrame, uni: DataFrame,
                                   bi: DataFrame, batch: DataFrame,
                                   maxHamming: Int = 3, p: Double = 0.1,
                                   pLm: Double = 0.1, window: Int = 32,
                                   stride: Int = 24,
                                   eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame) =
    curateCore(esigs, batch, maxHamming, window, stride,
      admitted => qualityQuantileGateBySource(admitted, p)
        .join(LmStore.lmGateBySource(admitted, uni, bi, pLm)
          .select(col("doc_id"), col("avg_logprob"), col("lm_thr")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("quality"),
          col("q_thr"), col("avg_logprob"), col("lm_thr")), eager)

  /** [[curateBatchLm]] with the LM stage gated against PREBUILT
    * per-source floors ([[LmStore.floors]] over a persisted admission
    * ledger) instead of the batch's own percentile — the
    * corpus-relative composition ([[curateBatchCorpusFloor]]'s
    * argument applied to the trained model): batch-relative LM
    * percentiles are noisy at production trigger rates, the ledger
    * floor is stable across batches and evolves only as admissions
    * append their scores. The heuristic quality stage stays
    * batch-relative here (compose [[QualityStore]] floors explicitly
    * for the fully corpus-relative form). */
  private[graft] def curateBatchLmCorpus(esigs: DataFrame, uni: DataFrame,
                                         bi: DataFrame, lmFloors: DataFrame,
                                         batch: DataFrame,
                                         maxHamming: Int = 3,
                                         p: Double = 0.1, window: Int = 32,
                                         stride: Int = 24,
                                         eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame) =
    curateCore(esigs, batch, maxHamming, window, stride,
      admitted => qualityQuantileGateBySource(admitted, p)
        .join(LmStore.lmGateAgainstFloors(admitted, uni, bi, lmFloors)
          .select(col("doc_id"), col("avg_logprob"), col("lm_thr")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("quality"),
          col("q_thr"), col("avg_logprob"), col("lm_thr")), eager)

  /** Gate raw docs against a prebuilt (source, q_thr) floor frame —
    * the corpus-floor stage: score once ([[TextOps.qualityCol]], the
    * same composite the store persists), one broadcast hash join on
    * `source`, keep docs at or above their source's floor (or with no
    * learned floor). No corpus shuffle; the floor frame is
    * |sources|-row. */
  private[graft] def qualityGateAgainstFloors(docs: DataFrame,
                                              floors: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      TextOps.qualityCol(col("text")).as("quality"))
      .join(broadcast(floors), Seq("source"), "left")
      .filter(col("q_thr").isNull || col("quality") >= col("q_thr"))
      .select(col("doc_id"), col("source"), col("quality"), col("q_thr"))

  private def curateCore(esigs: DataFrame, batch: DataFrame,
                         maxHamming: Int, window: Int, stride: Int,
                         floor: DataFrame => DataFrame,
                         eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // every stage pins (localCheckpoint) because each feeds 2-3
    // consumers — unpinned, each consumer re-runs the whole subplan.
    // `eager` picks WHEN the pin materializes: the streaming lane keeps
    // the eager default (judge state and survivor frames must be
    // on-disk-final BEFORE the lane's appends mutate the store listings
    // those plans read — the crash-instead-of-corrupt contract); the
    // batch TWINS pass eager = false (r18): they consume exactly one
    // output in one action over READ-ONLY fixture stores, so there is
    // no append to feed back and no reason to pay one standalone Spark
    // job per stage — the lazy pin computes each stage once inside the
    // final action and caches it for its other consumers. Data is
    // bit-identical either way (every stage is deterministic); only job
    // boundaries move. localCheckpoint (RDD-pinned), NOT persist():
    // persist registers in the session CacheManager by logical plan,
    // which a later identical invocation (the bench's second lap) would
    // silently reuse — cross-run result caching the bench forbids.
    val isigs = NearDup.simhash64(batch).localCheckpoint(eager)
    val storeVerdict = NearDup.simhashIncremental64BothSigs(
      esigs, isigs, maxHamming).localCheckpoint(eager)
    val gated = NearDup.intraBatchKeeperGate(isigs, storeVerdict, maxHamming,
      eager = eager)
      .localCheckpoint(eager)
    val admitted = batch.join(
      gated.filter(col("is_new")).select(col("doc_id")), "doc_id")
    // the floor's subplan (normalize + score + percentile or
    // store-floor broadcast join) feeds THREE consumers below (chunk
    // input, curated join, signature join) — unpinned, each would
    // re-run it per batch
    val survivors = floor(admitted).localCheckpoint(eager)
    // twin mode materializes every deferred pin in ONE job here:
    // survivors' lineage covers every pinned stage above (and, through
    // `batch`, the decontam wrappers' pinned verdicts), so this single
    // count computes and caches them all sequentially. Without it the
    // final action's concurrently-materializing AQE stages contend on
    // the same not-yet-computed pinned partitions (measured at 10x:
    // grid twin 7.5 s eager / 10.9 s fully-lazy); with it, one job
    // replaces the eager mode's one-job-per-stage ladder
    if (!eager) survivors.count()
    // survivor columns project through generically: the base floor
    // carries (doc_id, source, quality, q_thr); a composed floor (the
    // LM gate) appends its own verdict columns and they ride along
    val curated = chunkDocs(
      admitted.join(survivors.select(col("doc_id")), "doc_id"),
      window, stride)
      .join(survivors, "doc_id")
      .select(survivors.columns.map(col).toSeq ++
        Seq(col("chunk_idx"), col("chunk_text"),
          col("n_chunk_tokens")): _*)
    (curated, isigs.join(survivors.select(col("doc_id")), "doc_id"),
      gated, survivors)
  }

  /** The FULL composed ingestion stage — [[curateBatch]] with
    * benchmark DECONTAMINATION as stage 0 and flagged-window EXCISION
    * at the end, the complete pipeline a training-data team runs:
    *
    *   0. judge every context window of the batch against the STATIC
    *      benchmark chunk store ([[NearDup.decontamVerdicts]] — banded
    *      Hamming, benchmark side collapsed to distinct signatures);
    *      docs more than `maxFrac` contaminated drop WHOLE before any
    *      signing (a benchmark-entangled doc must never even enter the
    *      dedup store);
    *   1–4. the certified [[curateBatch]] stages over the survivors:
    *      sign once → store judge → intra-batch keeper gate →
    *      per-source quality floor → chunking;
    *   5. EXCISE: curated chunks matching a benchmark window drop by
    *      (doc_id, chunk_idx) key — the curation chunker and the
    *      decontamination judge share window/stride, so stage 0's
    *      per-window verdict applies to stage 4's output directly (one
    *      left-anti join, no re-chunking, no re-signing).
    *
    * Returns (curated clean chunks + each doc's contaminated fraction,
    * survivor signatures, gated verdict over decontam-kept docs,
    * per-doc decontamination verdict). Only quality survivors sign the
    * store (the curateBatch contract), and only decontam-kept docs
    * reach the judge — so the signature store never learns a
    * benchmark-entangled doc, which would otherwise block legitimate
    * near-dups of PARTIALLY overlapping clean text forever. */
  private[graft] def curateBatchDecontam(
      benchSigs: DataFrame, esigs: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, p: Double = 0.1, window: Int = 32,
      stride: Int = 24, maxFrac: Double = 0.5,
      eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    curateBatchDecontamWith(benchSigs, esigs, batch, maxHamming, window,
      stride, maxFrac, admitted => qualityQuantileGateBySource(admitted, p),
      eager)

  /** [[curateBatchDecontam]] generalized over the floor stage (r16 —
    * the [[curateCore]] parameterization lifted through the decontam
    * wrapper, so the FULL production composition stops being
    * structurally impossible): the floor's verdict columns ride the
    * curated chunks generically, exactly as [[curateCore]] projects
    * them. */
  private[graft] def curateBatchDecontamWith(
      benchSigs: DataFrame, esigs: DataFrame, batch: DataFrame,
      maxHamming: Int, window: Int, stride: Int, maxFrac: Double,
      floor: DataFrame => DataFrame, eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (chunkV, docV) = NearDup.decontamVerdicts(
      benchSigs, batch, maxHamming, window, stride, maxFrac, eager)
    val keep = docV.filter(col("is_new"))
      .select(col("doc_id"), col("doc_contaminated_frac"))
    val (curated0, survivorSigs, gated, survivors) = curateCore(
      esigs, batch.join(keep.select(col("doc_id")), "doc_id"),
      maxHamming, window, stride, floor, eager)
    val flagged = chunkV.filter(col("n_benchmark_matches") > 0)
      .select(col("doc_id"), col("chunk_idx"))
    val curated = curated0
      .join(flagged, Seq("doc_id", "chunk_idx"), "left_anti")
      .join(keep, "doc_id")
      .select(curated0.columns.map(col).toSeq :+
        col("doc_contaminated_frac"): _*)
    (curated, survivorSigs, gated, survivors, docV)
  }

  /** The FULLY-composed production lane stage (r16 — the one pipeline
    * a real ingest run actually is, until now certified only
    * piecewise): benchmark DECONTAMINATION gate → signature-store
    * dedup judge + intra-batch keeper gate → CORPUS-relative
    * heuristic floor ([[QualityStore]] per-source thresholds — stable
    * across batches) ∧ CORPUS-relative reference-LM floor (prebuilt
    * [[LmStore.floorsChecked]] floors over the stamped admission
    * ledger) → context-window chunking → flagged-window EXCISION.
    * Every conjunct keeps its own certified semantics — the heuristic
    * floor's NULL-keep for never-seen sources, the LM gate's
    * NULL-keep for un-scoreable docs and floor-less sources, the
    * decontam whole-doc drop before any signing — because the
    * composition is the SAME [[curateCore]] plan with the floor
    * stage's conjunction swapped in, not a re-derivation. Per-batch
    * cost over the decontam form: the LM scoring pass (two model
    * equi-joins + one aggregate) + two |sources|-row floor broadcasts
    * — the corpus crosses no additional exchange (the measured
    * `curlm` pricing argument, now inside the full plan). */
  private[graft] def curateBatchFull(
      benchSigs: DataFrame, esigs: DataFrame, qualities: DataFrame,
      uni: DataFrame, bi: DataFrame, lmFloors: DataFrame,
      batch: DataFrame, maxHamming: Int = 3, p: Double = 0.1,
      window: Int = 32, stride: Int = 24, maxFrac: Double = 0.5,
      eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    curateBatchDecontamWith(benchSigs, esigs, batch, maxHamming, window,
      stride, maxFrac, fullFloor(qualities, uni, bi, lmFloors, p), eager)

  /** The production floor conjunction — corpus heuristic floor ∧
    * corpus LM floor — factored so the full and grid forms share ONE
    * derivation (floors each derive from persisted state, so
    * composition order cannot change either threshold). */
  private def fullFloor(qualities: DataFrame, uni: DataFrame,
                        bi: DataFrame, lmFloors: DataFrame,
                        p: Double): DataFrame => DataFrame =
    admitted =>
      qualityGateAgainstFloors(admitted, QualityStore.floors(qualities, p))
        .join(LmStore.lmGateAgainstFloors(admitted, uni, bi, lmFloors)
          .select(col("doc_id"), col("avg_logprob"), col("lm_thr")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("quality"),
          col("q_thr"), col("avg_logprob"), col("lm_thr"))

  /** The GRID decontamination gate (r17 — the full decontam grid
    * composed into the one pipeline a real ingest run executes:
    * [[curateBatchFull]] gated on exact chunk signatures ONLY, while
    * the fuzzy and semantic judges existed standalone): stage 0 is a
    * CONJUNCTION of three independent verdicts over the arriving doc —
    *
    *   - EXACT-window arm: context windows judged against the static
    *     benchmark CHUNK store ([[NearDup.decontamVerdicts]] — docs
    *     over `maxFrac` contaminated drop whole, flagged windows
    *     excise after chunking), verbatim from the decontam form;
    *   - FUZZY whole-doc arm: the batch's 64-bit doc signatures judged
    *     against the static benchmark DOC signature store (banded
    *     Hamming ≤ `maxHamming` — the paraphrased whole-doc leakage
    *     whose every window drifts past the chunk radius while the
    *     doc signature stays within it);
    *   - SEMANTIC arm (where vectors exist): the batch docs' embedding
    *     rows exact-cosine-judged against the (small, broadcast)
    *     benchmark vector set at `semThreshold` — the re-write /
    *     paraphrase class no signature family catches; a doc with no
    *     vector passes this conjunct (NULL-keep, the grid's honest
    *     arm for a corpus whose embedding coverage is partial).
    *
    * A doc drops if ANY arm flags it; the surviving set then runs the
    * identical judge → keeper gate → floor → chunk → excision plan.
    * The per-doc verdict frame carries every arm's count
    * (`n_dups` exact-flagged windows, `n_fuzzy_matches`,
    * `n_sem_matches`) so a drop's reason is recoverable downstream.
    * Per-batch cost over the full form: one banded judge against the
    * benchmark doc sigs (benchmark-side-bounded broadcast) + one
    * cosine judge against the benchmark vectors (same bound) — the
    * corpus crosses no new exchange. */
  private[graft] def curateBatchGridWith(
      benchChunkSigs: DataFrame, benchDocSigs: DataFrame,
      benchVecs: DataFrame, batchVecs: DataFrame,
      esigs: DataFrame, batch: DataFrame,
      maxHamming: Int, window: Int, stride: Int, maxFrac: Double,
      semThreshold: Double, floor: DataFrame => DataFrame,
      eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (chunkV, docV0) = NearDup.decontamVerdicts(
      benchChunkSigs, batch, maxHamming, window, stride, maxFrac, eager)
    val fuzzy = NearDup.simhashIncremental64BothSigs(
      benchDocSigs, NearDup.simhash64(batch), maxHamming)
      .select(col("doc_id"), col("n_dups").as("n_fuzzy_matches"),
        col("is_new").as("fuzzy_clean"))
    val sem =
      if (benchVecs == null || batchVecs == null) null
      else graft.ann.Similarity.semJudgeSmallSet(benchVecs,
        batchVecs.join(batch.select(col("doc_id").as("vec_id")),
          "vec_id"),
        semThreshold, "n_sem_matches")
        .select(col("vec_id").as("doc_id"), col("n_sem_matches"),
          col("is_clean").as("sem_clean"))
    val joined0 = docV0.join(fuzzy, Seq("doc_id"), "left")
    val joined =
      if (sem == null)
        joined0.withColumn("n_sem_matches", lit(0L))
          .withColumn("sem_clean", lit(true))
      else joined0.join(sem, Seq("doc_id"), "left")
    val docV = joined.select(col("doc_id"), col("n_chunks"),
      col("n_dups"), col("doc_contaminated_frac"),
      coalesce(col("n_fuzzy_matches"), lit(0)).as("n_fuzzy_matches"),
      coalesce(col("n_sem_matches"), lit(0L)).as("n_sem_matches"),
      (col("is_new") && coalesce(col("fuzzy_clean"), lit(true)) &&
        coalesce(col("sem_clean"), lit(true))).as("is_new"))
      .localCheckpoint(eager)
    val keep = docV.filter(col("is_new"))
      .select(col("doc_id"), col("doc_contaminated_frac"))
    val (curated0, survivorSigs, gated, survivors) = curateCore(
      esigs, batch.join(keep.select(col("doc_id")), "doc_id"),
      maxHamming, window, stride, floor, eager)
    val flagged = chunkV.filter(col("n_benchmark_matches") > 0)
      .select(col("doc_id"), col("chunk_idx"))
    val curated = curated0
      .join(flagged, Seq("doc_id", "chunk_idx"), "left_anti")
      .join(keep, "doc_id")
      .select(curated0.columns.map(col).toSeq :+
        col("doc_contaminated_frac"): _*)
    (curated, survivorSigs, gated, survivors, docV)
  }

  /** The grid gate at the PRODUCTION floor composition — stage-0
    * conjunction (exact ∧ fuzzy ∧ semantic) over [[curateBatchFull]]'s
    * corpus-relative heuristic ∧ LM floors: the complete certified
    * form (`curation_lane_grid_twin`). */
  private[graft] def curateBatchGridFull(
      benchChunkSigs: DataFrame, benchDocSigs: DataFrame,
      benchVecs: DataFrame, batchVecs: DataFrame,
      esigs: DataFrame, qualities: DataFrame,
      uni: DataFrame, bi: DataFrame, lmFloors: DataFrame,
      batch: DataFrame, maxHamming: Int = 3, p: Double = 0.1,
      window: Int = 32, stride: Int = 24, maxFrac: Double = 0.5,
      semThreshold: Double = 0.5, eager: Boolean = true)
  : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    curateBatchGridWith(benchChunkSigs, benchDocSigs, benchVecs,
      batchVecs, esigs, batch, maxHamming, window, stride, maxFrac,
      semThreshold, fullFloor(qualities, uni, bi, lmFloors, p), eager)

  /** The batch TWIN of the streaming curation lane on the fixture
    * convention (store = doc_id % 10 < 8 signed into [[SimHashStore]],
    * batch = the rest): one invocation of [[curateBatch]], output = the
    * curated chunks that batch would append. This is the lane's
    * correctness contract — the DuckDB oracle replays judge, gate,
    * floor, and chunking end to end. */
  def curationLaneTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // every twin passes eager = false (r18): the twin consumes ONE
    // output in ONE action over read-only fixture stores — no append
    // can feed back into a judge plan, so the per-stage pins defer to
    // the single action instead of each running a standalone job. The
    // streaming lane keeps the eager default (see curateCore).
    curateBatch(
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The CORPUS-FLOOR twin — [[curationLaneTwin]] with the quality
    * stage gated against the persisted [[QualityStore]]'s per-source
    * floors (store population = doc_id % 10 < 8, the shared
    * convention) instead of the batch-relative percentile: the DuckDB
    * oracle replays store floors + gate end to end, certifying the
    * composed corpus-relative lane. */
  def curationLaneCorpusTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    curateBatchCorpusFloor(
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      QualityStore.read(spark, QualityStore.fixtureCorpusStore(spark, dir)),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The LM-gate twin — [[curationLaneTwin]] with the reference-LM
    * floor composed into the quality stage: the model is the staged
    * 80%-trained store ([[LmStore.fixtureModel]] — the SAME split the
    * signature store accumulates, so "trained on what was admitted"
    * holds across both stores), the batch the arriving 20%. The DuckDB
    * oracle replays judge, keeper gate, BOTH floors (heuristic
    * percentile + add-one LM scoring percentile), and chunking end to
    * end. */
  def curationLaneLmTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val root = LmStore.fixtureModel(spark, dir)
    curateBatchLm(
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      LmStore.readUni(spark, root), LmStore.readBi(spark, root),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The corpus-floor LM twin — [[curationLaneLmTwin]] with the LM
    * stage gated against the STAGED admission ledger's floors
    * ([[LmStore.fixtureLedger]] — the half-per-source convention its
    * scaladoc motivates) instead of the batch percentile: the
    * certified batch form of the lane's `lmCorpusFloor` mode. */
  def curationLaneLmCorpusTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val root = LmStore.fixtureModel(spark, dir)
    curateBatchLmCorpus(
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      LmStore.readUni(spark, root), LmStore.readBi(spark, root),
      LmStore.floors(spark.read.parquet(LmStore.fixtureLedger(spark, dir))),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The FULL-pipeline twin — [[curationLaneTwin]] with the benchmark
    * decontamination stage composed in (static chunk store over
    * doc_id < 10): the fixture batch split CONTAINS two benchmark
    * members (doc_ids 8 and 9 satisfy % 10 >= 8), so the stage-0
    * whole-doc drop is exercised on real fixture rows, not just
    * crafted specs. The DuckDB oracle replays decontam gate + judge +
    * keeper gate + floor + chunking + window excision end to end. */
  def curationLaneDecontamTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    curateBatchDecontam(
      ChunkSigStore.read(spark,
        ChunkSigStore.fixtureBenchmarkStore(spark, dir)),
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The FULL-pipeline twin at production composition (r16): decontam
    * gate (static benchmark chunk store, doc_id < 10) → store dedup
    * judge → corpus heuristic floor ([[QualityStore]], doc_id % 10 < 8)
    * ∧ corpus LM floor (the stamped admission ledger through
    * [[LmStore.floorsChecked]], under the staged reference model) →
    * chunking → flagged-window excision. The DuckDB oracle replays all
    * six stages end to end — the one row that certifies the lane a
    * real ingest pipeline runs. */
  def curationLaneFullTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val root = LmStore.fixtureModel(spark, dir)
    curateBatchFull(
      ChunkSigStore.read(spark,
        ChunkSigStore.fixtureBenchmarkStore(spark, dir)),
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      QualityStore.read(spark, QualityStore.fixtureCorpusStore(spark, dir)),
      LmStore.readUni(spark, root), LmStore.readBi(spark, root),
      LmStore.floorsChecked(
        spark.read.parquet(LmStore.fixtureLedger(spark, dir)),
        LmStore.readFingerprint(spark, root)),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  /** The GRID-gated production twin (r17): the full twin's six stages
    * with stage 0 widened to the complete decontam grid — exact chunk
    * windows ∧ fuzzy whole-doc signatures ∧ semantic embedding
    * cosine, every arm judged against its own static benchmark store
    * (chunk sigs / doc sigs / vectors over the shared doc_id < 10
    * convention). The DuckDB oracle replays all three arms and the
    * conjunction end to end. */
  def curationLaneGridTwin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val root = LmStore.fixtureModel(spark, dir)
    val emb = graft.ann.Similarity.corpus(spark, dir)
      .select(col("vec_id"), col("v"), col("n2"))
    curateBatchGridFull(
      ChunkSigStore.read(spark,
        ChunkSigStore.fixtureBenchmarkStore(spark, dir)),
      SimHashStore.read(spark, SimHashStore.fixtureBenchmarkStore(spark, dir)),
      emb.filter(col("vec_id") < 10), emb,
      SimHashStore.read(spark, SimHashStore.fixtureCorpusStore(spark, dir)),
      QualityStore.read(spark, QualityStore.fixtureCorpusStore(spark, dir)),
      LmStore.readUni(spark, root), LmStore.readBi(spark, root),
      LmStore.floorsChecked(
        spark.read.parquet(LmStore.fixtureLedger(spark, dir)),
        LmStore.readFingerprint(spark, root)),
      docs.filter(col("doc_id") % 10 >= 8), eager = false)._1
  }

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Integer value of `tag`'s leading 4 hex chars (= Spark's
    * `conv(substring(tag, 1, 4), 16, 10)`) — DuckDB has no hex→int
    * cast, so the nibbles sum positionally (the media oracles'
    * strpos pattern). */
  private val nib16: String = (1 to 4).map(i =>
    s"(strpos('0123456789abcdef', substr(tag, $i, 1)) - 1) * ${1L << (4 * (4 - i))}")
    .mkString(" + ")

  /** [[chunkDocs]] as a DuckDB CTE chain ending in
    * `chunks(doc_id, chunk_idx, chunk_text, n_chunk_tokens)` — shared
    * by the chunk_docs oracle and every chunk-granularity oracle
    * (chunk dedup, chunk decontamination), so one place renders the
    * slice/count arithmetic the engine's chunkDocs pins. `src` is the
    * document source (a table or an earlier CTE with doc_id + text). */
  private[text] def chunkCtesSql(window: Int, stride: Int,
                                 src: String = "documents",
                                 out: String = "chunks"): String =
    s"""${out}_t AS (
       |  SELECT doc_id, string_split($N, ' ') AS toks,
       |    len(string_split($N, ' ')) AS n
       |  FROM $src),
       |${out}_c AS (
       |  SELECT doc_id, toks, n,
       |    CASE WHEN n <= $window THEN 0
       |         ELSE (n - $window + ${stride - 1}) // $stride END AS k
       |  FROM ${out}_t),
       |$out AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |    array_to_string(
       |      toks[i * $stride + 1 : i * $stride + $window], ' ')
       |      AS chunk_text,
       |    CAST(least($window, n - i * $stride) AS INTEGER)
       |      AS n_chunk_tokens
       |  FROM ${out}_c, unnest(generate_series(0, CAST(k AS BIGINT))) AS u(i))"""
      .stripMargin

  /** The composed curation lane replayed end to end: 64-bit signatures
    * over all docs (MATERIALIZED — three consumers, and the recursive
    * cluster walk must not re-derive them per round), store judge
    * between the % 10 splits, capped banded self-join + recursive
    * min-label clusters over the store-clean batch docs (the
    * intra-batch keeper gate), the given quality-floor CTEs (which
    * must end in `surv(doc_id, source, quality, q_thr)` over the
    * admissions CTE `q`), then the shared chunk CTEs over the
    * survivors. */
  private def curationTwinOracleWith(floorCtes: String,
                                     decontam: Boolean = false,
                                     extraSurvCols: Seq[String] = Nil,
                                     grid: Boolean = false)
  : String = {
    val bandOf = (src: String, idAs: String, sigAs: String, pred: String) =>
      (0 until 4).map(i =>
        s"SELECT doc_id AS $idAs, sig AS $sigAs, $i AS band, " +
          s"(sig >> ${16 * i}) & 65535 AS bval FROM $src WHERE $pred")
        .mkString("\n  UNION ALL\n  ")
    // the grid gate's two extra arms (r17): fuzzy whole-doc signatures
    // vs the benchmark DOC sigs (banded Hamming <= 3 — its own sig
    // derivation, restricted to the two splits it compares: the shared
    // `sg` CTE is defined later in the WITH and cannot be referenced
    // here), and semantic embedding cosine vs the benchmark vectors at
    // the family's 0.5 threshold (the qCte quantization verbatim)
    val gridCtes = if (!grid) "" else
      s"""gfs AS MATERIALIZED (
         |  SELECT doc_id, CAST(${NearDup.simhash64Terms} AS BIGINT) AS sig
         |  FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
         |        FROM (SELECT doc_id,
         |                list_distinct(string_split($N, ' ')) AS l
         |              FROM documents
         |              WHERE doc_id < 10 OR doc_id % 10 >= 8))),
         |gfb AS (
         |  ${bandOf("gfs", "b_id", "esig", "doc_id < 10")}),
         |gfi AS (
         |  ${bandOf("gfs", "doc_id", "isig", "doc_id % 10 >= 8")}),
         |gfz AS MATERIALIZED (
         |  SELECT DISTINCT i.doc_id
         |  FROM gfi i JOIN gfb e ON i.band = e.band AND i.bval = e.bval
         |  WHERE bit_count(xor(e.esig, i.isig)) <= 3),
         |gbn AS (
         |  SELECT vec_id AS b_id,
         |    list_transform(embedding,
         |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS bv
         |  FROM embeddings WHERE vec_id < 10),
         |gbm AS (
         |  SELECT b_id, bv,
         |    list_sum(list_transform(generate_series(1, len(bv)),
         |      i -> bv[i] * bv[i])) AS bn2
         |  FROM gbn),
         |gin AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings WHERE vec_id % 10 >= 8),
         |gim AS (
         |  SELECT vec_id, v,
         |    list_sum(list_transform(generate_series(1, len(v)),
         |      i -> v[i] * v[i])) AS n2
         |  FROM gin),
         |gsem AS MATERIALIZED (
         |  SELECT DISTINCT d.vec_id
         |  FROM gim d JOIN gbm b
         |    ON CAST(list_sum(list_transform(generate_series(1, len(d.v)),
         |        k -> d.v[k] * b.bv[k])) AS DOUBLE)
         |      / (sqrt(CAST(d.n2 AS DOUBLE)) * sqrt(CAST(b.bn2 AS DOUBLE)))
         |      >= 0.5),
         |""".stripMargin
    val gridKeep = if (!grid) "" else
      """
        |    AND doc_id NOT IN (SELECT doc_id FROM gfz)
        |    AND doc_id NOT IN (SELECT vec_id FROM gsem)""".stripMargin
    // stage 0 when composed: the batch split's windows judged against
    // the benchmark chunk set (the decontam_lane_twin oracle machinery
    // verbatim), producing flagged windows (dm), per-doc fractions
    // (dfrac), and the kept-doc set (dkeep) the pipeline runs over
    val decontamCtes = if (!decontam) "" else
      s"""dbsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         |disrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
         |${chunkCtesSql(32, 24, "dbsrc", "dbch")},
         |${chunkCtesSql(32, 24, "disrc", "dich")},
         |dbsig AS (
         |  ${NearDup.chunkSigCteSql("dbch")}),
         |disig AS (
         |  ${NearDup.chunkSigCteSql("dich")}),
         |dbs AS (SELECT DISTINCT sig AS bsig FROM dbsig),
         |dbb AS (
         |  ${(0 until 4).map(i =>
        s"SELECT bsig, $i AS band, (bsig >> ${16 * i}) & 65535 AS bval FROM dbs")
        .mkString("\n  UNION ALL\n  ")}),
         |dib AS (
         |  ${(0 until 4).map(i =>
        s"SELECT doc_id, chunk_idx, sig, $i AS band, (sig >> ${16 * i}) & 65535 AS bval FROM disig")
        .mkString("\n  UNION ALL\n  ")}),
         |dm AS MATERIALIZED (
         |  SELECT DISTINCT dib.doc_id, dib.chunk_idx
         |  FROM dib JOIN dbb ON dib.band = dbb.band AND dib.bval = dbb.bval
         |  WHERE bit_count(xor(dib.sig, dbb.bsig)) <= 3),
         |dfrac AS MATERIALIZED (
         |  SELECT c.doc_id,
         |    CAST(sum(CASE WHEN dm.doc_id IS NULL THEN 0 ELSE 1 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      AS doc_contaminated_frac
         |  FROM dich c LEFT JOIN dm
         |    ON dm.doc_id = c.doc_id AND dm.chunk_idx = c.chunk_idx
         |  GROUP BY c.doc_id),
         |${gridCtes}dkeep AS MATERIALIZED (
         |  SELECT doc_id, doc_contaminated_frac FROM dfrac
         |  WHERE doc_contaminated_frac <= 0.5$gridKeep),
         |""".stripMargin
    val inKeep =
      if (decontam) " AND doc_id IN (SELECT doc_id FROM dkeep)" else ""
    val cleanKeep =
      if (decontam) " AND sg.doc_id IN (SELECT doc_id FROM dkeep)" else ""
    val exciseAndFrac =
      if (!decontam) ""
      else
        """ AND NOT EXISTS (
          |    SELECT 1 FROM dm
          |    WHERE dm.doc_id = c.doc_id AND dm.chunk_idx = c.chunk_idx)"""
          .stripMargin
    s"""WITH RECURSIVE $decontamCtes
       |sg AS MATERIALIZED (
       |  SELECT doc_id, CAST(${NearDup.simhash64Terms} AS BIGINT) AS sig
       |  FROM (SELECT doc_id, l, list_transform(l, t -> md5(t)) AS lh
       |        FROM (SELECT doc_id,
       |                list_distinct(string_split($N, ' ')) AS l
       |              FROM documents))),
       |eb AS (
       |  ${bandOf("sg", "ex_id", "esig", "doc_id % 10 < 8")}),
       |ib AS (
       |  ${bandOf("sg", "inc_id", "isig", s"doc_id % 10 >= 8$inKeep")}),
       |ver AS (
       |  SELECT inc_id, count(DISTINCT ex_id) AS nd
       |  FROM (SELECT DISTINCT e.ex_id, i.inc_id, e.esig, i.isig
       |        FROM eb e JOIN ib i ON e.band = i.band AND e.bval = i.bval)
       |  WHERE bit_count(xor(esig, isig)) <= 3
       |  GROUP BY inc_id),
       |clean AS MATERIALIZED (
       |  SELECT sg.doc_id, sg.sig FROM sg
       |  LEFT JOIN ver ON ver.inc_id = sg.doc_id
       |  WHERE sg.doc_id % 10 >= 8 AND coalesce(ver.nd, 0) = 0$cleanKeep),
       |cb AS (
       |  ${bandOf("clean", "doc_id", "sig", "1 = 1")}),
       |c_over AS (
       |  SELECT band, bval, count(*) AS bn FROM cb GROUP BY band, bval
       |  HAVING count(*) > 256),
       |c_salted AS (
       |  SELECT cb.doc_id, cb.sig, cb.band, cb.bval,
       |    CASE WHEN o.bn IS NULL THEN 0
       |         ELSE (${NearDup.saltHashSql("cb.doc_id")})
       |           % ((o.bn + 255) // 256)
       |    END AS salt
       |  FROM cb LEFT JOIN c_over o
       |    ON cb.band = o.band AND cb.bval = o.bval),
       |cp AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM c_salted a JOIN c_salted b
       |    ON a.band = b.band AND a.bval = b.bval AND a.salt = b.salt
       |    AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM cp
       |  UNION ALL
       |  SELECT id_b, id_a FROM cp),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM clean
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |admitted AS (
       |  SELECT id AS doc_id FROM reach GROUP BY id
       |  HAVING id = min(r)),
       |q AS (
       |  SELECT d.doc_id, d.source, ${TextOps.qualityExprSql} AS quality
       |  FROM documents d JOIN admitted a ON a.doc_id = d.doc_id),
       |$floorCtes,
       |ssrc AS (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN surv s ON s.doc_id = d.doc_id),
       |${chunkCtesSql(32, 24, "ssrc", "cchunks")}
       |SELECT s.doc_id, s.source, s.quality, s.q_thr${
      extraSurvCols.map(c => s", s.$c").mkString},
       |  c.chunk_idx, c.chunk_text, c.n_chunk_tokens${
      if (decontam) ",\n  k.doc_contaminated_frac" else ""}
       |FROM cchunks c JOIN surv s USING (doc_id)${
      if (decontam) "\nJOIN dkeep k ON k.doc_id = c.doc_id" else ""}
       |WHERE 1 = 1$exciseAndFrac
       |ORDER BY s.doc_id, c.chunk_idx""".stripMargin
  }

  /** The r11 batch-relative floor: per-source quantile over THIS
    * batch's admissions. */
  private val batchFloorCtes: String =
    """thr AS (
      |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
      |  FROM q GROUP BY source),
      |surv AS (
      |  SELECT q.doc_id, q.source, q.quality, t.q_thr
      |  FROM q JOIN thr t USING (source)
      |  WHERE q.quality >= t.q_thr)""".stripMargin

  private lazy val curationLaneTwinOracle: String =
    curationTwinOracleWith(batchFloorCtes)

  /** The FULL pipeline: the batch-relative twin with the benchmark
    * decontamination stage composed in (gate + excision CTEs). */
  private lazy val curationLaneDecontamTwinOracle: String =
    curationTwinOracleWith(batchFloorCtes, decontam = true)

  /** The corpus-relative floor: per-source quantile over the PERSISTED
    * store population (doc_id % 10 < 8 — the oracle re-derives the
    * store's qualities from text, the staged-store precedent); an
    * admission from an unseen source keeps a NULL floor. */
  private lazy val curationLaneCorpusTwinOracle: String =
    curationTwinOracleWith(
      s"""cq AS (
         |  SELECT source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |thr AS (
         |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |  FROM cq GROUP BY source),
         |surv AS (
         |  SELECT q.doc_id, q.source, q.quality, t.q_thr
         |  FROM q LEFT JOIN thr t USING (source)
         |  WHERE t.q_thr IS NULL OR q.quality >= t.q_thr)""".stripMargin)

  /** The LM-composed floor: the batch-relative heuristic percentile
    * (the r11 CTEs) AND the reference-LM percentile over the SAME
    * admitted set — [[LmStore]]'s scoring chain replayed (counts from
    * the 80% split, the staged model's population), per-source
    * `quantile_cont` over the admissions' avg log-probs, NULL-keep
    * arms exactly as [[LmStore.lmGateBySource]] filters them. */
  private lazy val curationLaneLmTwinOracle: String =
    curationTwinOracleWith(
      s"""${LmStore.scoreCtes},
         |thr AS (
         |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |  FROM q GROUP BY source),
         |lavg AS (
         |  SELECT q.doc_id, q.source,
         |    CAST(s.logprob_e6 AS DOUBLE) / (1000000.0 * s.n_bigrams)
         |      AS avg_logprob
         |  FROM q LEFT JOIN lsc s ON s.doc_id = q.doc_id),
         |lthr AS (
         |  SELECT source, quantile_cont(avg_logprob, 0.1) AS lm_thr
         |  FROM lavg WHERE avg_logprob IS NOT NULL GROUP BY source),
         |surv AS (
         |  SELECT q.doc_id, q.source, q.quality, t.q_thr,
         |    l.avg_logprob, lt.lm_thr
         |  FROM q JOIN thr t USING (source)
         |  JOIN lavg l ON l.doc_id = q.doc_id
         |  LEFT JOIN lthr lt ON lt.source = q.source
         |  WHERE q.quality >= t.q_thr
         |    AND (l.avg_logprob IS NULL OR lt.lm_thr IS NULL
         |         OR l.avg_logprob >= lt.lm_thr))""".stripMargin,
      extraSurvCols = Seq("avg_logprob", "lm_thr"))

  /** The corpus-floor LM composition: batch-relative heuristic floor,
    * LM floors from the LEDGER replay ([[LmStore]]'s half-per-source
    * admission-history convention) — `lthrc` instead of the batch
    * percentile, same NULL-keep arms. */
  private lazy val curationLaneLmCorpusTwinOracle: String =
    curationTwinOracleWith(
      s"""${LmStore.scoreCtes},
         |${LmStore.corpusFloorCtes},
         |thr AS (
         |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |  FROM q GROUP BY source),
         |lavg AS (
         |  SELECT q.doc_id, q.source,
         |    CAST(s.logprob_e6 AS DOUBLE) / (1000000.0 * s.n_bigrams)
         |      AS avg_logprob
         |  FROM q LEFT JOIN lsc s ON s.doc_id = q.doc_id),
         |surv AS (
         |  SELECT q.doc_id, q.source, q.quality, t.q_thr,
         |    l.avg_logprob, lt.lm_thr
         |  FROM q JOIN thr t USING (source)
         |  JOIN lavg l ON l.doc_id = q.doc_id
         |  LEFT JOIN lthrc lt ON lt.source = q.source
         |  WHERE q.quality >= t.q_thr
         |    AND (l.avg_logprob IS NULL OR lt.lm_thr IS NULL
         |         OR l.avg_logprob >= lt.lm_thr))""".stripMargin,
      extraSurvCols = Seq("avg_logprob", "lm_thr"))

  /** The FULL production composition replayed end to end: the decontam
    * machinery (gate + excision), the corpus-relative heuristic floor
    * (store population re-derived from text, LEFT JOIN NULL-keep), and
    * the corpus-relative LM floor (the ledger replay's `lthrc`) as
    * conjuncts over the same admitted set — every fragment shared
    * verbatim with the pairwise twins it composes, so the six-stage
    * oracle is a composition proof, not a re-derivation. */
  private lazy val curationLaneFullTwinOracle: String =
    curationTwinOracleWith(
      s"""${LmStore.scoreCtes},
         |${LmStore.corpusFloorCtes},
         |cq AS (
         |  SELECT source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |thr AS (
         |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |  FROM cq GROUP BY source),
         |lavg AS (
         |  SELECT q.doc_id, q.source,
         |    CAST(s.logprob_e6 AS DOUBLE) / (1000000.0 * s.n_bigrams)
         |      AS avg_logprob
         |  FROM q LEFT JOIN lsc s ON s.doc_id = q.doc_id),
         |surv AS (
         |  SELECT q.doc_id, q.source, q.quality, t.q_thr,
         |    l.avg_logprob, lt.lm_thr
         |  FROM q LEFT JOIN thr t USING (source)
         |  JOIN lavg l ON l.doc_id = q.doc_id
         |  LEFT JOIN lthrc lt ON lt.source = q.source
         |  WHERE (t.q_thr IS NULL OR q.quality >= t.q_thr)
         |    AND (l.avg_logprob IS NULL OR lt.lm_thr IS NULL
         |         OR l.avg_logprob >= lt.lm_thr))""".stripMargin,
      decontam = true,
      extraSurvCols = Seq("avg_logprob", "lm_thr"))

  /** The GRID composition replayed end to end (r17): the full twin's
    * oracle with stage 0 widened to the three-arm conjunction — the
    * exact-window machinery verbatim, the fuzzy whole-doc banded judge
    * (its own signature CTEs over the two compared splits), and the
    * semantic cosine judge over the quantized embeddings — composed
    * into the kept-doc set. Every fragment is shared with the rows it
    * composes (decontam machinery, corpus floors, LM ledger floors),
    * so the oracle is a composition proof, not a re-derivation. */
  private lazy val curationLaneGridTwinOracle: String =
    curationTwinOracleWith(
      s"""${LmStore.scoreCtes},
         |${LmStore.corpusFloorCtes},
         |cq AS (
         |  SELECT source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |thr AS (
         |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |  FROM cq GROUP BY source),
         |lavg AS (
         |  SELECT q.doc_id, q.source,
         |    CAST(s.logprob_e6 AS DOUBLE) / (1000000.0 * s.n_bigrams)
         |      AS avg_logprob
         |  FROM q LEFT JOIN lsc s ON s.doc_id = q.doc_id),
         |surv AS (
         |  SELECT q.doc_id, q.source, q.quality, t.q_thr,
         |    l.avg_logprob, lt.lm_thr
         |  FROM q LEFT JOIN thr t USING (source)
         |  JOIN lavg l ON l.doc_id = q.doc_id
         |  LEFT JOIN lthrc lt ON lt.source = q.source
         |  WHERE (t.q_thr IS NULL OR q.quality >= t.q_thr)
         |    AND (l.avg_logprob IS NULL OR lt.lm_thr IS NULL
         |         OR l.avg_logprob >= lt.lm_thr))""".stripMargin,
      decontam = true,
      extraSurvCols = Seq("avg_logprob", "lm_thr"),
      grid = true)

  /** The BPE-budgeted chunker replayed: per-token greedy-match costs via
    * a token-level advance-list walk (the TextOps.bpeWalkCtes shape, one
    * row per (doc, token)) over the corpus-derived vocabulary
    * ([[BpeVocab.vocabCtesSql]] — re-derived from the same `documents`
    * table the engine's staged store was trained on, per-length
    * membership probes for the longest match), then the greedy fill as
    * a second recursive scan over the token stream, then per-chunk
    * assembly. All feeder CTEs MATERIALIZED — DuckDB re-inlines plain
    * CTEs into each recursion round. */
  /** Per-(doc, token) subword costs as DuckDB CTEs ending in
    * `bcost(doc_id, tidx, cost)` (+ `btok(doc_id, tidx, tok)`): the
    * corpus-derived vocabulary, one advance list per token, the
    * recursive greedy walk, max(cnt) per token. Shared by the
    * BPE-budgeted chunkers' oracles. */
  private lazy val bpeTokenCostCtes: String =
    s"""${BpeVocab.vocabCtesSql},
       |btok AS MATERIALIZED (
       |  SELECT doc_id, i AS tidx, l[i] AS tok
       |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents) t,
       |    unnest(generate_series(1, len(l))) AS u(i)),
       |badv AS MATERIALIZED (
       |  SELECT doc_id, tidx,
       |    list_transform(generate_series(1, len(tok)),
       |      i -> ${BpeVocab.advSql("tok", "i")}) AS adv
       |  FROM btok, ${BpeVocab.vlenFrom}),
       |twalk(doc_id, tidx, pos, cnt) AS (
       |  SELECT doc_id, tidx, 1, 0 FROM badv
       |  UNION ALL
       |  SELECT w.doc_id, w.tidx, w.pos + m.adv[w.pos], w.cnt + 1
       |  FROM twalk w JOIN badv m
       |    ON m.doc_id = w.doc_id AND m.tidx = w.tidx
       |  WHERE w.pos <= len(m.adv)),
       |bcost AS MATERIALIZED (
       |  SELECT doc_id, tidx, max(cnt) AS cost FROM twalk
       |  GROUP BY doc_id, tidx)""".stripMargin

  private lazy val chunkDocsBpeOracle: String = {
    val w = 48
    s"""WITH RECURSIVE $bpeTokenCostCtes,
       |cwalk(doc_id, tidx, cum, cidx) AS (
       |  SELECT doc_id, 1, cost, 0 FROM bcost WHERE tidx = 1
       |  UNION ALL
       |  SELECT w.doc_id, w.tidx + 1,
       |    CASE WHEN w.cum + b.cost > $w AND w.cum > 0
       |         THEN b.cost ELSE w.cum + b.cost END,
       |    CASE WHEN w.cum + b.cost > $w AND w.cum > 0
       |         THEN w.cidx + 1 ELSE w.cidx END
       |  FROM cwalk w JOIN bcost b
       |    ON b.doc_id = w.doc_id AND b.tidx = w.tidx + 1)
       |SELECT c.doc_id, CAST(c.cidx AS INTEGER) AS chunk_idx,
       |  string_agg(t.tok, ' ' ORDER BY c.tidx) AS chunk_text,
       |  CAST(count(*) AS INTEGER) AS n_chunk_tokens,
       |  CAST(sum(b.cost) AS INTEGER) AS n_chunk_bpe
       |FROM cwalk c
       |JOIN btok t ON t.doc_id = c.doc_id AND t.tidx = c.tidx
       |JOIN bcost b ON b.doc_id = c.doc_id AND b.tidx = c.tidx
       |GROUP BY c.doc_id, c.cidx
       |ORDER BY c.doc_id, chunk_idx""".stripMargin
  }

  /** The overlapping BPE-budgeted chunker replayed: shared per-token
    * costs, window prefix sums, the start scan as a per-token
    * recursion carrying (current start, its exclusive prefix), then
    * per-chunk extent + assembly. The engine's contract constants
    * (window 48, stride 32) are pinned here verbatim. */
  private lazy val chunkDocsBpeOverlapOracle: String = {
    val w = 48
    val st = 32
    s"""WITH RECURSIVE $bpeTokenCostCtes,
       |bpre AS MATERIALIZED (
       |  SELECT doc_id, tidx, cost,
       |    sum(cost) OVER (PARTITION BY doc_id ORDER BY tidx) AS p
       |  FROM bcost),
       |bn AS MATERIALIZED (
       |  SELECT doc_id, max(p) AS pn, max(tidx) AS n FROM bpre
       |  GROUP BY doc_id),
       |swalk(doc_id, i, s, ps1, cidx) AS (
       |  SELECT doc_id, 1, 1, CAST(0 AS HUGEINT), 0 FROM bn
       |  UNION ALL
       |  SELECT w.doc_id, w.i + 1,
       |    CASE WHEN NOT (bn.pn - w.ps1 <= $w)
       |           AND (pi.p - w.ps1 >= $st OR pj.p - w.ps1 > $w)
       |         THEN w.i + 1 ELSE w.s END,
       |    CASE WHEN NOT (bn.pn - w.ps1 <= $w)
       |           AND (pi.p - w.ps1 >= $st OR pj.p - w.ps1 > $w)
       |         THEN pi.p ELSE w.ps1 END,
       |    CASE WHEN NOT (bn.pn - w.ps1 <= $w)
       |           AND (pi.p - w.ps1 >= $st OR pj.p - w.ps1 > $w)
       |         THEN w.cidx + 1 ELSE w.cidx END
       |  FROM swalk w
       |  JOIN bn ON bn.doc_id = w.doc_id
       |  JOIN bpre pi ON pi.doc_id = w.doc_id AND pi.tidx = w.i
       |  JOIN bpre pj ON pj.doc_id = w.doc_id AND pj.tidx = w.i + 1
       |  WHERE w.i < bn.n),
       |sstart AS (
       |  SELECT DISTINCT doc_id, cidx, s, ps1 FROM swalk),
       |schunk AS (
       |  SELECT st.doc_id, st.cidx AS chunk_idx, st.s AS start_tok,
       |    st.ps1,
       |    greatest(st.s, coalesce(
       |      max(CASE WHEN b.p - st.ps1 <= $w THEN b.tidx END), st.s))
       |      AS e
       |  FROM sstart st
       |  JOIN bpre b ON b.doc_id = st.doc_id AND b.tidx >= st.s
       |  GROUP BY st.doc_id, st.cidx, st.s, st.ps1)
       |SELECT c.doc_id, CAST(c.chunk_idx AS INTEGER) AS chunk_idx,
       |  CAST(c.start_tok AS INTEGER) AS start_tok,
       |  string_agg(t.tok, ' ' ORDER BY t.tidx) AS chunk_text,
       |  CAST(c.e - c.start_tok + 1 AS INTEGER) AS n_chunk_tokens,
       |  CAST(max(pe.p) - c.ps1 AS INTEGER) AS n_chunk_bpe
       |FROM schunk c
       |JOIN btok t ON t.doc_id = c.doc_id
       |  AND t.tidx BETWEEN c.start_tok AND c.e
       |JOIN bpre pe ON pe.doc_id = c.doc_id AND pe.tidx = c.e
       |GROUP BY c.doc_id, c.chunk_idx, c.start_tok, c.e, c.ps1
       |ORDER BY c.doc_id, chunk_idx""".stripMargin
  }

  /** The composed-export replay shared by `export_pipeline` (in-plan
    * numericalization) and `export_pipeline_staged` (the persisted id
    * store read): the seq_export machinery restricted to the CURATED
    * population (per-source quality floors over the store split,
    * re-derived from text — the staged-store precedent), the same
    * learned-id stream, the same pack arithmetic. */
  private lazy val exportPipelineOracle: String =
    s"""WITH RECURSIVE ${BpeMerges.learnedIdsCtes},
       |eqs AS MATERIALIZED (
       |  SELECT doc_id, source, ${TextOps.qualityExprSql} AS quality
       |  FROM documents WHERE doc_id % 10 < 8),
       |efl AS (
       |  SELECT source, quantile_cont(quality, 0.1) AS q_thr
       |  FROM eqs GROUP BY source),
       |ekeep AS MATERIALIZED (
       |  SELECT q.doc_id FROM eqs q JOIN efl f USING (source)
       |  WHERE q.quality >= f.q_thr),
       |klids AS MATERIALIZED (
       |  SELECT l.* FROM lids l JOIN ekeep k USING (doc_id)),
       |scnt AS (
       |  SELECT doc_id, count(*) AS n_tokens FROM klids GROUP BY doc_id),
       |sept AS (
       |  SELECT doc_id, n_tokens,
       |    md5('e1:' || CAST(doc_id AS VARCHAR)) AS tag
       |  FROM scnt),
       |sepa AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(($nib16) % 8 AS INTEGER) AS shard,
       |    CAST(row_number() OVER (
       |      PARTITION BY ($nib16) % 8 ORDER BY tag, doc_id)
       |      AS INTEGER) AS pos
       |  FROM sept),
       |seps AS (
       |  SELECT doc_id, shard, pos,
       |    (CAST(sum(n_tokens) OVER (
       |       PARTITION BY shard ORDER BY pos) AS BIGINT) - n_tokens)
       |      // 512 AS seq_id
       |  FROM sepa)
       |SELECT e.shard, e.seq_id,
       |  CAST(row_number() OVER (
       |    PARTITION BY e.shard, e.seq_id ORDER BY e.pos, l.token_idx)
       |    - 1 AS INTEGER) AS seq_pos,
       |  l.doc_id, l.token_idx, l.piece_id
       |FROM seps e JOIN klids l ON l.doc_id = e.doc_id
       |ORDER BY shard, seq_id, seq_pos""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the composed lane's batch twin: store judge -> intra-batch keeper
    // gate -> per-source quality floor -> chunking, one batch
    QuerySpec("curation_lane_twin", (s, d) => curationLaneTwin(s, d),
      curationLaneTwinOracle),
    // the GRID-gated production lane (r17): stage 0 = the complete
    // decontam grid (exact windows AND fuzzy whole-doc sigs AND
    // semantic embedding cosine) over the full twin's corpus floors
    QuerySpec("curation_lane_grid_twin", (s, d) => curationLaneGridTwin(s, d),
      curationLaneGridTwinOracle),
    // the corpus-floor twin: the quality stage gates against the
    // persisted QualityStore's per-source floors (stable across
    // batches) instead of the batch-relative percentile
    QuerySpec("curation_lane_corpus_twin", (s, d) =>
      curationLaneCorpusTwin(s, d),
      curationLaneCorpusTwinOracle),
    // the FULL pipeline: decontam gate -> judge -> keeper gate ->
    // floor -> chunking -> flagged-window excision, one batch
    QuerySpec("curation_lane_decontam_twin", (s, d) =>
      curationLaneDecontamTwin(s, d),
      curationLaneDecontamTwinOracle),
    // the LM-gated twin: the heuristic floor AND the persisted
    // reference model's per-source log-prob floor as conjuncts —
    // scoring that finally gates (the CCNet composition)
    QuerySpec("curation_lane_lm_twin", (s, d) => curationLaneLmTwin(s, d),
      curationLaneLmTwinOracle),
    // the corpus-floor LM mode certified: the LM conjunct gates
    // against the staged admission ledger's stable floors
    QuerySpec("curation_lane_lm_corpus_twin", (s, d) =>
      curationLaneLmCorpusTwin(s, d),
      curationLaneLmCorpusTwinOracle),
    // the FULLY-composed production lane: decontam -> store judge ->
    // corpus heuristic floor AND corpus LM floor (checked against the
    // model fingerprint) -> chunk -> excision, ONE certified plan
    QuerySpec("curation_lane_full_twin", (s, d) => curationLaneFullTwin(s, d),
      curationLaneFullTwinOracle),
    // epoch-seeded deterministic shuffle: per-epoch md5 tag, balanced
    // shard, dense within-shard position — no global ordering anywhere
    QuerySpec("epoch_shuffle", (s, d) =>
      epochShuffle(Tables(s, d, "documents"), epoch = 1, nShards = 8),
      // per-epoch md5 tag; shard = leading 16 tag bits mod nShards
      // (nibble arithmetic — DuckDB has no hex->int cast); position =
      // dense rank within the shard by (tag, doc_id)
      s"""WITH t AS (
         |  SELECT doc_id, md5('e1:' || CAST(doc_id AS VARCHAR)) AS tag
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(($nib16) % 8 AS INTEGER) AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY ($nib16) % 8 ORDER BY tag, doc_id)
         |    AS INTEGER) AS pos
         |FROM t ORDER BY shard, pos""".stripMargin),
    // the per-shard manifest a dataloader reads before touching data
    QuerySpec("shard_manifest", (s, d) =>
      shardManifest(Tables(s, d, "documents"), epoch = 1, nShards = 8,
        t => size(split(norm(t), " "))),
      s"""WITH t AS (
         |  SELECT doc_id, md5('e1:' || CAST(doc_id AS VARCHAR)) AS tag,
         |    CAST(len(string_split($N, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(($nib16) % 8 AS INTEGER) AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM t GROUP BY 1 ORDER BY shard""".stripMargin),
    // the shard writer's content: epoch shuffle composed with greedy
    // per-shard packing, budgets in SUBWORD units via the by-reference
    // kernel — (doc, shard, pos, priced tokens, packed sequence)
    QuerySpec("epoch_pack", (s, d) =>
      epochPack(Tables(s, d, "documents"), epoch = 1, nShards = 8,
        budget = 512,
        t => TextOps.bpeCountCol(t, BpeVocab.pieces(s, d))),
      // the shard writer's content replayed: BPE walk prices each doc,
      // nibble-arithmetic shard + per-shard md5-order position, then the
      // per-shard running sum's DIV-budget sequence id (window sum is
      // HUGEINT in DuckDB — cast before the subtraction). `text IS NOT
      // NULL` mirrors the engine's null-priced drop: a null-text doc
      // must neither pack nor consume a position
      s"""WITH RECURSIVE ${TextOps.bpeWalkCtes},
         |ept AS (
         |  SELECT b.doc_id,
         |    md5('e1:' || CAST(b.doc_id AS VARCHAR)) AS tag,
         |    b.n AS n_tokens
         |  FROM bpe b JOIN documents dd ON dd.doc_id = b.doc_id
         |  WHERE dd.text IS NOT NULL),
         |epa AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(($nib16) % 8 AS INTEGER) AS shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY ($nib16) % 8 ORDER BY tag, doc_id)
         |      AS INTEGER) AS pos
         |  FROM ept)
         |SELECT doc_id, shard, pos, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  (CAST(sum(n_tokens) OVER (
         |     PARTITION BY shard ORDER BY pos) AS BIGINT) - n_tokens)
         |    // 512 AS seq_id
         |FROM epa ORDER BY shard, pos""".stripMargin),

    // the training artifact COMPLETED: packed sequences carrying the
    // actual token ids (the renumbered store's learned-vocab id
    // stream), one row per token with its (shard, seq, offset)
    // address — what a trainer reads, not just where it would read
    // version 2 is the renumbered fixture store's post-sweep id space
    // (TokenIdStore.fixtureRenumberedStore seeds v1, swaps to the
    // learned vocab as v2, sweeps); the in-plan guard certifies every
    // exported row carries it — a mid-renumber store would fail loudly
    QuerySpec("seq_export", (s, d) =>
      exportSequences(
        TokenIdStore.read(s, TokenIdStore.fixtureRenumberedStore(s, d)),
        epoch = 1, nShards = 8, budget = 512, version = 2),
      // the sequence export replayed: the learned-id walk (lids) priced
      // by its OWN per-doc row counts, the identical tag/shard/pos/cum
      // arithmetic, then ids fanned back per doc with the within-sequence
      // offset
      s"""WITH RECURSIVE ${BpeMerges.learnedIdsCtes},
         |scnt AS (
         |  SELECT doc_id, count(*) AS n_tokens FROM lids GROUP BY doc_id),
         |sept AS (
         |  SELECT doc_id, n_tokens,
         |    md5('e1:' || CAST(doc_id AS VARCHAR)) AS tag
         |  FROM scnt),
         |sepa AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(($nib16) % 8 AS INTEGER) AS shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY ($nib16) % 8 ORDER BY tag, doc_id)
         |      AS INTEGER) AS pos
         |  FROM sept),
         |seps AS (
         |  SELECT doc_id, shard, pos,
         |    (CAST(sum(n_tokens) OVER (
         |       PARTITION BY shard ORDER BY pos) AS BIGINT) - n_tokens)
         |      // 512 AS seq_id
         |  FROM sepa)
         |SELECT e.shard, e.seq_id,
         |  CAST(row_number() OVER (
         |    PARTITION BY e.shard, e.seq_id ORDER BY e.pos, l.token_idx)
         |    - 1 AS INTEGER) AS seq_pos,
         |  l.doc_id, l.token_idx, l.piece_id
         |FROM seps e JOIN lids l ON l.doc_id = e.doc_id
         |ORDER BY shard, seq_id, seq_pos""".stripMargin),

    // the END-TO-END training-data export (r16 — the composition a
    // training job actually calls, until now certified piecewise):
    // curated store (quality floors over the persisted QualityStore)
    // -> TokenIdStore numericalization under the LEARNED merge vocab
    // (version 2, the renumbered-fixture convention) -> epoch pack ->
    // packed-sequence export, version guard in-plan
    QuerySpec("export_pipeline", (s, d) => {
      val store = Tables(s, d, "documents")
        .filter(col("doc_id") % 10 < 8)
      val kept = qualityGateAgainstFloors(store,
        QualityStore.floors(
          QualityStore.read(s, QualityStore.fixtureCorpusStore(s, d)),
          0.1)).select(col("doc_id"))
      exportSequences(
        TokenIdStore.numericalize(store.join(kept, "doc_id"),
          BpeMerges.mergeVocab(s, d), 2),
        epoch = 1, nShards = 8, budget = 512, version = 2)
    },
      // the composed export: the seq_export machinery restricted to the
      // CURATED population (per-source quality floors over the store
      // split, re-derived from text — the staged-store precedent), the
      // same learned-id stream, the same pack arithmetic
      exportPipelineOracle),
    // the STAGED steady-state export (r17): the same composed
    // training-data export served from the PERSISTED id store instead
    // of re-numericalizing in-plan — curated keep-set (the identical
    // floor derivation) restricting a TokenIdStore scan (version
    // guard in-plan), then the identical pack/export arithmetic. The
    // oracle TEXT is shared with export_pipeline verbatim (the
    // lm_score_ref / lm_score_ref_bucketed discipline): result
    // equality is the proof the staged read path serves what the
    // composition certifies, and the e ≈ 0.06 staged scaling replaces
    // export_pipeline's deliberate e ≈ 1.05 re-derivation
    QuerySpec("export_pipeline_staged", (s, d) => {
      val store = Tables(s, d, "documents")
        .filter(col("doc_id") % 10 < 8)
      val kept = qualityGateAgainstFloors(store,
        QualityStore.floors(
          QualityStore.read(s, QualityStore.fixtureCorpusStore(s, d)),
          0.1)).select(col("doc_id"))
      exportSequences(
        TokenIdStore.read(s, TokenIdStore.fixtureRenumberedStore(s, d))
          .join(kept, "doc_id"),
        epoch = 1, nShards = 8, budget = 512, version = 2)
    },
      // ONE oracle text for both export paths — the staged twin changes
      // WHERE the ids come from (the persisted renumbered store instead
      // of an in-plan numericalization), never what they are; sharing
      // the string is the proof (the lm_score_ref_bucketed discipline)
      exportPipelineOracle),

    // packing telemetry over the epoch_pack fixture: per shard, how
    // full the budget-512 sequences actually are and how many overflow
    QuerySpec("pack_efficiency", (s, d) =>
      packEfficiency(
        epochPack(Tables(s, d, "documents"), epoch = 1, nShards = 8,
          budget = 512,
          t => TextOps.bpeCountCol(t, BpeVocab.pieces(s, d))),
        budget = 512),
      // pack-efficiency telemetry replayed: the epoch_pack chain rolled
      // up per sequence, then per shard (fill terms are multiples of
      // 1/512 — exact doubles, so the avg is order-independent and
      // engine-identical)
      s"""WITH RECURSIVE ${TextOps.bpeWalkCtes},
         |ept AS (
         |  SELECT b.doc_id,
         |    md5('e1:' || CAST(b.doc_id AS VARCHAR)) AS tag,
         |    b.n AS n_tokens
         |  FROM bpe b JOIN documents dd ON dd.doc_id = b.doc_id
         |  WHERE dd.text IS NOT NULL),
         |epa AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(($nib16) % 8 AS INTEGER) AS shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY ($nib16) % 8 ORDER BY tag, doc_id)
         |      AS INTEGER) AS pos
         |  FROM ept),
         |eseq AS (
         |  SELECT shard,
         |    (CAST(sum(n_tokens) OVER (
         |       PARTITION BY shard ORDER BY pos) AS BIGINT) - n_tokens)
         |      // 512 AS seq_id,
         |    n_tokens
         |  FROM epa),
         |stot AS (
         |  SELECT shard, seq_id, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
         |  FROM eseq GROUP BY shard, seq_id)
         |SELECT shard, count(*) AS n_seqs,
         |  CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
         |  avg(CAST(seq_tokens AS DOUBLE) / 512.0) AS avg_fill,
         |  CAST(sum(CASE WHEN seq_tokens > 512 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overflow
         |FROM stot GROUP BY shard ORDER BY shard""".stripMargin),

    // corpus-relative quality floor (drop the worst decile)
    QuerySpec("quality_quantile_gate", (s, d) =>
      qualityQuantileGate(Tables(s, d, "documents")),
      // corpus-relative floor: quantile_cont shares Spark exact
      // percentile's linear interpolation, so the one-row threshold and
      // the boundary membership replay bit-exactly
      s"""WITH q AS (
         |  SELECT doc_id, ${TextOps.qualityExprSql} AS quality
         |  FROM documents),
         |t AS (SELECT quantile_cont(quality, 0.1) AS q_thr FROM q)
         |SELECT doc_id, quality, q_thr FROM q, t
         |WHERE quality >= q_thr ORDER BY doc_id""".stripMargin),
    // the percentile -> percentile_approx parity probe: both floors
    // from the same QualityStore scan, divergence + admission flips
    // over the full corpus (the % 10 split's sources are disjoint by
    // fixture construction, so the learned-floor population IS the
    // probe population; never-seen sources drop out of the inner join
    // exactly as they bypass the gate)
    QuerySpec("quality_floor_approx", (s, d) => QualityStore.floorParityProbe(
      QualityStore.read(s, QualityStore.fixtureCorpusStore(s, d)),
      Tables(s, d, "documents")),
      // the sketch floor's determinism contract: in the exact regime the
      // GK summary answers the order statistic at 1-based rank
      // ceil(p * n) — replayed with the IDENTICAL IEEE product (0.1 * n
      // rounds the same way in both engines), the exact side via
      // quantile_cont as everywhere else
      s"""WITH qs AS (
         |  SELECT source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |ex AS (SELECT source, quantile_cont(quality, 0.1) AS q_thr_exact
         |       FROM qs GROUP BY source),
         |ap AS (SELECT source,
         |         list_sort(list(quality))[CAST(ceil(0.1 * count(*))
         |           AS BIGINT)] AS q_thr_approx
         |       FROM qs GROUP BY source),
         |qb AS (
         |  SELECT source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents)
         |SELECT b.source, ex.q_thr_exact, ap.q_thr_approx,
         |  ap.q_thr_approx - ex.q_thr_exact AS thr_divergence,
         |  count(*) AS n_batch,
         |  CAST(sum(CASE WHEN b.quality >= ex.q_thr_exact
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admit_exact,
         |  CAST(sum(CASE WHEN b.quality >= ap.q_thr_approx
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admit_approx,
         |  CAST(sum(CASE WHEN (b.quality >= ex.q_thr_exact)
         |    != (b.quality >= ap.q_thr_approx)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admission_flips
         |FROM qb b
         |JOIN ex ON ex.source = b.source
         |JOIN ap ON ap.source = b.source
         |GROUP BY b.source, ex.q_thr_exact, ap.q_thr_approx
         |ORDER BY b.source""".stripMargin),

    // the floor-REFRESH lifecycle: every ledgered admission re-judged
    // against the CURRENT per-source floors (which moved as the store
    // accumulated past each doc's admission-time state)
    QuerySpec("quality_retro", (s, d) => QualityStore.retroSweep(
      QualityStore.read(s, QualityStore.fixtureCorpusStore(s, d)))._2
      .orderBy(col("doc_id")),
      // the floor-refresh sweep: the ledger's qualities re-derived from
      // text (the staged-store precedent), CURRENT per-source floors via
      // quantile_cont (bit-exact vs Spark percentile), every ledgered
      // admission's keep verdict
      s"""WITH qs AS MATERIALIZED (
         |  SELECT doc_id, source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |fl AS (SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |       FROM qs GROUP BY source)
         |SELECT q.doc_id, q.source, q.quality, f.q_thr,
         |  q.quality >= f.q_thr AS keep
         |FROM qs q JOIN fl f USING (source)
         |ORDER BY q.doc_id""".stripMargin),

    // the delete-set applied: the curated chunks of the store epoch
    // with every evicted doc's windows dropped (one broadcast anti-join)
    QuerySpec("quality_retro_refresh", (s, d) => QualityStore.applyRetro(
      chunkDocs(Tables(s, d, "documents")
        .filter(col("doc_id") % 10 < 8), window = 32, stride = 24),
      QualityStore.retroSweep(
        QualityStore.read(s, QualityStore.fixtureCorpusStore(s, d)))._1)
      .orderBy(col("doc_id"), col("chunk_idx")),
      // the delete-set applied to the curated chunks of the store epoch:
      // shared chunk CTEs over the ledger population, evicted docs'
      // windows anti-joined away
      s"""WITH qsrc AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
         |${chunkCtesSql(32, 24, "qsrc", "qch")},
         |qs AS MATERIALIZED (
         |  SELECT doc_id, source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents WHERE doc_id % 10 < 8),
         |fl AS (SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |       FROM qs GROUP BY source),
         |keepd AS (
         |  SELECT q.doc_id FROM qs q JOIN fl f USING (source)
         |  WHERE q.quality >= f.q_thr)
         |SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens
         |FROM qch c JOIN keepd k ON k.doc_id = c.doc_id
         |ORDER BY c.doc_id, c.chunk_idx""".stripMargin),

    // one floor per source (drop each source's worst decile)
    QuerySpec("quality_gate_by_source", (s, d) =>
      qualityQuantileGateBySource(Tables(s, d, "documents")),
      // per-source floors: quantile_cont per source group, broadcast join
      s"""WITH q AS (
         |  SELECT doc_id, source, ${TextOps.qualityExprSql} AS quality
         |  FROM documents),
         |t AS (SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |      FROM q GROUP BY source)
         |SELECT q.doc_id, q.source, q.quality, t.q_thr
         |FROM q JOIN t USING (source)
         |WHERE q.quality >= t.q_thr ORDER BY q.doc_id""".stripMargin),

    // the language-fair variant: floors computed over the doc's own
    // detected-language quality score
    QuerySpec("quality_gate_by_source_lang", (s, d) =>
      qualityQuantileGateBySource(Tables(s, d, "documents"),
        langAware = true),
      // per-source floors over the LANGUAGE-AWARE score: same plan, the
      // quality expression swaps to the detected-language composite
      s"""WITH q AS (
         |  SELECT doc_id, source, ${TextOps.qualityLangExprSql} AS quality
         |  FROM documents),
         |t AS (SELECT source, quantile_cont(quality, 0.1) AS q_thr
         |      FROM q GROUP BY source)
         |SELECT q.doc_id, q.source, q.quality, t.q_thr
         |FROM q JOIN t USING (source)
         |WHERE q.quality >= t.q_thr ORDER BY q.doc_id""".stripMargin),

    // context-window chunking — 32-token windows at stride 24 so the
    // fixture corpus (docs up to ~100 tokens) exercises the
    // multi-chunk arithmetic, not just the one-chunk short-doc path
    QuerySpec("chunk_docs", (s, d) =>
      chunkDocs(Tables(s, d, "documents"), window = 32, stride = 24),
      // sliding-window chunking replayed exactly: same integer chunk
      // count, 1-based inclusive list slice == Spark's (start, length)
      // slice with end-clamping in both engines
      s"""WITH ${chunkCtesSql(32, 24)}
         |SELECT doc_id, chunk_idx, chunk_text, n_chunk_tokens FROM chunks
         |ORDER BY doc_id, chunk_idx""".stripMargin),
    // subword-budgeted chunking: greedy whitespace-token fill measured
    // in BPE units (48-unit windows on the staged corpus-trained vocab)
    QuerySpec("chunk_docs_bpe", (s, d) =>
      chunkDocsBpeBudget(Tables(s, d, "documents"), BpeVocab.pieces(s, d)),
      chunkDocsBpeOracle),
    // OVERLAPPING subword-budgeted windows: stride measured in BPE
    // units too (48-unit windows, 32-unit stride -> ~16 shared units)
    QuerySpec("chunk_docs_bpe_overlap", (s, d) =>
      chunkDocsBpeOverlap(Tables(s, d, "documents"), BpeVocab.pieces(s, d)),
      chunkDocsBpeOverlapOracle),

    QuerySpec("curation_pipeline", (s, d) =>
      curationPipeline(Tables(s, d, "documents")),
      s"""WITH d AS (
         |  SELECT doc_id, md5($N) AS content_hash,
         |    ${TextOps.qualityExprSql} AS quality,
         |    CAST(len(string_split($N, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |k AS (SELECT content_hash, min(doc_id) AS doc_id FROM d
         |      GROUP BY content_hash),
         |g AS (
         |  SELECT d.* FROM d JOIN k USING (content_hash, doc_id)
         |  WHERE d.quality >= 0.4)
         |SELECT doc_id, content_hash, quality, n_tokens,
         |  CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 512
         |    AS BIGINT) AS pack_id
         |FROM g ORDER BY doc_id""".stripMargin),

    QuerySpec("sample_stratified", (s, d) =>
      sampleStratified(Tables(s, d, "documents")),
      """SELECT doc_id, source,
        |substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) AS sample_tag,
        |CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0
        |  THEN '80' ELSE '40' END AS stratum_threshold
        |FROM documents
        |WHERE substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |  < CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0
        |      THEN '80' ELSE '40' END
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("mix_balanced", (s, d) => mixBalanced(Tables(s, d, "documents")),
      // equal-weight mixture: every source downsampled to the smallest
      // source's count, selection by md5("m:"+doc_id) order
      """WITH take AS (
        |  SELECT min(n) AS take FROM (
        |    SELECT count(*) AS n FROM documents GROUP BY source)),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('m:' || CAST(doc_id AS VARCHAR)) ASC,
        |        doc_id ASC) AS rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(rank AS INTEGER) AS rank
        |FROM ranked, take WHERE rank <= take
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("mix_weighted", (s, d) => mixWeighted(Tables(s, d, "documents")),
      // weighted mixture: λ argmin by ratio (ties harmless — equal ratios
      // give identical takes), takes as exact integer floor(ln·w/lw)
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |    CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT)
        |      % 2 = 0 THEN 2 ELSE 1 END AS w
        |  FROM documents GROUP BY source),
        |l AS (
        |  SELECT n AS ln, w AS lw FROM c
        |  ORDER BY CAST(n AS DOUBLE) / w, n, w LIMIT 1),
        |takes AS (
        |  SELECT c.source, (l.ln * c.w) // l.lw AS take FROM c, l),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('w:' || CAST(doc_id AS VARCHAR)) ASC,
        |        doc_id ASC) AS rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.rank AS INTEGER) AS rank
        |FROM ranked r JOIN takes t ON r.source = t.source
        |WHERE r.rank <= t.take
        |ORDER BY r.doc_id""".stripMargin),

    QuerySpec("mix_weighted_table", (s, d) => {
      val docs = Tables(s, d, "documents")
      mixWeightedTable(docs, fixtureWeights(docs))
    },
      // the weight-TABLE form: weights joined from a (source, w) dimension
      // (fixture: source number MOD 3 + 1), λ/takes arithmetic unchanged
      """WITH wt AS (
        |  SELECT DISTINCT source,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 + 1 AS w
        |  FROM documents),
        |c AS (
        |  SELECT d.source, count(*) AS n, min(wt.w) AS w
        |  FROM documents d JOIN wt ON d.source = wt.source
        |  GROUP BY d.source),
        |l AS (
        |  SELECT n AS ln, w AS lw FROM c
        |  ORDER BY CAST(n AS DOUBLE) / w, n, w LIMIT 1),
        |takes AS (
        |  SELECT c.source, (l.ln * c.w) // l.lw AS take FROM c, l),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('w:' || CAST(doc_id AS VARCHAR)) ASC,
        |        doc_id ASC) AS rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(r.rank AS INTEGER) AS rank
        |FROM ranked r JOIN takes t ON r.source = t.source
        |WHERE r.rank <= t.take
        |ORDER BY r.doc_id""".stripMargin),

    // "assemble 20k subword tokens, sources in w proportion" — the
    // token-budgeted mixture on the staged-vocab kernel counter
    QuerySpec("mix_token_budget", (s, d) => {
      val docs = Tables(s, d, "documents")
      mixTokenBudget(docs, fixtureWeights(docs), 20000L,
        t => TextOps.bpeCountCol(t, BpeVocab.pieces(s, d)))
    },
      // token-budgeted mixture: per-source budgets as exact integer
      // shares of the 20k total, subword costs from the shared walk
      // CTEs, greedy fill in md5 order under a hard per-source cap
      s"""WITH RECURSIVE ${TextOps.bpeWalkCtes},
         |wt AS (
         |  SELECT DISTINCT source,
         |    CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 3 + 1 AS w
         |  FROM documents),
         |ws AS (SELECT sum(w) AS wsum FROM wt),
         |bud AS (
         |  SELECT source, CAST((20000 * w) // wsum AS BIGINT)
         |    AS token_budget
         |  FROM wt, ws),
         |tg AS (
         |  SELECT d.doc_id, d.source,
         |    md5('b:' || CAST(d.doc_id AS VARCHAR)) AS mix_tag,
         |    CAST(b.n AS BIGINT) AS n_tokens
         |  FROM documents d JOIN bpe b ON b.doc_id = d.doc_id),
         |cm AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY mix_tag ASC, doc_id ASC) AS BIGINT) AS cum_tokens
         |  FROM tg)
         |SELECT cm.doc_id, cm.source, cm.n_tokens, cm.cum_tokens,
         |  b.token_budget
         |FROM cm JOIN bud b USING (source)
         |WHERE cm.cum_tokens <= b.token_budget
         |ORDER BY cm.source, cm.cum_tokens""".stripMargin),

    // the same 20k-token assembly balanced across SEMANTIC clusters:
    // per-doc cells from the persisted ANN index, uniform per-cell
    // budgets through the identical two-phase prefix-sum machinery
    QuerySpec("mix_cluster_budget", (s, d) => mixClusterBudget(
      Tables(s, d, "documents"),
      graft.ann.IvfStore.fixtureIndex(s, d)
        .select(col("vec_id").as("doc_id"), col("cell")),
      20000L, t => TextOps.bpeCountCol(t, BpeVocab.pieces(s, d))),
      // cluster-balanced assembly: the ann_ivf_trained Lloyd replay
      // assigns every embedding its trained cell, docs relabel to
      // 'cell<k>', then the identical greedy md5-order fill under the
      // uniform per-cell share of the 20k total
      s"""WITH RECURSIVE ${TextOps.bpeWalkCtes},
         |${graft.ann.Similarity.qCte},
         |${graft.ann.Similarity.seedCte},
         |${graft.ann.Similarity.lloydCtes("mx", "m")},
         |${graft.ann.Similarity.assignCte("mxav", "m", "mxs1")},
         |wt AS (
         |  SELECT DISTINCT 'cell' || CAST(cell AS VARCHAR) AS source,
         |    CAST(1 AS BIGINT) AS w
         |  FROM mxav),
         |ws AS (SELECT sum(w) AS wsum FROM wt),
         |bud AS (
         |  SELECT source, CAST((20000 * w) // wsum AS BIGINT)
         |    AS token_budget
         |  FROM wt, ws),
         |tg AS (
         |  SELECT d.doc_id, 'cell' || CAST(a.cell AS VARCHAR) AS source,
         |    md5('b:' || CAST(d.doc_id AS VARCHAR)) AS mix_tag,
         |    CAST(b.n AS BIGINT) AS n_tokens
         |  FROM documents d
         |  JOIN bpe b ON b.doc_id = d.doc_id
         |  JOIN mxav a ON a.vec_id = d.doc_id),
         |cm AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY mix_tag ASC, doc_id ASC) AS BIGINT) AS cum_tokens
         |  FROM tg)
         |SELECT cm.doc_id, cm.source, cm.n_tokens, cm.cum_tokens,
         |  b.token_budget
         |FROM cm JOIN bud b USING (source)
         |WHERE cm.cum_tokens <= b.token_budget
         |ORDER BY cm.doc_id""".stripMargin),

    QuerySpec("decontaminate", (s, d) =>
      decontaminate(Tables(s, d, "documents")),
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(l) - 4),
         |    i -> array_to_string(l[i:i+4], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
         |  WHERE len(l) >= 5)
         |SELECT DISTINCT d.doc_id, true AS contaminated
         |FROM sh d
         |JOIN (SELECT DISTINCT sh FROM sh WHERE doc_id < 10) b ON d.sh = b.sh
         |WHERE d.doc_id >= 10
         |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("pii_scrub", (s, d) => piiScrub(Tables(s, d, "documents")),
      s"""SELECT doc_id,
         |CAST(len(regexp_extract_all($N, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |  AS INTEGER) AS emails,
         |CAST(len(regexp_extract_all($N, '\\+?[0-9][0-9()\\- ]{7,}[0-9]'))
         |  AS INTEGER) AS phones,
         |CAST(len(regexp_extract_all($N, '\\b[a-z]\\b')) AS INTEGER) AS initials,
         |md5(regexp_replace(regexp_replace(regexp_replace($N,
         |  '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         |  '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
         |  '\\b[a-z]\\b', '<I>', 'g')) AS scrubbed_hash
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("token_pack", (s, d) => packTokens(Tables(s, d, "documents")),
      // the oracle is the NAIVE single-window form — the point of the
      // comparison: the two-phase distributed prefix sum must equal it
      s"""SELECT doc_id,
         |CAST(len(string_split($N, ' ')) AS BIGINT) AS n_tokens,
         |CAST((sum(len(string_split($N, ' '))) OVER (ORDER BY doc_id)
         |  - len(string_split($N, ' '))) // 512 AS BIGINT) AS pack_id
         |FROM documents ORDER BY doc_id""".stripMargin),

    // the same two-phase distributed prefix sum, budgeted in SUBWORD
    // units (greedy longest-match kernel over the staged vocab) — what
    // a context window actually holds
    QuerySpec("token_pack_bpe", (s, d) => packTokens(Tables(s, d, "documents"),
      counter = t =>
        TextOps.bpeCountCol(t, BpeVocab.pieces(s, d)).cast("long")),
      // the subword-budgeted pack: the bpe walk CTEs produce each doc's
      // greedy-match count, then the same naive single-window replay
      s"""WITH RECURSIVE ${TextOps.bpeWalkCtes}
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST((sum(n) OVER (ORDER BY doc_id) - n) // 512 AS BIGINT)
         |    AS pack_id
         |FROM bpe ORDER BY doc_id""".stripMargin))
}
