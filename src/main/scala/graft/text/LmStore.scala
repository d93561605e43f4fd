package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.{Staging, Tables}
import graft.text.TextOps.norm

/** Persisted REFERENCE language model — the third trained artifact's
  * store-backed lifecycle (the IVF index and the vocabulary already
  * have theirs): [[Vocab.lmBigramScore]] trains its add-one bigram
  * model in-plan on the SAME docs it scores, which certifies the
  * arithmetic but is not how quality filtering works in production —
  * a pipeline trains the LM ONCE on a trusted reference corpus,
  * persists the counts, and scores every ARRIVING batch against that
  * fixed model (the CCNet/KenLM shape: low reference likelihood =
  * low quality or novel domain). This store holds exactly those
  * counts: `uni/` (w, c1) and `bi/` (w1, w2, c2) parquet under one
  * root, trained once per fixture fingerprint.
  *
  * Scoring semantics (the oracle replays them bit-exactly): per batch
  * bigram, q = round(ln((c2 + 1) / (c1 + V)) · 10⁶) as an exact
  * integer — c2/c1 are the REFERENCE counts (0 when unseen: add-one
  * smoothing prices novel bigrams without special cases), V the
  * reference's distinct-unigram count. Integer sums are
  * order-independent; the one double division per doc happens at the
  * end ([[Vocab.lmBigramScore]]'s established discipline). A batch
  * bigram whose pair is UNSEEN in the reference is also counted
  * (`n_oov_bigrams`) — the novelty numerator the drift telemetry
  * reads.
  *
  * Scale shape: the batch side explodes to narrow bigram rows; both
  * model joins are plain equi-joins (broadcast when the model is
  * dimension-sized, shuffled-hash when a 100 TB reference model
  * outgrows the driver — the `domain_classify_bucketed` precedent,
  * nothing in this plan assumes broadcast); ONE per-doc aggregate.
  * The V constant rides a one-row broadcast anchor (PlanLint
  * allowlisted like every scalar anchor).
  *
  * Lifecycle: [[stagedModel]] once per fingerprint; a drifting corpus
  * shows up in [[driftBySource]] (falling avg log-prob, rising OOV
  * bigram rate) — the retrain signal; retraining is one
  * [[trainUnigrams]]/[[trainBigrams]] pass over the new reference and
  * an atomic store swap ([[graft.sinks.StoreMaintenance.rewrite]] per
  * subdir), the vocabulary loop's protocol.
  */
object LmStore extends QueryModule {

  /** Reference unigram counts — one hash aggregate. Empty tokens are
    * excluded (norm('') → '' splits to ['']): an empty/whitespace-only
    * doc must not mint an empty-string "word" that inflates V and
    * skews every add-one denominator — the length > 0 discipline the
    * word-dictionary builders already apply ([[BpeMerges.wordDict]]).
    * Scoring is unaffected structurally (bigrams require ≥ 2 tokens,
    * and the normalized form has no interior empties), so the filter
    * only removes the whole-empty-doc artifact. */
  def trainUnigrams(docs: DataFrame): DataFrame =
    docs.select(explode(split(norm(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c1"))

  /** Reference bigram counts — one explode + one hash aggregate. */
  def trainBigrams(docs: DataFrame): DataFrame =
    bigrams(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** Adjacent-pair explode shared by training and scoring — ONE
    * definition so the two sides cannot disagree on tokenization. */
  private def bigrams(docs: DataFrame): DataFrame = {
    val toked = docs
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    toked
      .withColumn("a", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .withColumn("b", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .select(col("doc_id"),
        explode(arrays_zip(col("a"), col("b"))).as("z"))
      .select(col("doc_id"), col("z.a").as("w1"), col("z.b").as("w2"))
  }

  /** Score `docs` against a persisted reference model: per doc,
    * bigram count, how many bigrams the reference has never seen,
    * the exact integer log-prob sum, and its per-bigram average.
    * Zero-bigram docs (null / empty / one-token text) have no rows —
    * the [[Vocab.lmBigramScore]] convention, mirrored in the oracle. */
  def scoreAgainst(docs: DataFrame, uni: DataFrame,
                   bi: DataFrame, broadcastModel: Boolean = true)
  : DataFrame = {
    val v = uni.agg(count(lit(1)).as("v"))
    // broadcastModel = false is the BUCKETED-model form (r16 — the
    // domain_classify_bucketed precedent applied to this plan instead
    // of cited by it): a 100 TB reference model outgrows the driver,
    // and the shuffle_hash hint proves the plan is a plain pair of
    // equi-joins that degrade to shuffled-hash with NOTHING else
    // changing — lm_score_ref_bucketed shares lm_score_ref's oracle
    // text, so result equality is the proof. Default leaves the
    // optimizer's choice (broadcast at fixture scale) untouched.
    val (biSide, uniSide) =
      if (broadcastModel) (bi, uni)
      else (bi.hint("shuffle_hash"), uni.hint("shuffle_hash"))
    bigrams(docs)
      .join(biSide, Seq("w1", "w2"), "left")
      .join(uniSide.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("q",
        round(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          * 1000000.0, 0).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L))
          .as("n_oov_bigrams"),
        sum(col("q")).as("logprob_e6"))
      .withColumn("avg_logprob",
        col("logprob_e6").cast("double") /
          (lit(1000000.0) * col("n_bigrams").cast("double")))
  }

  /** The LM score as an ADMISSION GATE — the reason this store exists
    * (scoring that never gates is a dashboard, not a filter): keep the
    * docs whose per-bigram average log-prob under the PERSISTED
    * reference model clears their source's `p`-quantile floor — the
    * CCNet shape (perplexity-percentile filtering against a trusted
    * reference), per source because reference likelihood differs
    * structurally by domain exactly as the heuristic quality score
    * does ([[Curation.qualityQuantileGateBySource]]'s argument, on the
    * trained model instead of the hand-built composite). Composes with
    * the heuristic floor by doc_id join ([[Curation]]'s `curateBatchLm`
    * runs both as a conjunction).
    *
    * Kept unconditionally, stated not hidden: zero-bigram docs (null /
    * empty / one-token text — no score rows exist for them, the
    * [[scoreAgainst]] contract) and docs from a source with NO scored
    * docs (no floor is learnable) — a model that cannot judge a doc
    * must not reject it, the NULL-floor convention every gate here
    * shares. Scale shape: the scoring pass's two model equi-joins +
    * one per-doc aggregate, ONE tiny per-source percentile broadcast
    * back — the corpus crosses no extra exchange. The exact
    * `percentile` is the fixture form (the oracle replays it
    * bit-exactly via `quantile_cont`); at 100 TB swap
    * `percentile_approx` on the same plan (the
    * [[Curation.qualityQuantileGate]] pairing). */
  def lmGateBySource(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                     p: Double = 0.1): DataFrame = {
    val scored = scoreAgainst(docs, uni, bi)
      .select(col("doc_id"), col("avg_logprob"))
    val withSrc = docs.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
    val thr = withSrc.filter(col("avg_logprob").isNotNull)
      .groupBy(col("source"))
      .agg(expr(s"percentile(avg_logprob, $p)").as("lm_thr"))
    withSrc.join(broadcast(thr), Seq("source"), "left")
      .filter(col("avg_logprob").isNull || col("lm_thr").isNull ||
        col("avg_logprob") >= col("lm_thr"))
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        col("lm_thr"))
  }

  /** Per-source floors from a persisted LM-score LEDGER — the
    * corpus-relative form of [[lmGateBySource]]'s batch percentile
    * (the [[QualityStore.floors]] shape on the trained model): the
    * `p`-quantile of each source's LEDGERED avg log-probs, one tiny
    * aggregate → a |sources|-row broadcast. Valid while the model the
    * ledger was scored under is the CURRENT model (scores are
    * model-relative — after a refresh, [[retroSweep]] re-derives; the
    * ledger's arrival-time scores and an arriving batch's scores are
    * comparable exactly because both came from the same stored
    * counts). Doc-deduped (the at-least-once append contract);
    * zero-bigram ledger rows carry no score and drop out of the
    * floor derivation.
    *
    * This raw form TRUSTS the caller on model freshness — the
    * convention-guarded seam. Production paths (the streaming lane,
    * the certified twins) go through [[floorsChecked]], which
    * enforces it by construction against the ledger's per-row
    * [[readFingerprint]] stamps. */
  def floors(ledger: DataFrame, p: Double = 0.1): DataFrame =
    ledger.dropDuplicates("doc_id")
      .filter(col("avg_logprob").isNotNull)
      .groupBy(col("source"))
      .agg(expr(s"percentile(avg_logprob, $p)").as("lm_thr"))

  /** [[floors]] with the model-freshness invariant ENFORCED, not
    * assumed (r16 — the exportSequences id-space guard's class, closed
    * for the score space): ledger rows are stamped with the
    * fingerprint of the model that scored them ([[readFingerprint]] —
    * the lane stamps every append), and a floor derived from rows
    * scored under any OTHER model is refused in-plan. Scores are
    * model-relative; after [[refreshIfDrifted]] swaps the counts, a
    * corpus-floor lane would otherwise gate NEW-model scores against
    * OLD-model floors silently — two incomparable score spaces mixed
    * with no symptom. The guard rides the floor aggregate itself
    * (min/max fingerprint per source over the SAME exchange — every
    * scored row's stamp flows in by aggregate semantics), so a stale
    * or mixed ledger fails the gate loudly; recovery is
    * [[restampLedger]] (re-score under the current model, the retro
    * re-derivation) — refusing then re-deriving is the only pair that
    * cannot corrupt. NULL-score rows carry no score in ANY space and
    * stay exempt, exactly as they never contribute to floors. */
  def floorsChecked(ledger: DataFrame, modelFp: Long,
                    p: Double = 0.1): DataFrame = {
    require(ledger.columns.contains("model_fp"),
      "floorsChecked: ledger lacks model_fp — floors over unstamped " +
        "rows cannot certify the score space they were derived in " +
        "(append through the lane, or restampLedger an existing store)")
    // the doc-dedup spelled as the aggregate it is, fingerprint bounds
    // riding BOTH levels (the exportSequences guard discipline): a
    // stale row that loses the per-doc dedup still flows into
    // min/max, so no replay/restamp interleaving can hide a stamp
    ledger.groupBy(col("doc_id"))
      .agg(first(col("source")).as("source"),
        first(col("avg_logprob")).as("avg_logprob"),
        min(col("model_fp")).as("fmin0"), max(col("model_fp")).as("fmax0"))
      .filter(col("avg_logprob").isNotNull)
      .groupBy(col("source"))
      .agg(expr(s"percentile(avg_logprob, $p)").as("lm_thr0"),
        min(col("fmin0")).as("fmin"), max(col("fmax0")).as("fmax"))
      .select(col("source"),
        when(assert_true(
          col("fmin") === lit(modelFp) && col("fmax") === lit(modelFp),
          concat(lit("floorsChecked: ledger rows for source "),
            col("source"), lit(" scored under model fingerprint(s) ["),
            col("fmin"), lit(", "), col("fmax"),
            lit(s"] != current model $modelFp — stale score space; " +
              "run LmStore.restampLedger after a model refresh"))).isNull,
          col("lm_thr0")).as("lm_thr"))
  }

  /** Gate `docs` against PREBUILT per-source LM floors — the
    * corpus-floor gate: the batch-relative percentile is noisy at
    * production trigger rates (a 1-doc source is always its own floor
    * and always survives — the exact argument that moved the
    * heuristic gate to [[QualityStore]] floors in r13), while a floor
    * over the accumulated admission ledger is stable across batches
    * and evolves only as admissions append. Scoring is one pass over
    * the batch against the stored model; the floor frame broadcasts.
    * NULL-keep arms as everywhere: un-scoreable docs and sources with
    * no learned floor pass. */
  def lmGateAgainstFloors(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                          floors: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(scoreAgainst(docs, uni, bi)
        .select(col("doc_id"), col("avg_logprob")), Seq("doc_id"), "left")
      .join(broadcast(floors), Seq("source"), "left")
      .filter(col("avg_logprob").isNull || col("lm_thr").isNull ||
        col("avg_logprob") >= col("lm_thr"))
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        col("lm_thr"))

  /** RETRO-ACTIVE LM sweep — the reverse direction the gate needs once
    * it admits (the [[QualityStore.retroSweep]] shape on the trained
    * model): admission judged each doc against the model AND floors AT
    * ARRIVAL TIME; after [[refreshIfDrifted]] swaps the model (or the
    * ledger accumulates past a doc's admission-time distribution),
    * previously-admitted docs can sit below the CURRENT floor. This
    * re-SCORES every ledgered admission against the CURRENT stored
    * model — scores are model-dependent, so unlike the heuristic
    * sweep the ledgered score is not reusable; the text re-reads from
    * `docs` (the corpus store, the text source of truth) — derives
    * fresh per-source `p`-quantile floors over the re-scores, and
    * emits eviction verdicts. The delete-set applies to the curated
    * store via [[QualityStore.applyRetro]] / a
    * [[graft.sinks.StoreMaintenance.rewrite]], exactly like the
    * heuristic floor's refresh.
    *
    * The LEDGER is never trimmed (the admission history — the
    * [[QualityStore.retroSweep]] idempotence argument verbatim: same
    * ledger + same model → same floors → same verdicts). The
    * un-judgeable stay kept (zero-bigram docs, floor-less sources, and
    * ledgered docs whose TEXT is gone from `docs` — evicting on a
    * missing row would turn retention expiry into quality eviction).
    *
    * Scale shape: one ledger dedup, one doc_id semi-join restricting
    * the corpus BEFORE the scoring explode (only admissions re-pay the
    * bigram walk), the two model equi-joins, ONE tiny per-source
    * percentile broadcast back. Runs at maintenance cadence (after a
    * model refresh), never per batch. Returns (evictions, verdicts) —
    * verdict frames are backed by an internal eager checkpoint on the
    * ContextCleaner lifecycle (the [[QualityStore.retroSweep]] pin
    * discipline). */
  def retroSweep(docs: DataFrame, ledger: DataFrame, uni: DataFrame,
                 bi: DataFrame, p: Double = 0.1): (DataFrame, DataFrame) = {
    val led = ledger.select(col("doc_id"), col("source"))
      .dropDuplicates("doc_id")
    // restrict-then-score: only ledgered docs pay the bigram explode;
    // the corpus store's at-least-once replays dedup AFTER the
    // restriction (the renumberSweep ordering argument)
    val admitted = docs.join(led.select(col("doc_id")), "doc_id")
      .dropDuplicates("doc_id")
    val scored = scoreAgainst(admitted, uni, bi)
      .select(col("doc_id"), col("avg_logprob"))
    // eager: feeds the floor aggregate AND the verdict join; backs the
    // returned frames (ContextCleaner reclaims when the caller drops
    // them — never unpersist an escaping pin eagerly)
    val withScores = led.join(scored, Seq("doc_id"), "left")
      .localCheckpoint(true)
    val thr = withScores.filter(col("avg_logprob").isNotNull)
      .groupBy(col("source"))
      .agg(expr(s"percentile(avg_logprob, $p)").as("lm_thr"))
    val verdicts = withScores.join(broadcast(thr), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        col("lm_thr"),
        (col("avg_logprob").isNull || col("lm_thr").isNull ||
          col("avg_logprob") >= col("lm_thr")).as("keep"))
    (verdicts.filter(!col("keep"))
      .select(col("doc_id"), col("source"), col("avg_logprob"),
        col("lm_thr")), verdicts)
  }

  /** The LM refresh lifecycle CLOSED ON DISK (r16 — the
    * [[QualityStore.refreshCurated]] shape on the trained model;
    * until now [[retroSweep]]'s delete-set applied only by scaladoc
    * reference): sweep the ledgered admissions against the CURRENT
    * stored model, atomically rewrite the curated store at
    * `curatedPath` with the eviction set anti-joined away
    * ([[graft.sinks.StoreMaintenance.rewrite]] — a complete copy on
    * disk at every instant; [[QualityStore.applyRetro]] is the shared
    * anti-join, no forced broadcast for the same first-sweep-decile
    * reason). Idempotent AND cheap at steady state, by the same probe
    * argument verbatim: the ledger keeps evicted docs' rows by design
    * (the admission history), so an unchanged (ledger, model) pair
    * re-derives the same nonempty delete-set forever — the no-op
    * guard probes the CURATED store (is any evicted doc still
    * present?), never the delete-set's size. Duplicate-store
    * immunity for free: the anti-join drops every chunk row of an
    * evicted doc, replayed duplicates included. Runs at maintenance
    * cadence after a model refresh, never per batch. Returns the
    * applied (evictions, verdicts) for telemetry — both backed by
    * [[retroSweep]]'s internal pin, so the rewrite moves no files
    * under their plans. */
  def refreshCurated(spark: SparkSession, curatedPath: String,
                     docs: DataFrame, ledger: DataFrame, uni: DataFrame,
                     bi: DataFrame, p: Double = 0.1)
  : (DataFrame, DataFrame) = {
    val (evictions, verdicts) = retroSweep(docs, ledger, uni, bi, p)
    // the probe READS the store outside rewrite — repair a crashed
    // mid-swap state first (the QualityStore.refreshCurated argument)
    graft.sinks.StoreMaintenance.recover(curatedPath)
    // a curated store that does not exist yet is NOTHING-TO-EVICT, not
    // an error (r17, ADVICE): drift can trigger a cadence refresh
    // before the lane has written its first curated chunk (fresh
    // deployment), and a maintenance call must not die on the empty
    // state it exists to keep healthy — the verdicts still return for
    // telemetry, exactly as a store with no pending evictions would
    if (new java.io.File(curatedPath).exists()) {
      val pending = spark.read.parquet(curatedPath)
        .join(evictions.select(col("doc_id")), Seq("doc_id"), "left_semi")
      if (!pending.isEmpty)
        graft.sinks.StoreMaintenance.rewrite(spark, curatedPath)(
          QualityStore.applyRetro(_, evictions))
    }
    (evictions, verdicts)
  }

  /** RESTAMP a persisted admission ledger under the CURRENT model —
    * the recovery arm [[floorsChecked]]'s refusal points at: after
    * [[refreshIfDrifted]] swaps the counts, every ledgered score is
    * in the OLD model's space and the corpus-floor gate correctly
    * refuses to derive floors from it. This re-scores each ledgered
    * admission from TEXT against the current stored model (scores are
    * model-relative — the ledgered value is not reusable, the
    * [[retroSweep]] argument) and atomically rewrites the ledger with
    * the fresh scores stamped `modelFp`. The doc SET is preserved
    * (admission history is never trimmed); only scores and stamps
    * move. Ledgered docs whose text is gone from `docs` keep a NULL
    * score — un-judgeable, exactly the floor-exempt arm. One
    * restricted scoring pass (only ledgered docs pay the bigram
    * walk) + one atomic rewrite of a skinny store; maintenance
    * cadence, immediately after the model refresh.
    *
    * The restamped rows keep the `lm_thr` telemetry column (r17,
    * ADVICE: the streaming lane appends 5-column verdict rows; a
    * 4-column restamp would leave one parquet directory with mixed
    * schemas, and whether `lm_thr` survived a later read depended on
    * which file's footer won schema inference). The restamped value
    * is the sweep's RE-DERIVED current floor — the admission-history
    * reading of the column after a refresh (arrival-time floors are
    * old-score-space numbers, meaningless once the scores they
    * bounded are re-derived); [[floors]]/[[floorsChecked]] never read
    * it, so the gate is unaffected either way. */
  def restampLedger(spark: SparkSession, ledgerPath: String,
                    docs: DataFrame, uni: DataFrame, bi: DataFrame,
                    modelFp: Long): Unit = {
    val (_, verdicts) = retroSweep(docs,
      spark.read.parquet(ledgerPath), uni, bi)
    // verdicts are backed by retroSweep's internal eager pin — the
    // rewrite moves no files under the write plan
    graft.sinks.StoreMaintenance.rewrite(spark, ledgerPath)(_ =>
      verdicts.select(col("doc_id"), col("source"), col("avg_logprob"),
          col("lm_thr"))
        .withColumn("model_fp", lit(modelFp)))
  }

  /** The LM MAINTENANCE CADENCE as one call (r16 — the composed form
    * of the protocol the pieces define, so a production cadence job
    * cannot skip a step or run them out of order): gauge drift on
    * `recent` and — past the ceiling — (1) [[refreshIfDrifted]]
    * retrains + swaps the model (fingerprint bumps meta-first),
    * (2) [[restampLedger]] re-scores every ledgered admission under
    * the NEW model and rewrites the stamps (without this, every
    * corpus-floor lane REFUSES at its next batch — correct but
    * unavailable), (3) [[refreshCurated]] applies the new floors'
    * delete-set to the curated store on disk. No refresh → all three
    * no-op (the steady-state cadence call is one scoring pass over
    * `recent`). Returns whether a refresh ran, plus the eviction
    * count applied. Ordering is the protocol: restamp BEFORE the
    * curated refresh so the sweep's floors derive from current-model
    * scores; a crash between (1) and (2) leaves floorsChecked
    * refusing — fail-safe — and the next cadence call's gauge reads
    * the refreshed model as in-domain, skips (1), but the caller can
    * always run restamp directly (idempotent: re-scoring under the
    * same model rewrites the same values). */
  def maintainCadence(spark: SparkSession, modelRoot: String,
                      ledgerPath: String, curatedPath: String,
                      docs: DataFrame, reference: DataFrame,
                      recent: DataFrame, maxOovRate: Double = 0.5,
                      p: Double = 0.1): (Boolean, Long) = {
    val refreshed =
      refreshIfDrifted(spark, modelRoot, reference, recent, maxOovRate)
    if (!refreshed) (false, 0L)
    // a ledger that does not exist yet (fresh deployment, lane not
    // past its first batch) means no admissions to restamp and no
    // floors to re-derive — the refresh alone IS the cadence action
    // (the refreshCurated missing-store argument, one step earlier)
    else if (!new java.io.File(ledgerPath).exists()) (true, 0L)
    else {
      val uni = readUni(spark, modelRoot)
      val bi = readBi(spark, modelRoot)
      restampLedger(spark, ledgerPath, docs, uni, bi,
        readFingerprint(spark, modelRoot))
      val (evictions, _) = refreshCurated(spark, curatedPath, docs,
        spark.read.parquet(ledgerPath), uni, bi, p)
      (true, evictions.count())
    }
  }

  /** Current model fingerprint from the store's `_meta` sidecar — the
    * integer that names the SCORE SPACE: bumped by every
    * [[refreshIfDrifted]] swap, stamped onto every ledger append, and
    * asserted by [[floorsChecked]] before any floor derives. A root
    * with no sidecar reads as epoch 0 (models staged before the stamp
    * existed); [[fixtureModel]] stamps epoch 1 at staging. */
  def readFingerprint(spark: SparkSession, root: String): Long = {
    val meta = new java.io.File(s"$root/_meta")
    if (!meta.exists()) 0L
    else spark.read.parquet(meta.toString).head().getLong(0)
  }

  private def writeFingerprint(spark: SparkSession, root: String,
                               fp: Long): Unit = {
    import spark.implicits._
    val frame = Seq(fp).toDF("model_fp")
    if (new java.io.File(s"$root/_meta").exists())
      graft.sinks.StoreMaintenance.rewrite(spark, s"$root/_meta")(
        _ => frame)
    else frame.coalesce(1).write.parquet(s"$root/_meta")
  }

  /** Per-SOURCE drift telemetry over a [[scoreAgainst]] pass — the
    * retrain signal, aggregated where alerting happens: corpus-level
    * per-bigram average log-prob under the reference and the unseen-
    * bigram fraction, per arriving source. A drifting source shows a
    * falling average and a rising OOV fraction long before per-doc
    * scores are read individually (the `vocab_coverage` shape on the
    * THIRD trained artifact). One extra broadcast-joined projection +
    * one aggregate over |sources| groups. */
  def driftBySource(docs: DataFrame, uni: DataFrame,
                    bi: DataFrame): DataFrame =
    scoreAgainst(docs, uni, bi)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("n_oov_bigrams")).as("n_oov_bigrams"),
        sum(col("logprob_e6")).as("logprob_e6"))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("n_oov_bigrams"), col("logprob_e6"),
        (col("logprob_e6").cast("double") /
          (lit(1000000.0) * col("n_bigrams").cast("double")))
          .as("avg_logprob"),
        (col("n_oov_bigrams").cast("double") /
          col("n_bigrams").cast("double")).as("oov_bigram_rate"))
      .orderBy(col("source"))

  /** Corpus-level drift GAUGE over `recent` under the stored model —
    * the scalar the retrain policy reads: the unseen-bigram fraction
    * across all of `recent`'s bigrams (per-source detail:
    * [[driftBySource]]). 0.0 on a zero-bigram batch — no signal, not
    * NaN (the `vocabCoverage` convention). */
  def oovBigramRate(spark: SparkSession, modelRoot: String,
                    recent: DataFrame): Double = {
    val agg = scoreAgainst(recent, readUni(spark, modelRoot),
      readBi(spark, modelRoot))
      .agg(sum(col("n_oov_bigrams")).as("o"), sum(col("n_bigrams")).as("n"))
      .head()
    if (agg.isNullAt(1) || agg.getLong(1) == 0L) 0.0
    else agg.getLong(0).toDouble / agg.getLong(1).toDouble
  }

  /** The retrain POLICY — the telemetry→action loop closed for the
    * THIRD trained artifact ([[graft.ann.IvfMaintenance]] /
    * [[VocabMaintenance]] are the other two): gauge the unseen-bigram
    * fraction of `recent` under the stored model; past `maxOovRate`,
    * retrain both count tables on `reference` (the accumulated corpus
    * — the new trusted state) and atomically swap each through
    * [[graft.sinks.StoreMaintenance.rewrite]]. No gain gate here,
    * unlike the vocabulary loop: a count model over a superset corpus
    * cannot regress its own coverage the way a fixed-budget piece
    * table can, so the ceiling alone is the right trigger.
    *
    * Swap staleness (the [[graft.ann.IvfMaintenance]] precedent,
    * stated not hidden): `uni/` swaps first, `bi/` second; a reader
    * between the two sees new unigram denominators with the old pair
    * counts for one scoring pass — a bounded telemetry blur, never a
    * torn file set (each subdir is complete at every instant). The
    * ORDER matters for crash recovery, not just blur: a crash between
    * the two rewrites leaves new uni with OLD bi, whose unseen-pair
    * numerator keeps the OOV gauge HIGH, so the next cadence call
    * re-triggers the refresh and completes the swap. The reverse
    * order would be self-suppressing — new bi reads as low drift,
    * the gauge never fires again, and the mixed model persists
    * indefinitely instead of for one pass. Run at maintenance
    * cadence, never per batch: the gauge is one scoring pass over
    * `recent`, the retrain two aggregates over `reference`. Returns
    * whether a refresh ran. */
  def refreshIfDrifted(spark: SparkSession, modelRoot: String,
                       reference: DataFrame, recent: DataFrame,
                       maxOovRate: Double = 0.5): Boolean = {
    require(maxOovRate > 0 && maxOovRate < 1,
      s"maxOovRate must be in (0, 1), got $maxOovRate")
    if (oovBigramRate(spark, modelRoot, recent) <= maxOovRate) false
    else {
      // pin both fresh tables before any rewrite (reference may itself
      // be store-backed; the rewrite must not move files under a lazy
      // training plan), release on every path
      val freshUni = trainUnigrams(reference).localCheckpoint(true)
      val freshBi = trainBigrams(reference).localCheckpoint(true)
      try {
        // fingerprint FIRST (r16): the stamp names the score space, so
        // every crash window must read as refuse-or-retrigger, never
        // as silent mixing. Bumped-fp-over-old-counts (crash before
        // the swaps) makes floorsChecked REFUSE valid-but-now-
        // unverifiable floors — conservative, and the still-high OOV
        // gauge re-triggers and completes. The reverse order's window
        // (new counts under the old fp) would let a corpus-floor lane
        // gate new-model scores against old-model floors with the
        // check PASSING — the exact seam the stamp exists to close.
        writeFingerprint(spark, modelRoot,
          readFingerprint(spark, modelRoot) + 1)
        // uni/ next (scaladoc: a crash after it leaves old bi, whose
        // high OOV gauge re-triggers and completes the swap; bi-first
        // would read as low drift and strand the mixed model forever)
        graft.sinks.StoreMaintenance.rewrite(spark, s"$modelRoot/uni")(
          _ => freshUni)
        graft.sinks.StoreMaintenance.rewrite(spark, s"$modelRoot/bi")(
          _ => freshBi)
        true
      } finally {
        graft.sources.Checkpoints.unpersist(freshUni)
        graft.sources.Checkpoints.unpersist(freshBi)
      }
    }
  }

  /** The staged reference model for a fixture dir — trained once on
    * the accumulated-corpus convention (doc_id % 10 < 8, the split
    * every incremental family uses: the 80% is the trusted reference,
    * the arriving 20% is what gets scored). Returns the store root
    * with `uni/` and `bi/` beneath it. */
  def fixtureModel(s: SparkSession, dir: String): String =
    // v2 (r16, ADVICE): trainUnigrams' empty-token filter changed the
    // derivation (V and every add-one denominator on corpora with
    // whitespace-only docs) — the repo's own convention says a
    // derivation change bumps the staging key so a pre-change staged
    // model cannot be served stale against the updated oracle. Also
    // stamps fingerprint epoch 1 (the score-space name floorsChecked
    // asserts).
    Staging.stage(s"lm_ref_v2_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      val ref = Tables(s, dir, "documents").filter(col("doc_id") % 10 < 8)
      trainUnigrams(ref).write.parquet(s"$tmp/uni")
      trainBigrams(ref).write.parquet(s"$tmp/bi")
      import s.implicits._
      Seq(1L).toDF("model_fp").coalesce(1).write.parquet(s"$tmp/_meta")
    }

  def readUni(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/uni")
  def readBi(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/bi")

  /** The staged LM admission LEDGER: the (doc_id, source, avg_logprob)
    * of the docs with `doc_id % 40 < 20` under the staged reference
    * model — the frame a production lane's `lmLedgerPath` accumulates,
    * staged once per fixture fingerprint. NOT the % 10 split: the
    * fixture's split sources are DISJOINT (source keys off
    * doc_id % 20), so an 80%-only ledger would learn no floor for any
    * arriving source and the corpus gate would be vacuously NULL-kept
    * — and not the full table either, whose per-source population
    * EQUALS the arriving split's for every arriving source (each
    * source lives wholly inside one % 10 class), collapsing the
    * corpus floor into the batch floor. `% 40 < 20` takes exactly
    * half of every source — the "earlier batches of the same source"
    * an admission history actually holds — so the staged floors are
    * genuinely distinct from any batch's own percentile. Zero-bigram
    * docs carry a NULL score (ledgered — they were admitted — but
    * contributing nothing to floors). */
  def fixtureLedger(s: SparkSession, dir: String): String =
    // v3 (r16): derives from the v2 model (its derivation chain — a
    // restaged upstream means a restaged ledger) and stamps each row
    // with the model fingerprint it was scored under, as every lane
    // append now does.
    Staging.stage(s"lm_ledger_v3_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      val root = fixtureModel(s, dir)
      val led = Tables(s, dir, "documents")
        .filter(col("doc_id") % 40 < 20)
      led.select(col("doc_id"), col("source"))
        .join(scoreAgainst(led, readUni(s, root), readBi(s, root))
          .select(col("doc_id"), col("avg_logprob")),
          Seq("doc_id"), "left")
        .withColumn("model_fp", lit(readFingerprint(s, root)))
        .write.parquet(tmp)
    }

  private[text] val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** The scoring replay as CTEs ending in `lsc(doc_id, n_bigrams,
    * n_oov_bigrams, logprob_e6)` — reference counts from the 80%
    * split, batch bigrams from the 20%, LEFT joins + coalesce(0) for
    * the unseen cases, the e6-quantized ln. */
  private[text] val scoreCtes: String =
    s"""rt AS (SELECT doc_id, string_split($N, ' ') AS l
       |        FROM documents WHERE doc_id % 10 < 8),
       |runi AS (
       |  SELECT w, count(*) AS c1
       |  FROM (SELECT unnest(l) AS w FROM rt)
       |  WHERE len(w) > 0 GROUP BY w),
       |rv AS (SELECT count(*) AS v FROM runi),
       |rbi AS (
       |  SELECT w1, w2, count(*) AS c2 FROM (
       |    SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
       |    FROM rt WHERE len(l) >= 2)
       |  GROUP BY w1, w2),
       |bt AS (SELECT doc_id, string_split($N, ' ') AS l
       |       FROM documents WHERE doc_id % 10 >= 8),
       |bbi AS (
       |  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1,
       |         unnest(l[2:len(l)]) AS w2
       |  FROM bt WHERE len(l) >= 2),
       |lq AS (
       |  SELECT b.doc_id, rbi.c2 IS NULL AS oov,
       |    CAST(round(ln(CAST(coalesce(rbi.c2, 0) + 1 AS DOUBLE)
       |      / CAST(coalesce(runi.c1, 0) + rv.v AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS q
       |  FROM bbi b
       |  LEFT JOIN rbi ON rbi.w1 = b.w1 AND rbi.w2 = b.w2
       |  LEFT JOIN runi ON runi.w = b.w1
       |  CROSS JOIN rv),
       |lsc AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov_bigrams,
       |    CAST(sum(q) AS BIGINT) AS logprob_e6
       |  FROM lq GROUP BY doc_id)""".stripMargin

  /** The gate's replay fragments, composable downstream (the curation
    * LM twin embeds them): per-doc avg log-prob of the batch split
    * under the stored reference (`lsrc` — NULL for zero-bigram docs)
    * and the per-source 10th-percentile floors over the scored docs
    * (`lthr`). */
  private[text] val gateCtes: String =
    s"""$scoreCtes,
       |lsrc AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(s.logprob_e6 AS DOUBLE) / (1000000.0 * s.n_bigrams)
       |      AS avg_logprob
       |  FROM documents d LEFT JOIN lsc s ON s.doc_id = d.doc_id
       |  WHERE d.doc_id % 10 >= 8),
       |lthr AS (
       |  SELECT source, quantile_cont(avg_logprob, 0.1) AS lm_thr
       |  FROM lsrc WHERE avg_logprob IS NOT NULL GROUP BY source)"""
      .stripMargin

  /** The LEDGER side replayed: the half-per-source admission history
    * [[fixtureLedger]] stages (doc_id % 40 < 20 — see its scaladoc for
    * why neither the % 10 split nor the full table models a ledger on
    * this fixture) scored against the stored reference counts,
    * per-source `quantile_cont` floors over the scores. */
  private[text] val corpusFloorCtes: String =
    s"""at AS (SELECT doc_id, string_split($N, ' ') AS l
       |       FROM documents WHERE doc_id % 40 < 20),
       |rbb AS (
       |  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1,
       |         unnest(l[2:len(l)]) AS w2
       |  FROM at WHERE len(l) >= 2),
       |rlq AS (
       |  SELECT b.doc_id,
       |    CAST(round(ln(CAST(coalesce(rbi.c2, 0) + 1 AS DOUBLE)
       |      / CAST(coalesce(runi.c1, 0) + rv.v AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS q
       |  FROM rbb b
       |  LEFT JOIN rbi ON rbi.w1 = b.w1 AND rbi.w2 = b.w2
       |  LEFT JOIN runi ON runi.w = b.w1
       |  CROSS JOIN rv),
       |rlsc AS (
       |  SELECT doc_id, count(*) AS n, CAST(sum(q) AS BIGINT) AS lp
       |  FROM rlq GROUP BY doc_id),
       |lthrc AS (
       |  SELECT d.source,
       |    quantile_cont(CAST(r.lp AS DOUBLE) / (1000000.0 * r.n), 0.1)
       |      AS lm_thr
       |  FROM rlsc r JOIN documents d ON d.doc_id = r.doc_id
       |  GROUP BY d.source)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the production quality-filter shape: arriving docs (the % 10
    // incremental convention's 20%) scored against the PERSISTED
    // reference model trained on the other 80% — reference counts
    // read from the store, never re-derived from the batch
    QuerySpec("lm_score_ref", (s, d) => {
      val root = fixtureModel(s, d)
      scoreAgainst(
        Tables(s, d, "documents").filter(col("doc_id") % 10 >= 8),
        readUni(s, root), readBi(s, root)).orderBy(col("doc_id"))
    },
      s"""WITH $scoreCtes
         |SELECT doc_id, n_bigrams, n_oov_bigrams, logprob_e6,
         |  CAST(logprob_e6 AS DOUBLE) / (1000000.0 * n_bigrams)
         |    AS avg_logprob
         |FROM lsc ORDER BY doc_id""".stripMargin),

    // the retrain signal: the same scoring pass aggregated per source
    QuerySpec("lm_drift_by_source", (s, d) => {
      val root = fixtureModel(s, d)
      driftBySource(
        Tables(s, d, "documents").filter(col("doc_id") % 10 >= 8),
        readUni(s, root), readBi(s, root))
    },
      s"""WITH $scoreCtes
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
         |  CAST(sum(s.n_oov_bigrams) AS BIGINT) AS n_oov_bigrams,
         |  CAST(sum(s.logprob_e6) AS BIGINT) AS logprob_e6,
         |  CAST(sum(s.logprob_e6) AS DOUBLE)
         |    / (1000000.0 * CAST(sum(s.n_bigrams) AS DOUBLE))
         |    AS avg_logprob,
         |  CAST(sum(s.n_oov_bigrams) AS DOUBLE)
         |    / CAST(sum(s.n_bigrams) AS DOUBLE) AS oov_bigram_rate
         |FROM lsc s JOIN documents d ON d.doc_id = s.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // the score AS A FILTER — the CCNet shape the store was built for:
    // arriving docs kept iff their avg log-prob under the PERSISTED
    // reference clears their source's 10th-percentile floor
    QuerySpec("quality_gate_lm", (s, d) => {
      val root = fixtureModel(s, d)
      lmGateBySource(
        Tables(s, d, "documents").filter(col("doc_id") % 10 >= 8),
        readUni(s, root), readBi(s, root)).orderBy(col("doc_id"))
    },
      // the add-one scoring + per-source quantile floor replayed end to
      // end; the NULL-keep arms (zero-bigram doc, floor-less source)
      // spelled out exactly as the engine filters them
      s"""WITH $gateCtes
         |SELECT l.doc_id, l.source, l.avg_logprob, t.lm_thr
         |FROM lsrc l LEFT JOIN lthr t USING (source)
         |WHERE l.avg_logprob IS NULL OR t.lm_thr IS NULL
         |   OR l.avg_logprob >= t.lm_thr
         |ORDER BY l.doc_id""".stripMargin),

    // the model joins forced to shuffled-hash — the 100 TB
    // degradation path certified on THIS plan (result-equal to
    // lm_score_ref: the two rows share one oracle text)
    QuerySpec("lm_score_ref_bucketed", (s, d) => {
      val root = fixtureModel(s, d)
      scoreAgainst(
        Tables(s, d, "documents").filter(col("doc_id") % 10 >= 8),
        readUni(s, root), readBi(s, root), broadcastModel = false)
        .orderBy(col("doc_id"))
    },
      // ONE oracle text for both join strategies — the bucketed twin
      // changes the physical plan, never the semantics; sharing the
      // string is the proof (the domain_classify_bucketed discipline)
      s"""WITH $scoreCtes
         |SELECT doc_id, n_bigrams, n_oov_bigrams, logprob_e6,
         |  CAST(logprob_e6 AS DOUBLE) / (1000000.0 * n_bigrams)
         |    AS avg_logprob
         |FROM lsc ORDER BY doc_id""".stripMargin),
    // the CORPUS-floor form: arrivals gated against floors from the
    // persisted admission LEDGER (stable across batches — the
    // QualityStore corpus-floor argument on the trained model) instead
    // of their own batch's percentile; floors derive through the
    // CHECKED form (every ledger row's model_fp asserted against the
    // store's current fingerprint in-plan)
    QuerySpec("quality_gate_lm_corpus", (s, d) => {
      val root = fixtureModel(s, d)
      lmGateAgainstFloors(
        Tables(s, d, "documents").filter(col("doc_id") % 10 >= 8),
        readUni(s, root), readBi(s, root),
        floorsChecked(s.read.parquet(fixtureLedger(s, d)),
          readFingerprint(s, root))).orderBy(col("doc_id"))
    },
      // arrivals' scores (lsrc) gated against the LEDGER-derived
      // per-source floors (lthrc) — same NULL-keep arms
      s"""WITH $gateCtes,
         |$corpusFloorCtes
         |SELECT l.doc_id, l.source, l.avg_logprob, t.lm_thr
         |FROM lsrc l LEFT JOIN lthrc t USING (source)
         |WHERE l.avg_logprob IS NULL OR t.lm_thr IS NULL
         |   OR l.avg_logprob >= t.lm_thr
         |ORDER BY l.doc_id""".stripMargin),

    // the gate's reverse direction: every ledgered admission (fixture:
    // the arriving split, admitted as-is) re-scored against the
    // CURRENT stored model and re-judged at the current floors
    QuerySpec("lm_retro", (s, d) => {
      val root = fixtureModel(s, d)
      val docs = Tables(s, d, "documents")
      retroSweep(docs,
        docs.filter(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), col("source")),
        readUni(s, root), readBi(s, root))._2.orderBy(col("doc_id"))
    },
      // the sweep's verdicts: every ledgered admission (the batch split)
      // with its re-score, current floor, and keep flag
      s"""WITH $gateCtes
         |SELECT l.doc_id, l.source, l.avg_logprob, t.lm_thr,
         |  (l.avg_logprob IS NULL OR t.lm_thr IS NULL
         |    OR l.avg_logprob >= t.lm_thr) AS keep
         |FROM lsrc l LEFT JOIN lthr t USING (source)
         |ORDER BY l.doc_id""".stripMargin),

    // the sweep's delete-set APPLIED — the pure frame form of
    // refreshCurated's rewrite (the quality_retro_refresh shape on the
    // trained model): the curated chunks of the ledgered epoch with
    // every below-current-floor doc's windows anti-joined away
    QuerySpec("lm_retro_refresh", (s, d) => {
      val root = fixtureModel(s, d)
      val docs = Tables(s, d, "documents")
      QualityStore.applyRetro(
        Curation.chunkDocs(docs.filter(col("doc_id") % 10 >= 8),
          window = 32, stride = 24),
        retroSweep(docs,
          docs.filter(col("doc_id") % 10 >= 8)
            .select(col("doc_id"), col("source")),
          readUni(s, root), readBi(s, root))._1)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // the delete-set applied to the ledgered epoch's curated chunks:
      // keep-set from the gate replay, chunk CTEs over the same split,
      // evicted docs' windows dropped
      s"""WITH $gateCtes,
         |l8 AS (SELECT doc_id, text FROM documents
         |       WHERE doc_id % 10 >= 8),
         |${Curation.chunkCtesSql(32, 24, "l8", "lch")},
         |keepd AS (
         |  SELECT l.doc_id FROM lsrc l LEFT JOIN lthr t USING (source)
         |  WHERE l.avg_logprob IS NULL OR t.lm_thr IS NULL
         |     OR l.avg_logprob >= t.lm_thr)
         |SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens
         |FROM lch c JOIN keepd k ON k.doc_id = c.doc_id
         |ORDER BY c.doc_id, c.chunk_idx""".stripMargin))
}
