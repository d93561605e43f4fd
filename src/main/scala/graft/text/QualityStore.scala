package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-source QUALITY state — the store-backed lifecycle the
  * dedup families already have ([[SimHashStore]] et al.), applied to
  * the curation lane's quality stage: one (doc_id, source, quality)
  * row per admitted doc, so every later batch gates against the
  * CORPUS quality distribution instead of its own batch-relative
  * percentile (noisy at production trigger rates — a 1-doc source is
  * always its own floor and always survives).
  *
  * State is one double + the key per admitted doc — the same order as
  * the signature stores' 8 bytes/doc — and the floor is ONE per-source
  * exact-percentile aggregate over a scan of this store (a
  * |sources|-row broadcast). The fixture keeps the percentile EXACT so
  * the DuckDB oracle replays the floor bit-exactly
  * (`quantile_cont` shares Spark's linear interpolation — the
  * `quality_quantile_gate` precedent); at 100 TB swap
  * `percentile` → `percentile_approx` over the SAME scan (fixed-size
  * mergeable sketch, the `approx_corpus_stats` pairing), or fold a
  * merged sketch into [[compact]] — the plan shape does not change.
  *
  * Lifecycle and replay contract: [[graft.sinks.AppendStore]], keyed on
  * doc_id (a doc's quality is determined by its text).
  */
object QualityStore extends graft.sinks.AppendStore("quality_store",
  Seq("doc_id"), _.select(col("doc_id"), col("source"),
    TextOps.qualityCol(col("text")).as("quality"))) {

  /** The (doc_id, source, quality) derivation this store persists —
    * the SAME composite score the per-source floor gates on
    * ([[TextOps.qualityCol]]). */
  def qualityFrame(docs: DataFrame): DataFrame = sign(docs)

  /** Append an ALREADY-derived (doc_id, source, quality) frame — the
    * lane's entry (survivors scored once for the gate are not
    * re-scored for the append). */
  def appendQualities(path: String, qualities: DataFrame): Unit =
    append(path,
      qualities.select(col("doc_id"), col("source"), col("quality")))

  /** Per-source floors from a store scan: the `p`-quantile of each
    * source's stored qualities, one tiny aggregate → a |sources|-row
    * frame the gate broadcasts. */
  def floors(qualities: DataFrame, p: Double): DataFrame =
    qualities.groupBy(col("source"))
      .agg(expr(s"percentile(quality, $p)").as("q_thr"))

  /** Sketch-backed per-source floors — the 100 TB production form the
    * header paragraph promised and r13 measures: `percentile_approx`
    * over the SAME store scan, a fixed-size mergeable Greenwald-Khanna
    * summary per source (map-side partials merge, so the aggregate
    * never holds a source's values — the property the exact percentile
    * lacks at corpus scale). Same plan shape as [[floors]]: one tiny
    * aggregate → a |sources|-row broadcast.
    *
    * Determinism contract: while each source's stored count stays
    * under `accuracy`, the GK summary retains every value exactly
    * (merge threshold 2·count/accuracy < 2 can never absorb a sample)
    * and the query returns the order statistic at 1-based rank
    * ceil(p·n) — which the DuckDB oracle replays with the SAME IEEE
    * arithmetic (`ceil(p * count)` computes identically in both
    * engines, including the p·n float-boundary cases). Past the exact
    * regime the answer is within ±count/accuracy ranks; the
    * [[floorParityProbe]] telemetry measures what that does to
    * admissions. */
  def floorsApprox(qualities: DataFrame, p: Double,
                   accuracy: Int = 10000): DataFrame =
    qualities.groupBy(col("source"))
      .agg(expr(s"percentile_approx(quality, $p, $accuracy)")
        .as("q_thr_approx"))

  /** Exact-vs-approx floor PARITY PROBE — the telemetry frame that
    * prices the `percentile` → `percentile_approx` swap (the
    * recall-sweep precedent applied to the quality stage): per source,
    * both floors from the SAME store scan, their divergence, and what
    * the divergence does where it matters — the admission decisions on
    * a batch (`n_admission_flips` = batch docs the two floors
    * disagree on). Run at retrain cadence, not per batch; a batch
    * source the store has never seen has no floor on either side and
    * drops out (the gate keeps such docs unconditionally — there is
    * nothing to compare). */
  def floorParityProbe(store: DataFrame, batch: DataFrame,
                       p: Double = 0.1, accuracy: Int = 10000): DataFrame = {
    val ex = floors(store, p).withColumnRenamed("q_thr", "q_thr_exact")
    val ap = floorsApprox(store, p, accuracy)
    qualityFrame(batch)
      .join(broadcast(ex), Seq("source"))
      .join(broadcast(ap), Seq("source"))
      .groupBy(col("source"), col("q_thr_exact"), col("q_thr_approx"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("quality") >= col("q_thr_exact"), 1L).otherwise(0L))
          .as("n_admit_exact"),
        sum(when(col("quality") >= col("q_thr_approx"), 1L).otherwise(0L))
          .as("n_admit_approx"),
        sum(when((col("quality") >= col("q_thr_exact")) =!=
          (col("quality") >= col("q_thr_approx")), 1L).otherwise(0L))
          .as("n_admission_flips"))
      .select(col("source"), col("q_thr_exact"), col("q_thr_approx"),
        (col("q_thr_approx") - col("q_thr_exact")).as("thr_divergence"),
        col("n_batch"), col("n_admit_exact"), col("n_admit_approx"),
        col("n_admission_flips"))
      .orderBy(col("source"))
  }

  /** RETRO-ACTIVE quality sweep — the floor-REFRESH lifecycle, the last
    * admission gate that lacked one (decontam and media stores got
    * their reverse direction in r13): admission gated each doc against
    * the floor AT ARRIVAL TIME, and as the ledger accumulated past that
    * state the per-source floor moved — so previously-admitted docs can
    * now sit below it. This sweep re-judges EVERY ledgered admission
    * against the CURRENT floors and emits eviction verdicts; the
    * delete-set applies to the downstream CURATED store
    * ([[applyRetro]] / [[refreshCurated]]), exactly like
    * [[NearDup.retroSweep]]'s excisions.
    *
    * The quality LEDGER itself is never trimmed: it is the admission
    * HISTORY the floor is defined over. Evicting ledger rows would
    * re-derive a higher floor from the survivors on every pass — each
    * sweep eating another decile of the store forever; keeping the full
    * ledger makes the sweep IDEMPOTENT (same ledger → same floors →
    * same verdicts; spec-pinned), the exact discipline under which the
    * signature stores keep judged-duplicate signatures.
    *
    * Scale shape: one ledger scan (doc_id-deduped — the at-least-once
    * append contract), ONE tiny per-source aggregate broadcast back
    * over it, and the delete-set is eviction rows only; the curated
    * store streams through one broadcast anti-join at refresh. Runs at
    * maintenance cadence, never per batch.
    *
    * Returns (evictions, verdicts): the below-floor admissions, and
    * every ledgered doc's (quality, current floor, keep) row. */
  def retroSweep(qualities: DataFrame,
                 p: Double = 0.1): (DataFrame, DataFrame) = {
    // eager: the deduped ledger feeds the floor aggregate AND the
    // verdict join — unpinned, the store would re-scan per consumer
    // (and a caller's later rewrite could move files under the plan).
    // NOT explicitly released: the returned verdict/eviction frames
    // are backed by this checkpoint and live as long as the caller
    // consumes them — the ContextCleaner reclaims the blocks when the
    // frames drop (the packTokens lifecycle), unlike the internal-only
    // pins Checkpoints.unpersist frees eagerly.
    val led = qualities.dropDuplicates("doc_id").localCheckpoint(true)
    val verdicts = led.join(broadcast(floors(led, p)), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"), col("q_thr"),
        (col("quality") >= col("q_thr")).as("keep"))
    val evictions = verdicts.filter(!col("keep"))
      .select(col("doc_id"), col("source"), col("quality"), col("q_thr"))
    (evictions, verdicts)
  }

  /** Apply a [[retroSweep]] delete-set to a curated frame: every chunk
    * (or row) of an evicted doc drops. One anti-join with NO forced
    * broadcast: unlike the decontam excision lists (near-empty at
    * benchmark cadence), a FIRST floor sweep over a long-accumulated
    * ledger can evict up to a full decile of every source's admissions
    * — unbounded in corpus size, past any broadcast limit at the
    * 100 TB posture. Spark/AQE broadcasts the delete-set exactly when
    * it actually is small (the steady-state case). */
  def applyRetro(curated: DataFrame, evictions: DataFrame): DataFrame =
    curated.join(evictions.select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** The refresh lifecycle CLOSED: sweep the ledger, atomically rewrite
    * the curated store at `curatedPath` with the delete-set applied
    * ([[graft.sinks.StoreMaintenance.rewrite]] — a complete copy on
    * disk at every instant). Idempotent AND cheap at steady state: the
    * ledger keeps evicted docs' rows by design, so an unchanged ledger
    * re-derives the same NONEMPTY delete-set forever — the no-op guard
    * must therefore probe the CURATED store (is any evicted doc still
    * present?), never the delete-set's size. The probe is one
    * early-out semi-join read pass; without it every cadence call
    * after the first would re-copy the lifecycle's largest artifact to
    * delete nothing. Returns the applied (evictions, verdicts) for
    * telemetry. */
  def refreshCurated(spark: SparkSession, curatedPath: String,
                     qualities: DataFrame,
                     p: Double = 0.1): (DataFrame, DataFrame) = {
    val (evictions, verdicts) = retroSweep(qualities, p)
    // the probe READS the store outside rewrite, so repair the
    // crashed-mid-swap state first or a stranded store would throw on
    // every retry (rewrite used to do this implicitly when it was
    // unconditional)
    graft.sinks.StoreMaintenance.recover(curatedPath)
    // no extra pin: the delete-set derives from the sweep's ledger
    // checkpoint and the broadcast floors — never from curatedPath —
    // so the rewrite moves no files under its plan (the probe below
    // finishes before the rewrite starts). Priced trade: when
    // evictions ARE pending (the rare first sweep), the probe's pass
    // is thrown away and the store is read twice — accepted, because
    // the probe exists for the COMMON case (every later cadence call
    // is a pure read instead of a full re-copy).
    val pending = spark.read.parquet(curatedPath)
      .join(evictions.select(col("doc_id")), Seq("doc_id"), "left_semi")
    if (!pending.isEmpty)
      graft.sinks.StoreMaintenance.rewrite(spark, curatedPath)(
        applyRetro(_, evictions))
    (evictions, verdicts)
  }
}
