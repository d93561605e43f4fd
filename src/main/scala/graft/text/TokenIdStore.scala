package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sinks.StoreMaintenance
import graft.sources.{Staging, Tables}

/** Persisted NUMERICALIZED token ids with an id-space VERSION column —
  * the operator behind the contract [[VocabMaintenance]] states in
  * prose: "ids minted under the old vocabulary are not comparable to
  * ids under the new one, so a retrain marks a VERSION boundary —
  * re-numericalize (or version-tag) downstream id streams". This store
  * IS that downstream id stream, and [[renumberSweep]] is the
  * enforcement: after a maintenance swap, every doc still carrying ids
  * from an older version is re-numericalized under the new piece set,
  * so a training job reading the store never mixes id spaces.
  *
  * Schema: (doc_id, token_idx, piece_id, vocab_version) — the flat
  * walk-ordered frame [[TextOps.tokenIdsBpe]] emits, minus the piece
  * string (ids reconstruct the text by the OOV-range contract: id <
  * |V| → vocab piece, id ≥ |V| → code point id − |V|), plus the
  * version the ids were minted under. One INT per token of extra
  * state — the version column is the whole mechanism.
  *
  * Scale shape of the sweep: ONE store scan finds the stale doc-id set
  * (a bounded projection, not token rows — distinct doc ids), only
  * THOSE docs re-pay the tokenization walk (a re-numericalization
  * after a rare maintenance swap touches exactly the not-yet-migrated
  * population, which shrinks to zero as sweeps run), and the rewrite
  * is the compaction-grade atomic swap every store here uses
  * ([[StoreMaintenance.rewrite]]). Current-version rows are never
  * re-walked. Runs at maintenance cadence (after a vocabulary swap),
  * never per batch.
  *
  * Steady-state compaction ([[compact]], [[graft.sinks.KeyedStore]]) is
  * keyed on (doc_id, token_idx, vocab_version): (doc_id, token_idx)
  * determines piece_id under a fixed version, so key-dedup is
  * observationally free. It is what sheds an at-least-once replay's
  * duplicate CURRENT-version rows — [[renumberSweep]]'s rewrite only runs
  * when some doc is stale, so a fully-migrated store still needs the
  * ordinary compaction cadence.
  */
object TokenIdStore extends graft.sinks.KeyedStore(
  Seq("doc_id", "token_idx", "vocab_version")) with QueryModule {

  /** Numericalize `docs` under `vocab`, tagging every id row with the
    * id-space version it was minted under — the append-side derivation
    * ([[TextOps.tokenIdsBpe]]'s walk + id join, one narrow per-row
    * pass and one broadcast against the topK-row vocab dimension). */
  def numericalize(docs: DataFrame, vocab: DataFrame,
                   version: Int): DataFrame =
    TextOps.tokenIdsBpe(docs, vocab)
      .select(col("doc_id"), col("token_idx"), col("piece_id"),
        lit(version).cast("int").as("vocab_version"))

  /** Append an already-numericalized frame — the ingest entry. */
  override def append(path: String, ids: DataFrame): Unit =
    super.append(path, ids.select(col("doc_id"), col("token_idx"),
      col("piece_id"), col("vocab_version")))

  /** The RE-NUMERICALIZATION sweep — run once after a vocabulary swap
    * moved the live store to id-space `version`: every doc whose
    * stored rows carry any OTHER version is re-tokenized from `docs`
    * (the corpus store — the text source of truth) under `vocab` (the
    * swapped piece frame) and rewritten; docs already at `version`
    * keep their rows untouched (deduplicated on (doc_id, token_idx)
    * while the rewrite is running anyway — steady-state replay
    * duplicates on a store with NO stale docs are [[compact]]'s job,
    * since a no-op sweep returns without rewriting).
    *
    * Post-conditions (RenumberSpec asserts both): the store holds
    * exactly ONE version — `version` — and its ids equal a fresh
    * [[numericalize]] of the same docs (the CORRECTNESS row's oracle
    * re-derives that numericalization in SQL from the learned merge
    * chain). A stale doc ABSENT from `docs` is dropped: its text is
    * gone, ids under the new space cannot be minted for it, and
    * carrying old-space ids forward would silently mix id spaces —
    * the exact corruption this sweep exists to prevent. A doc with
    * rows under BOTH the current and an older version (appended again
    * after the swap) is re-numericalized whole, so it cannot end up
    * with duplicate current-version rows.
    *
    * Returns the number of docs re-numericalized. */
  def renumberSweep(spark: SparkSession, path: String, docs: DataFrame,
                    vocab: DataFrame, version: Int): Long = {
    // bounded: distinct stale doc ids, never token rows. Eager — the
    // rewrite below moves the files this plan reads.
    val staleDocs = read(spark, path)
      .filter(col("vocab_version") =!= version)
      .select(col("doc_id")).distinct()
      .localCheckpoint(true)
    // both pins are internal to this sweep — released in finally (the
    // exception-safe discipline: a rewrite failing mid-sweep on a
    // retrying maintenance job must not accumulate pinned token-row
    // copies per attempt)
    try {
      val n = staleDocs.count()
      if (n > 0) {
        // only stale docs re-pay the walk; eager for the same reason.
        // RESTRICT first, dedup second: the corpus store's
        // at-least-once appends permit replayed key-identical rows
        // (un-deduped, a replayed doc would fan the join out and mint
        // every token row twice), but deduplicating the whole corpus
        // would shuffle every doc's text to migrate a handful — the
        // join to the (tiny, broadcastable) stale set cuts the
        // population BEFORE the dedup exchange
        val fresh = numericalize(
          docs.join(staleDocs, "doc_id").dropDuplicates("doc_id"),
          vocab, version).localCheckpoint(true)
        try StoreMaintenance.rewrite(spark, path)(st =>
          st.filter(col("vocab_version") === version)
            .join(staleDocs, Seq("doc_id"), "left_anti")
            .dropDuplicates("doc_id", "token_idx")
            .unionByName(fresh))
        finally graft.sources.Checkpoints.unpersist(fresh)
      }
      n
    } finally graft.sources.Checkpoints.unpersist(staleDocs)
  }

  /** The staged renumbered fixture store — the full lifecycle run once
    * per fixture fingerprint: seed ids under the FREQUENCY fixture
    * vocabulary (version 1, [[BpeVocab.fixtureStore]]), swap the id
    * space to the LEARNED merge vocabulary (version 2,
    * [[BpeMerges.mergeVocab]] — the trainer the maintenance loop
    * plugs in), sweep. What remains is version-2 ids for the whole
    * corpus — which the CORRECTNESS oracle certifies against a fresh
    * SQL numericalization under the learned pieces. */
  def fixtureRenumberedStore(s: SparkSession, dir: String): String =
    Staging.stage(s"token_ids_renum_v1_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      val docs = Tables(s, dir, "documents")
      val work = java.nio.file.Files
        .createTempDirectory("token_ids_renum_").toString
      val store = s"$work/ids"
      append(store, numericalize(docs,
        BpeVocab.read(s, BpeVocab.fixtureStore(s, dir)), 1))
      renumberSweep(s, store, docs, BpeMerges.mergeVocab(s, dir), 2)
      read(s, store).write.parquet(tmp)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    }

  val specs: Seq[QuerySpec] = Seq(
    // the vocab-version lifecycle end to end: ids seeded under the
    // frequency vocab (v1), the learned merge vocab swapped in (v2),
    // the sweep re-numericalized — output must equal a fresh
    // numericalization under the learned pieces. Deliberately UNSORTED
    // (the compare sorts): this is the suite's largest frame (one row
    // per corpus token under a tiny learned vocab), and a global
    // ordering is no part of the store's contract — a training job
    // reads per-shard order from epoch_shuffle, never a corpus sort
    QuerySpec("token_ids_renumber", (s, d) =>
      read(s, fixtureRenumberedStore(s, d)),
      // the fresh numericalization under the LEARNED vocabulary,
      // re-derived from the merge chain: ids are the 0-based rank of
      // distinct learned pieces by earliest merge rank (== idFrame's
      // (n_occurrences DESC, piece ASC) under mergeVocab's rank-derived
      // counts), OOV units map to |V| + code point
      BpeMerges.learnedIdsSql),
    // the store's LOSSLESSNESS contract as an operator: the renumbered
    // store's ids — no piece strings, ids alone — decoded under the
    // learned vocabulary and compared against each doc's normalized
    // text (spaces stripped: the walk consumes them tokenlessly).
    // ok = true everywhere IS the "ids reconstruct the text" scaladoc
    // claim, machine-checked per doc
    QuerySpec("token_decode", (s, d) =>
      TextOps.decodeRoundTrip(
        read(s, fixtureRenumberedStore(s, d)),
        Tables(s, d, "documents"),
        BpeMerges.mergeVocab(s, d)).orderBy(col("doc_id")),
      // decode replay: the learned-id stream joined back to the piece
      // table (OOV ids through chr(id − |V|) — the codepoint_char
      // kernel's DuckDB twin), reassembled in token order, compared to
      // the space-stripped normalization
      s"""WITH RECURSIVE ${BpeMerges.learnedIdsCtes},
         |dec AS (
         |  SELECT l.doc_id, count(*) AS n_tokens,
         |    string_agg(coalesce(v.piece,
         |        chr(CAST(l.piece_id - (SELECT count(*) FROM lv)
         |          AS INTEGER))),
         |      '' ORDER BY l.token_idx) AS decoded
         |  FROM lids l LEFT JOIN lvid v USING (piece_id)
         |  GROUP BY l.doc_id)
         |SELECT dec.doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  (decoded = replace(d.s, ' ', '')) AS ok
         |FROM dec JOIN lbd d ON d.doc_id = dec.doc_id
         |ORDER BY dec.doc_id""".stripMargin))
}
