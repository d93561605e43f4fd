package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{Staging, Tables}

/** An append-only parquet store whose rows are determined by `key`: the
  * read, append and compaction half every derived-state store shares.
  * `Nil` means whole-row distinct. [[AppendStore]] adds staging and
  * signing; stores whose staging is their own (the IVF index, the token
  * id store) take only this half. */
class KeyedStore(val key: Seq[String]) {

  /** The frame backing `path` — a plain parquet scan, no derivation in
    * the plan. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Append already-derived rows. Parquet append only adds files, so a
    * concurrent reader sees either the old or the new listing, never a
    * torn file. */
  def append(path: String, rows: DataFrame): Unit =
    rows.write.mode("append").parquet(path)

  /** Rewrite the store as one row per `key` (or its distinct rows), few
    * large files — the maintenance call between lane restarts, shedding
    * replayed-batch duplicates and per-micro-batch small files
    * (atomic-swap semantics: [[StoreMaintenance]]). */
  def compact(spark: SparkSession, path: String): Unit =
    StoreMaintenance.compactDistinct(spark, path, key)

  /** [[compact]] only when the store holds more than `maxFiles` data
    * files ([[StoreMaintenance.compactIfNeeded]]); true iff it ran. */
  def compactIfNeeded(spark: SparkSession, path: String,
                      maxFiles: Int): Boolean =
    StoreMaintenance.compactIfNeeded(spark, path, maxFiles, key)
}

/** Persisted signed state — "sign the corpus once, append per batch"
  * (the reference's own derived-state posture: persist, re-read per
  * refresh loop, `virginia/database/read_from.py:129-167`). Each
  * instance is one store: its staging `prefix`, its compaction `key`
  * and its derivation `sign` (the frame a document batch turns into).
  * An ingestion batch judges against a SCAN of signed state instead of
  * re-deriving it from the accumulated corpus; at 100 TB the corpus
  * text is the expensive thing to touch, and its signed state is orders
  * of magnitude smaller.
  *
  * Lifecycle:
  *   - [[stagedCorpus]] signs a corpus ONCE per (key, fixture
  *     fingerprint) via [[Staging]] — concurrent JVMs either see a
  *     complete store or stage their own copy. `prefix` keeps stores
  *     apart: two stores staged under one prefix would silently share
  *     the first-staged frame.
  *   - [[appendBatch]] / [[appendSigs]] / [[appendSurvivors]] append a
  *     batch's state as new parquet files and never rewrite existing
  *     state, so the store grows like a log. Append-only is what makes
  *     a lane replay-safe: `foreachBatch` delivers at least once, and a
  *     batch replayed after a failure between append and checkpoint
  *     commit only adds rows its key already determines.
  *   - [[compact]] / [[compactIfNeeded]] dedup on `key`. A key fully
  *     determines its row (same text, same signature), so key-dedup is
  *     observationally free while it sheds the replayed duplicates.
  *
  * The fixture stores split `source` (the `documents` table unless
  * given) by doc_id, fingerprinted on `documents.parquet`. */
class AppendStore(val prefix: String, key: Seq[String],
                  val sign: DataFrame => DataFrame,
                  source: (SparkSession, String) => DataFrame =
                    Tables(_, _, "documents"))
    extends KeyedStore(key) {

  /** Stage `corpus`'s signed frame once per (key, fixture fingerprint);
    * returns the store directory. */
  def stagedCorpus(key: String, fingerprintFile: java.io.File,
                   corpus: DataFrame): String =
    Staging.stage(s"${prefix}_$key", fingerprintFile) { tmp =>
      sign(corpus).write.parquet(tmp)
    }

  /** Sign `batch` and append its state to the store at `path`. */
  def appendBatch(path: String, batch: DataFrame): Unit =
    appendSigs(path, sign(batch))

  /** Append an ALREADY-signed frame — the lanes' entry, so a batch
    * signed once for its verdict is not signed again for the append. */
  def appendSigs(path: String, sigs: DataFrame): Unit = append(path, sigs)

  /** Sign and append only the `is_new` docs of `verdict` — production
    * callers append the SURVIVORS of incremental dedup, so the store
    * tracks exactly the retained corpus. */
  def appendSurvivors(path: String, batch: DataFrame,
                      verdict: DataFrame): Unit =
    appendBatch(path, batch.join(
      verdict.filter(col("is_new")).select(col("doc_id")), "doc_id"))

  private def fixture(s: SparkSession, dir: String, name: String,
                      keep: Column): String =
    stagedCorpus(s"${name}_v1_$dir",
      new java.io.File(dir, "documents.parquet"),
      source(s, dir).filter(keep))

  /** The accumulated corpus (doc_id % 10 < 8, the incremental query
    * family's convention). */
  def fixtureCorpusStore(s: SparkSession, dir: String): String =
    fixture(s, dir, "corpus", col("doc_id") % 10 < 8)

  /** The benchmark suite (doc_id < 10, the decontamination convention) —
    * STATIC judge state: signed once, ever, and only ever scanned. */
  def fixtureBenchmarkStore(s: SparkSession, dir: String): String =
    fixture(s, dir, "benchmark", col("doc_id") < 10)

  /** The benchmark in two installments for the retro-active sweeps: the
    * BASE suite (doc_id < 5) the lane first judged against, and the
    * DELTA (5 ≤ doc_id < 10) published at refresh time. */
  def fixtureBenchmarkBaseStore(s: SparkSession, dir: String): String =
    fixture(s, dir, "benchmark_base", col("doc_id") < 5)

  def fixtureBenchmarkDeltaStore(s: SparkSession, dir: String): String =
    fixture(s, dir, "benchmark_delta",
      col("doc_id") >= 5 && col("doc_id") < 10)
}
