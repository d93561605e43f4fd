package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

/** Persisted window-gram store for exact-substring dedup: [[SpanDedup]]'s
  * windows as a single `gram` column, so every later batch is cleaned
  * against a plain SCAN of stored grams. Membership is all the clean
  * path reads, so the store compacts to its distinct rows (`Nil` key):
  * a duplicate gram can only re-cover what it already covers.
  * Lifecycle and replay contract: [[graft.sinks.AppendStore]]. */
object GramStore extends graft.sinks.AppendStore(
  "gram_store", Nil, SpanDedup.grams(_)) {

  /** Window `cleaned` (the output frame of
    * [[SpanDedup.spanCleanAgainstGrams]]) and append its grams — the
    * grams of the CLEANED text, since stripped spans are in the store by
    * definition. Windows run PER SURVIVING CONTIGUOUS SEGMENT
    * (`cleaned_segments`), not over the concatenated cleaned text: a
    * token run bridging a removal seam never existed contiguously in any
    * admitted document, so windowing the joined text would append
    * phantom grams that could wrongly strip a later batch containing
    * that seam sequence as novel text. Segments shorter than W tokens
    * contribute no grams — those runs were never a full window in the
    * admitted text either. */
  def appendCleaned(path: String, cleaned: DataFrame): Unit =
    appendBatch(path, cleaned.select(col("doc_id"),
      explode(col("cleaned_segments")).as("text")))
}
