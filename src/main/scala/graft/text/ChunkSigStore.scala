package graft.text

/** Persisted CHUNK-granularity signature store, at the granularity LLM
  * pipelines dedupe and train on: one (doc_id, chunk_idx, simhash64) row
  * per 32-token context window at stride 24 ever admitted, so the corpus
  * text is chunked and tokenized exactly once. The granularity is part
  * of the staging prefix: two granularities staged under one prefix
  * would judge w-token windows against differently-sized signatures.
  * Lifecycle and replay contract: [[graft.sinks.AppendStore]]. */
object ChunkSigStore extends graft.sinks.AppendStore(
  "chunk_sig_store_32_24", Seq("doc_id", "chunk_idx"),
  NearDup.chunkSigs64(_, 32, 24))
