package graft.text

/** Persisted 64-bit SimHash signature store: one (doc_id, simhash64) long
  * per admitted doc, the narrowest of the text stores (8 bytes per doc
  * against MinHash's shingle and band arrays and the gram store's window
  * rows). Its benchmark fixture store is the grid gate's FUZZY arm
  * (`curation_lane_grid_twin`): it catches paraphrased whole-doc
  * leakage whose every window drifts past the [[ChunkSigStore]] radius
  * while the doc signature stays within it. Lifecycle and replay
  * contract: [[graft.sinks.AppendStore]]. */
object SimHashStore extends graft.sinks.AppendStore(
  "simhash_store", Seq("doc_id"), NearDup.simhash64(_))
