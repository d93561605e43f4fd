package graft.text

/** Persisted MinHash signature store: one [[NearDup.signatureFrame]] row
  * (doc_id, shingles, bsigs) per admitted doc — narrow relative to the
  * corpus text, splittable, and readable with zero recompute. Lifecycle
  * and replay contract: [[graft.sinks.AppendStore]]. */
object SignatureStore extends graft.sinks.AppendStore(
  "sig_store", Seq("doc_id"), NearDup.signatureFrame(_))
