package graft.multimodal

/** Persisted 64-bit byte-SimHash signature store for MEDIA assets: every
  * payload is signed ONCE (the pass that reads every payload byte, the
  * dominant cost of media near-dup at 10⁹ assets) into one
  * (doc_id, simhash64) long per asset, and its fixture stores split
  * [[Multimodal.assetStore]]. The signature column is named `simhash64`
  * deliberately: the incremental judge is the text family's shared
  * banded core (`NearDup.simhashIncremental64BothSigs`), width- and
  * modality-agnostic once signatures exist. The staging prefix is its
  * own for the same reason: under [[graft.text.SimHashStore]]'s prefix
  * the media judge would be served text signatures. Lifecycle and replay
  * contract: [[graft.sinks.AppendStore]]. */
object MediaSigStore extends graft.sinks.AppendStore(
  "media_sig_store", Seq("doc_id"), Multimodal.mediaSigs64(_),
  Multimodal.assetStore(_, _))
