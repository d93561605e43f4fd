package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language-ID heuristic, quality scoring,
  * token counting, fingerprinting, exact dedup).
  *
  * Every operator is per-row narrow work (codegen'd string/array
  * expressions) except dedup, which is a single hash aggregate on the
  * content hash — the 100 TB-safe posture: no sort, no window over the
  * whole corpus, no driver-side state. All regex/array semantics are
  * mirrored exactly in the DuckDB oracle (same patterns, same collation
  * on ASCII tokens).
  */
object TextOps extends QueryModule {
  /** Whitespace-collapsed lowercase normalization — the native one-pass
    * `norm_text` kernel (`functions/NormText.scala`), byte-exact with
    * `regexp_replace(lower(trim(text)), "\\s+", " ")` (NormTextSpec
    * compares them on fixture docs and adversarial strings) and with the
    * DuckDB oracles' regex form. */
  def norm(text: Column): Column = call_function("norm_text", text)

  private def tokens(n: Column): Column = split(n, " ")

  private val enStop = Seq("the", "a", "and", "of", "to", "in", "is", "on",
    "for", "with")
  private val esStop = Seq("el", "la", "de", "que", "y", "en", "un", "los",
    "se", "por")
  private val frStop = Seq("le", "les", "et", "des", "une", "du", "est",
    "dans", "pour", "au")

  /** Stopword-hit count via the native codegen'd `count_in` expression
    * (`functions/CountInSet.scala`) — the HOF form
    * `size(filter(toks, _ IN set))` is interpreted and allocates. */
  private def stopHits(toks: Column, stop: Seq[String]): Column =
    call_function("count_in", toks +: stop.map(lit): _*)

  /** The composite quality score of a raw `text` column — the exact
    * expression [[qualityScore]] selects, exposed so composing
    * operators ([[Curation.qualityQuantileGateBySource]]) can carry
    * extra columns alongside it without a corpus self-join back onto
    * the scored frame. */
  private[text] def qualityCol(text: Column): Column = {
    val toks = tokens(norm(text))
    least(size(toks).cast("double") / lit(100.0), lit(1.0)) *
      (lit(1.0) - stopHits(toks, enStop).cast("double") / size(toks))
  }

  /** Deterministic document fingerprint: hash of the sorted distinct token
    * set (word-shingle analog of a rolling-hash fingerprint). */
  def fingerprint(n: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(n)))).cast("binary"))

  /** Normalization + content hash — the dedup key derivation. */
  def normalized(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(norm(col("text")).cast("binary")).as("content_hash"),
      length(norm(col("text"))).as("n_chars_norm"))

  /** Exact dedup: one hash aggregate per content hash — keeper = min id,
    * duplicate multiplicity alongside. Scales by partitioning alone. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(norm(col("text")).cast("binary")).as("h"))
      .groupBy(col("h").as("content_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Token counting: whitespace tokens + a BPE-ish regex segment count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("n", norm(col("text")))
      .select(
        col("doc_id"),
        size(tokens(col("n"))).as("ws_tokens"),
        regexp_count(col("n"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .as("bpe_segments"))

  /** Subword count of a raw text column via the codegen'd `bpe_count`
    * kernel (`functions/BpeCount.scala`): greedy longest-match against
    * the given merge vocabulary (a [[BpeVocab]] load — vocab is DATA,
    * staged per fixture, never a source constant) with single-char
    * fallback, spaces free. The pieces travel BY REFERENCE — one
    * constructor value on the expression, compiled once per plan into
    * a longest-prefix trie that rides `addReferenceObj` to executors —
    * so plan size, analysis, and plan serialization are O(1) in |V| (a
    * 50k-merge production vocab costs the plan nothing; the r12 form
    * carried |V| literal expression children). One pass, whole-stage
    * codegen — the counter [[Curation.packTokens]] accepts for
    * tokenizer-faithful budget packing. */
  def bpeCountCol(text: Column, pieces: Seq[String]): Column =
    bpeCountRaw(norm(text), pieces)

  /** [[bpeCountCol]] over an ALREADY-normalized (or per-token) string
    * column — the entry the chunkers' per-token lambdas and
    * pre-normalized projections use. */
  private[text] def bpeCountRaw(s: Column, pieces: Seq[String]): Column =
    exprCol(graft.functions.BpeCount(colExpr(s), Nil, pieces))

  /** The ordered subword pieces themselves (`bpe_split` — same walk,
    * same staged vocabulary, same trie, same by-reference vocabulary
    * transport): what the model trains on after the counts have
    * budgeted the packing. */
  def bpeSplitCol(text: Column, pieces: Seq[String]): Column =
    exprCol(graft.functions.BpeSplit(colExpr(norm(text)), Nil, pieces))

  // Column <-> Expression bridging for by-reference kernel construction
  // (call_function can only pass expression children, which is exactly
  // the O(|V|)-literals transport the by-reference form removes)
  private def colExpr(c: Column) =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)
  private def exprCol(
      e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)

  /** Corpus TOKENIZATION — one (doc_id, token_idx, piece) row per
    * consumed subword unit, the flat frame a numericalization stage
    * (piece → id join against the vocab table) takes next. Scale
    * shape: pure per-row codegen (norm + one trie walk per doc) and a
    * generator explode — no shuffle anywhere; output size is the
    * corpus's true token count, the same rows the training set holds.
    * `posexplode` keeps the walk's emission order as an explicit
    * index, so downstream order never depends on row order. */
  def tokenizeBpe(docs: DataFrame, pieces: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
      posexplode(bpeSplitCol(col("text"), pieces)))
      .toDF("doc_id", "token_idx", "piece")

  /** NUMERICALIZATION — the tokenize→ids step a training pipeline ends
    * on: [[tokenizeBpe]]'s walk-ordered pieces joined against the
    * staged vocabulary's deterministic ids ([[BpeVocab.idFrame]]).
    * Single-code-point fallback units are out-of-vocabulary by
    * construction (learned pieces start at 2 chars) and map into the
    * RESERVED ID RANGE above the vocabulary — id = |V| + code point —
    * the byte/char-fallback convention real tokenizers use: distinct
    * OOV units keep distinct ids, so the id stream reconstructs the
    * text exactly (id < |V| → vocab piece; id ≥ |V| → the code point
    * id − |V|; round-trip-tested), where a single collapsed sentinel
    * (the r12 −1) could not. The code point derives from the native
    * `first_codepoint` kernel (`functions/FirstCodePoint.scala` — one
    * UTF-8 byte decode, no allocation; the r13.0 spelling
    * `conv(hex(encode(piece, 'UTF-32')), 16, 10)` built an encoder, a
    * buffer, a hex string, and a base-16 parse per OOV token and
    * showed up 2.7× on the 10× lap; the oracle's `unicode()` is the
    * same number). Evaluated only on the coalesce's null branch — per
    * OOV token, not per token. Scale
    * shape: per-row codegen walk + generator explode, then ONE
    * broadcast hash join against the topK-row vocab dimension — no
    * shuffle at any size.
    *
    * The vocab FRAME is the single source of truth: the kernel's piece
    * set is collected FROM it at plan build (a bounded topK-row
    * dimension read), so a mismatch between the walk's vocabulary and
    * the id frame's — where OOV ids |V|+cp would collide with real
    * rank ids and decode to wrong pieces — is unrepresentable by
    * construction, not guarded by a runtime cross-check. */
  def tokenIdsBpe(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val pieces = vocab.select(col("piece"))
      .collect().map(_.getString(0)).toSeq.sorted
    // a duplicate piece would take two rank ids and fan out the join —
    // a malformed vocabulary, rejected at the boundary
    require(pieces.distinct.size == pieces.size,
      "vocab frame carries duplicate pieces — ids would be ambiguous")
    val vocabSize = pieces.size
    tokenizeBpe(docs, pieces)
      .join(broadcast(BpeVocab.idFrame(vocab)), Seq("piece"), "left")
      .select(col("doc_id"), col("token_idx"), col("piece"),
        coalesce(col("piece_id"),
          lit(vocabSize) + exprCol(graft.functions.FirstCodePoint(
            colExpr(col("piece")))))
          .cast("int").as("piece_id"))
  }

  /** INVERSE numericalization — the decode side of the id contract
    * ([[tokenIdsBpe]]: id < |V| → vocab piece, id ≥ |V| → code point
    * id − |V|): each (doc_id, token_idx, piece_id) row becomes the
    * piece STRING it encodes, from the ids alone (the store drops the
    * piece strings — that is the point of a decode check). One
    * broadcast against the |V|-row id dimension; OOV ids reconstruct
    * through the native `codepoint_char` kernel (Spark's builtin `chr`
    * is ASCII-only — it wraps code points mod 256, silently minting a
    * WRONG character for every non-Latin OOV unit). An id that is
    * neither in-vocab nor a valid scalar's OOV offset FAILS LOUDLY in
    * the kernel (a negative argument is an in-vocab id routed to the
    * OOV path — a caller bug, not data). */
  def decodeTokenIds(ids: DataFrame, vocab: DataFrame): DataFrame = {
    val pieces = vocab.select(col("piece"))
      .collect().map(_.getString(0)).toSeq
    // same boundary check as the encode side: a duplicate piece makes
    // the id assignment ambiguous
    require(pieces.distinct.size == pieces.size,
      "vocab frame carries duplicate pieces — ids would be ambiguous")
    val vocabSize = pieces.size
    ids.select(col("doc_id"), col("token_idx"), col("piece_id"))
      .join(broadcast(BpeVocab.idFrame(vocab)), Seq("piece_id"), "left")
      .select(col("doc_id"), col("token_idx"),
        coalesce(col("piece"),
          call_function("codepoint_char",
            (col("piece_id") - lit(vocabSize)).cast("int"))).as("piece"))
  }

  /** Decode ROUND-TRIP certification — (doc_id, n_tokens, ok): the
    * ids of each doc decoded ([[decodeTokenIds]]) and reassembled in
    * token order, compared against the doc's normalized text with
    * spaces removed (the walk consumes spaces without emitting a
    * token — the tokenizer's one documented lossy dimension, so the
    * round-trip target is the space-stripped normalization). `ok` for
    * every doc is the store-is-lossless contract
    * ([[TokenIdStore]] scaladoc: "ids reconstruct the text") made an
    * OPERATOR instead of prose.
    *
    * Scale shape: one broadcast join + ONE doc_id-keyed aggregate
    * (collect_list of (token_idx, piece) structs sorted in-memory per
    * doc — bounded by a doc's own token count, the same per-group
    * bound every per-doc aggregate here carries); the docs side
    * contributes one narrow projection. Docs that numericalize to
    * zero tokens (null, empty, whitespace-only text) have no id rows
    * and drop out — mirrored in the oracle. */
  def decodeRoundTrip(ids: DataFrame, docs: DataFrame,
                      vocab: DataFrame): DataFrame = {
    // r18: decode AFTER the per-doc aggregate, from a constant id→piece
    // array, so the doc_id exchange carries (int, int) structs instead
    // of piece STRINGS (§2.3 shuffle fewer bytes — the id stream is the
    // suite's largest frame). The array is the |V|-row dimension in
    // piece_id order (the [[BpeVocab.idFrame]] ranking, re-derived on
    // the driver exactly: n_occurrences desc, piece asc — a bounded
    // topK-row collect, same as [[decodeTokenIds]]'s piece collect);
    // in-range ids index it, OOV ids reconstruct through the
    // `codepoint_char` kernel, and an id that is neither fails loudly
    // in the kernel exactly as the join form did. Null piece_ids decode
    // to null and are skipped by concat_ws in both forms.
    val orderedPieces = vocab.select(col("piece"), col("n_occurrences"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (p, n) => (-n, p) }.map(_._1)
    require(orderedPieces.distinct.length == orderedPieces.length,
      "vocab frame carries duplicate pieces — ids would be ambiguous")
    val vocabSize = orderedPieces.length
    val idToPiece = array(orderedPieces.toIndexedSeq.map(lit): _*)
    def decode(pid: Column): Column =
      when(pid.between(0, vocabSize - 1), element_at(idToPiece, pid + 1))
        .otherwise(call_function("codepoint_char",
          (pid - lit(vocabSize)).cast("int")))
    val decoded = ids.select(col("doc_id"), col("token_idx"), col("piece_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col("token_idx"), col("piece_id")))),
          x => decode(x.getField("piece_id")))).as("decoded"))
    decoded
      .join(docs.select(col("doc_id"),
        regexp_replace(norm(col("text")), " ", "").as("spaceless")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("decoded") === col("spaceless")).as("ok"))
  }

  /** Vocabulary COVERAGE telemetry — the retrain signal: per source,
    * how much of the token stream falls back to single-code-point OOV
    * units. A drifting corpus (new domain, new language) shows up here
    * as a rising `oov_rate` long before quality metrics move; real
    * tokenizer pipelines alert on exactly this number. Scale shape:
    * the per-row walk emits counts only (total via `bpe_count`, OOV
    * via the split-size minus in-vocab arithmetic is avoided — one
    * `bpe_split` + one filtered size, still per-row) and ONE map-side
    * combined aggregate keyed by source. */
  def vocabCoverage(docs: DataFrame, pieces: Seq[String]): DataFrame = {
    val ps = bpeSplitCol(col("text"), pieces)
    // an OOV unit is exactly a single-code-point fallback: learned
    // pieces are >=2 chars, so emitted length 1 marks it (Spark
    // `length` counts code points, matching the walk's fallback step)
    val oov = size(filter(ps, p => length(p) === 1))
    docs.select(col("source"), size(ps).as("nt"), oov.as("no"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tokens"), sum(col("no")).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        // a source whose docs all tokenize to zero units has no defined
        // rate: NULL, not NaN (Spark 0.0/0.0 is NaN, DuckDB errors —
        // the nullif guard is mirrored in the oracle)
        (col("n_oov").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0))).as("oov_rate"))
      .orderBy(col("source"))
  }

  /** Tokenizer-faithful token counting: whitespace tokens alongside the
    * greedy-subword count — the number a context-window budget needs
    * (whitespace counts misprice real text by the avg word/piece
    * ratio, measured 2–4× on natural language). */
  def tokenCountsBpe(docs: DataFrame, pieces: Seq[String]): DataFrame =
    docs
      .withColumn("n", norm(col("text")))
      .select(
        col("doc_id"),
        size(tokens(col("n"))).as("ws_tokens"),
        bpeCountRaw(col("n"), pieces).as("bpe_tokens"))

  /** Quality scoring: length/avg-token-length/stopword-ratio features and
    * the composite `min(tokens/100, 1) · (1 − stopword_ratio)`. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("n", norm(col("text")))
      .withColumn("toks", tokens(col("n")))
      .select(
        col("doc_id"),
        length(col("n")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        (length(col("n")).cast("double") / size(col("toks")))
          .as("avg_token_len"),
        (stopHits(col("toks"), enStop).cast("double") / size(col("toks")))
          .as("stopword_ratio"),
        (least(size(col("toks")).cast("double") / lit(100.0), lit(1.0)) *
          (lit(1.0) - stopHits(col("toks"), enStop).cast("double") /
            size(col("toks")))).as("quality"))

  /** Language ID: stopword-hit argmax across candidate languages
    * (n-gram-heuristic stand-in; deterministic tiebreak en > es > fr). */
  def langId(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(norm(col("text"))))
      .select(
        col("doc_id"),
        stopHits(col("toks"), enStop).as("en_hits"),
        stopHits(col("toks"), esStop).as("es_hits"),
        stopHits(col("toks"), frStop).as("fr_hits"))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))

  /** The language-aware composite quality of a raw `text` column — the
    * `quality_lang` expression of [[qualityScoreLang]] as a composable
    * Column (the [[qualityCol]] pattern), so the per-source floor can
    * gate on the language-fair score without a corpus self-join. */
  private[text] def qualityLangCol(text: Column): Column = {
    val toks = tokens(norm(text))
    val langHits = greatest(stopHits(toks, enStop),
      stopHits(toks, esStop), stopHits(toks, frStop))
    least(size(toks).cast("double") / lit(100.0), lit(1.0)) *
      (lit(1.0) - langHits.cast("double") / size(toks))
  }

  /** [[qualityLangCol]] as DuckDB SQL over a `documents` row — the
    * oracle twin, shared wherever the language-aware score gates.
    * (lazy: `N`/`hits` are declared below — a strict val here would
    * initialize against nulls.) */
  private[text] lazy val qualityLangExprSql: String =
    s"""least(CAST(len(string_split($N, ' ')) AS DOUBLE) / 100.0, 1.0)
       |  * (1.0 - CAST(greatest(${hits(enStop)}, ${hits(esStop)},
       |        ${hits(frStop)}) AS DOUBLE)
       |      / len(string_split($N, ' ')))""".stripMargin

  /** Language-AWARE quality — [[qualityScore]] with the stopword ratio
    * taken from the doc's own detected language (the [[langId]] argmax
    * hit count = `greatest` of the per-language hits): an es/fr doc is
    * no longer penalized for lacking ENGLISH stopwords, which the
    * fixed-enStop composite structurally under-scores. `und` docs (zero
    * hits in every set) get ratio 0 — their quality is purely the
    * length term, which is the honest statement when no stopword model
    * applies. Same one-pass per-row shape as every text-analysis op. */
  def qualityScoreLang(docs: DataFrame): DataFrame =
    docs
      .withColumn("n", norm(col("text")))
      .withColumn("toks", tokens(col("n")))
      .withColumn("en_hits", stopHits(col("toks"), enStop))
      .withColumn("es_hits", stopHits(col("toks"), esStop))
      .withColumn("fr_hits", stopHits(col("toks"), frStop))
      .withColumn("lang_hits",
        greatest(col("en_hits"), col("es_hits"), col("fr_hits")))
      .select(
        col("doc_id"),
        when(col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und").as("predicted_lang"),
        (col("lang_hits").cast("double") / size(col("toks")))
          .as("lang_stopword_ratio"),
        (least(size(col("toks")).cast("double") / lit(100.0), lit(1.0)) *
          (lit(1.0) - col("lang_hits").cast("double") / size(col("toks"))))
          .as("quality_lang"))

  /** Document fingerprint over the sorted distinct token set. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(norm(col("text"))).as("fingerprint"))

  /** Within-document repetition: 1 − distinct/total 3-word shingles —
    * high for templated/boilerplate text (the per-doc analog of the
    * corpus-level LSH dedup). Docs with <3 tokens carry no shingles and
    * are excluded, mirroring the LSH family. */
  def repetition(docs: DataFrame): DataFrame =
    docs.withColumn("n", norm(col("text")))
      .withColumn("toks", tokens(col("n")))
      .filter(size(col("toks")) >= 3)
      .withColumn("distinct_sh",
        size(call_function("word_shingles", col("n"), lit(3))))
      .select(
        col("doc_id"),
        (size(col("toks")) - 2).as("total_shingles"),
        col("distinct_sh").as("distinct_shingles"),
        (lit(1.0) - col("distinct_sh").cast("double")
          / (size(col("toks")) - 2)).as("repetition_ratio"))

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private def inList(l: Seq[String]) = l.map("'" + _ + "'").mkString("(", ",", ")")
  private def hits(l: Seq[String]) =
    s"len(list_filter(string_split($N, ' '), t -> t IN ${inList(l)}))"

  /** The `quality` column of qualityScore as DuckDB SQL over a `documents`
    * row — single source for every oracle that ranks by quality
    * (quality_score itself, NearDup's dedup_keep_best). */
  private[text] val qualityExprSql: String =
    s"""least(CAST(len(string_split($N, ' ')) AS DOUBLE) / 100.0, 1.0)
       |  * (1.0 - CAST(${hits(enStop)} AS DOUBLE)
       |      / len(string_split($N, ' ')))""".stripMargin

  private val NP =
    "regexp_replace(lower(trim(substr(text, 1, 200))), '\\s+', ' ', 'g')"

  /** The greedy-subword walk as DuckDB CTEs ending in
    * `bpe(doc_id, n)` — requires WITH RECURSIVE. The vocabulary is
    * re-derived from the SAME `documents` table the engine's staged
    * [[BpeVocab]] store was trained on (the staged-store oracle
    * precedent); the per-position max match length is precomputed as a
    * list (`adv`: −1 marks a space) via descending per-length
    * membership probes ([[BpeVocab.advSql]] — longest match wins, cost
    * per position O(#lengths), not O(|vocab|)), then the walk CTE
    * steps each doc one consumed unit per recursion round; `max(cnt)`
    * is the final count because cnt is monotone along each doc's
    * single walk path. Feeder CTEs are MATERIALIZED: DuckDB re-inlines
    * plain CTEs into every recursion round, re-running the
    * per-position match scan hundreds of times (measured: minutes →
    * 1.4 s at sf0.001). Shared by the token_count_bpe and
    * token_pack_bpe oracles. (lazy: BpeVocab's SQL fragments are
    * object-initialization-ordered.) */
  private[text] lazy val bpeWalkCtes: String =
    s"""${BpeVocab.vocabCtesSql},
       |bd AS MATERIALIZED (SELECT doc_id, $N AS s FROM documents),
       |bml AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, len(s)),
       |      i -> CASE WHEN substr(s, i, 1) = ' ' THEN -1
       |           ELSE ${BpeVocab.advSql("s", "i")}
       |           END) AS adv
       |  FROM bd, ${BpeVocab.vlenFrom}),
       |bwalk(doc_id, pos, cnt) AS (
       |  SELECT doc_id, 1, 0 FROM bml
       |  UNION ALL
       |  SELECT w.doc_id,
       |    w.pos + CASE WHEN m.adv[w.pos] = -1 THEN 1 ELSE m.adv[w.pos] END,
       |    w.cnt + CASE WHEN m.adv[w.pos] = -1 THEN 0 ELSE 1 END
       |  FROM bwalk w JOIN bml m ON m.doc_id = w.doc_id
       |  WHERE w.pos <= len(m.adv)),
       |bpe AS (SELECT doc_id, max(cnt) AS n FROM bwalk GROUP BY doc_id)"""
      .stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_normalize", (s, d) => normalized(Tables(s, d, "documents")),
      s"""SELECT doc_id, md5($N) AS content_hash,
         |CAST(length($N) AS INTEGER) AS n_chars_norm
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("dedup_exact", (s, d) => dedupExact(Tables(s, d, "documents")),
      s"""SELECT md5($N) AS content_hash, min(doc_id) AS keep_doc_id,
         |count(*) AS dup_count
         |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin),

    QuerySpec("token_count", (s, d) => tokenCounts(Tables(s, d, "documents")),
      s"""SELECT doc_id, CAST(len(string_split($N, ' ')) AS INTEGER) AS ws_tokens,
         |CAST(len(regexp_extract_all($N, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         |  AS INTEGER) AS bpe_segments
         |FROM documents ORDER BY doc_id""".stripMargin),

    // greedy-subword counting against the STAGED corpus-trained merge
    // vocab (BpeVocab: vocab as data, trie matching in the kernel)
    QuerySpec("token_count_bpe", (s, d) =>
      tokenCountsBpe(Tables(s, d, "documents"), BpeVocab.pieces(s, d)),
      // the greedy longest-match walk replayed via precomputed advance
      // lists + a recursive step CTE — see bpeWalkCtes
      s"""WITH RECURSIVE $bpeWalkCtes
         |SELECT b.doc_id,
         |  CAST(len(string_split(d.s, ' ')) AS INTEGER) AS ws_tokens,
         |  CAST(b.n AS INTEGER) AS bpe_tokens
         |FROM bpe b JOIN bd d ON d.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin),

    // the tokenization itself: one row per consumed subword unit, in
    // walk order — the frame numericalization joins against the vocab
    QuerySpec("token_split_bpe", (s, d) =>
      tokenizeBpe(Tables(s, d, "documents"), BpeVocab.pieces(s, d)),
      // the same advance walk, emitting each consumed slice: a walk row
      // is the state BEFORE consuming at pos, so its cnt is the 0-based
      // index of the piece about to be consumed; space steps (adv = -1)
      // emit nothing
      s"""WITH RECURSIVE $bpeWalkCtes
         |SELECT w.doc_id, CAST(w.cnt AS INTEGER) AS token_idx,
         |  substr(d.s, w.pos, m.adv[w.pos]) AS piece
         |FROM bwalk w
         |JOIN bml m ON m.doc_id = w.doc_id
         |JOIN bd d ON d.doc_id = w.doc_id
         |WHERE w.pos <= len(m.adv) AND m.adv[w.pos] != -1
         |ORDER BY w.doc_id, token_idx""".stripMargin),

    // tokenize -> deterministic vocab ids (OOV = |V| + code point)
    QuerySpec("token_ids_bpe", (s, d) =>
      tokenIdsBpe(Tables(s, d, "documents"),
        BpeVocab.read(s, BpeVocab.fixtureStore(s, d))),
      // tokenization + id assignment: ids are the 0-based rank of the
      // derived vocab by (count DESC, piece ASC) — the exact total order
      // the training LIMIT cut on — and unmatched (single-code-point
      // fallback) units map into the reserved range above the
      // vocabulary: |V| + code point (DuckDB unicode() == the engine's
      // UTF-32BE-derived code point), so OOV units stay distinguishable
      // and the id stream reconstructs the text
      s"""WITH RECURSIVE $bpeWalkCtes,
         |vid AS (
         |  SELECT piece, CAST(row_number() OVER (
         |    ORDER BY c DESC, piece ASC) AS INTEGER) - 1 AS piece_id
         |  FROM vb)
         |SELECT w.doc_id, CAST(w.cnt AS INTEGER) AS token_idx,
         |  substr(d.s, w.pos, m.adv[w.pos]) AS piece,
         |  CAST(coalesce(v.piece_id,
         |    (SELECT count(*) FROM vb)
         |      + unicode(substr(d.s, w.pos, m.adv[w.pos])))
         |    AS INTEGER) AS piece_id
         |FROM bwalk w
         |JOIN bml m ON m.doc_id = w.doc_id
         |JOIN bd d ON d.doc_id = w.doc_id
         |LEFT JOIN vid v ON v.piece = substr(d.s, w.pos, m.adv[w.pos])
         |WHERE w.pos <= len(m.adv) AND m.adv[w.pos] != -1
         |ORDER BY w.doc_id, token_idx""".stripMargin),

    // per-source OOV rate — the tokenizer retrain signal
    QuerySpec("vocab_coverage", (s, d) =>
      vocabCoverage(Tables(s, d, "documents"), BpeVocab.pieces(s, d)),
      // per-source OOV telemetry: a consumed unit with advance 1 is the
      // single-code-point fallback (learned pieces start at 2 chars)
      s"""WITH RECURSIVE $bpeWalkCtes,
         |oo AS (
         |  SELECT w.doc_id,
         |    sum(CASE WHEN m.adv[w.pos] = 1 THEN 1 ELSE 0 END) AS n_oov
         |  FROM bwalk w JOIN bml m ON m.doc_id = w.doc_id
         |  WHERE w.pos <= len(m.adv) AND m.adv[w.pos] != -1
         |  GROUP BY w.doc_id)
         |SELECT d.source, CAST(sum(b.n) AS BIGINT) AS n_tokens,
         |  CAST(sum(coalesce(o.n_oov, 0)) AS BIGINT) AS n_oov,
         |  CAST(sum(coalesce(o.n_oov, 0)) AS DOUBLE)
         |    / nullif(CAST(sum(b.n) AS DOUBLE), 0) AS oov_rate
         |FROM documents d JOIN bpe b ON b.doc_id = d.doc_id
         |LEFT JOIN oo o ON o.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    QuerySpec("quality_score", (s, d) =>
      qualityScore(Tables(s, d, "documents")),
      s"""SELECT doc_id, CAST(length($N) AS INTEGER) AS n_chars,
         |CAST(len(string_split($N, ' ')) AS INTEGER) AS n_tokens,
         |CAST(length($N) AS DOUBLE) / len(string_split($N, ' '))
         |  AS avg_token_len,
         |CAST(${hits(enStop)} AS DOUBLE) / len(string_split($N, ' '))
         |  AS stopword_ratio,
         |$qualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("lang_id", (s, d) => langId(Tables(s, d, "documents")),
      s"""SELECT doc_id,
         |CAST(${hits(enStop)} AS INTEGER) AS en_hits,
         |CAST(${hits(esStop)} AS INTEGER) AS es_hits,
         |CAST(${hits(frStop)} AS INTEGER) AS fr_hits,
         |CASE WHEN ${hits(enStop)} >= ${hits(esStop)}
         |       AND ${hits(enStop)} >= ${hits(frStop)}
         |       AND ${hits(enStop)} > 0 THEN 'en'
         |     WHEN ${hits(esStop)} >= ${hits(frStop)}
         |       AND ${hits(esStop)} > 0 THEN 'es'
         |     WHEN ${hits(frStop)} > 0 THEN 'fr'
         |     ELSE 'und' END AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin),

    // quality with the detected language's stopword model
    QuerySpec("quality_score_lang", (s, d) =>
      qualityScoreLang(Tables(s, d, "documents")),
      // the argmax hit count is greatest() of the per-language hits; the
      // composite reuses the quality formula with that ratio
      s"""SELECT doc_id,
         |CASE WHEN ${hits(enStop)} >= ${hits(esStop)}
         |       AND ${hits(enStop)} >= ${hits(frStop)}
         |       AND ${hits(enStop)} > 0 THEN 'en'
         |     WHEN ${hits(esStop)} >= ${hits(frStop)}
         |       AND ${hits(esStop)} > 0 THEN 'es'
         |     WHEN ${hits(frStop)} > 0 THEN 'fr'
         |     ELSE 'und' END AS predicted_lang,
         |CAST(greatest(${hits(enStop)}, ${hits(esStop)}, ${hits(frStop)})
         |    AS DOUBLE) / len(string_split($N, ' '))
         |  AS lang_stopword_ratio,
         |least(CAST(len(string_split($N, ' ')) AS DOUBLE) / 100.0, 1.0)
         |  * (1.0 - CAST(greatest(${hits(enStop)}, ${hits(esStop)},
         |        ${hits(frStop)}) AS DOUBLE)
         |      / len(string_split($N, ' ')))
         |  AS quality_lang
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("doc_fingerprint", (s, d) =>
      fingerprints(Tables(s, d, "documents")),
      s"""SELECT doc_id,
         |md5(array_to_string(list_sort(list_distinct(
         |  string_split($N, ' '))), ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("doc_repetition", (s, d) => repetition(Tables(s, d, "documents")),
      s"""SELECT doc_id,
         |CAST(len(l) - 2 AS INTEGER) AS total_shingles,
         |CAST(len(list_distinct(list_transform(
         |  generate_series(1, len(l) - 2),
         |  i -> array_to_string(l[i:i+2], ' ')))) AS INTEGER)
         |  AS distinct_shingles,
         |1.0 - CAST(len(list_distinct(list_transform(
         |  generate_series(1, len(l) - 2),
         |  i -> array_to_string(l[i:i+2], ' ')))) AS DOUBLE) / (len(l) - 2)
         |  AS repetition_ratio
         |FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
         |WHERE len(l) >= 3
         |ORDER BY doc_id""".stripMargin),
    // the SQL surface itself: a user-written spark.sql statement over a
    // registered view, calling the extension-registered native kernels
    // (norm_text, word_shingles, jaccard_sim) by name — certifies the
    // GraftExtensions registration end-to-end through the oracle, not
    // just through Column-API call_function plumbing
    QuerySpec("sql_surface", (s, d) => {
      Tables(s, d, "documents").createOrReplaceTempView("graft_documents")
      s.sql(
        """SELECT doc_id,
          |  size(word_shingles(norm_text(text), 3)) AS n_shingles,
          |  jaccard_sim(word_shingles(norm_text(text), 3),
          |    word_shingles(norm_text(substring(text, 1, 200)), 3))
          |    AS prefix_jaccard
          |FROM graft_documents
          |WHERE size(word_shingles(norm_text(text), 3)) > 0
          |ORDER BY doc_id""".stripMargin)
    },
      s"""WITH f AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(l) - 2),
         |    i -> array_to_string(l[i:i+2], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
         |  WHERE len(l) >= 3),
         |p AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(lp) - 2, 0)),
         |    i -> array_to_string(lp[i:i+2], ' '))) AS shp
         |  FROM (SELECT doc_id, string_split($NP, ' ') AS lp
         |        FROM documents))
         |SELECT f.doc_id, CAST(len(f.sh) AS INTEGER) AS n_shingles,
         |  CAST(len(list_intersect(f.sh, p.shp)) AS DOUBLE)
         |    / len(list_distinct(list_concat(f.sh, p.shp)))
         |    AS prefix_jaccard
         |FROM f JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin))
}
