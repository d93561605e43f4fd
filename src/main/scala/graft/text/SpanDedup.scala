package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables
import graft.text.TextOps.norm

/** Exact-substring (duplicated-span) deduplication — the positional
  * complement of the MinHash family (`text/NearDup`) and the
  * document-frequency family (`text/Boilerplate`): find runs of W
  * consecutive tokens that occur more than once ANYWHERE in the corpus,
  * merge adjacent duplicated windows into maximal spans, and optionally
  * strip every non-canonical occurrence (keep exactly one copy,
  * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  * Better" — the suffix-array ExactSubstr operation re-expressed as
  * window-hash joins, which is the shape that distributes).
  *
  * Scale shape: the window stream is the native one-pass
  * `word_shingles_all` kernel posexploded to (doc_id, pos, gram) rows —
  * rows ≈ corpus token count, never pairs. Corpus-wide duplicate
  * detection and canonical-occurrence election are window functions
  * over ONE gram exchange (count + row_number share the partition);
  * span merging is gaps-and-islands over ONE doc_id exchange whose
  * grouping keys extend the partitioning (no extra shuffle). Nothing
  * in the plan is quadratic and nothing is broadcast-unbounded. At
  * 100 TB the gram string in the shuffle key is hashed first and W
  * raised toward the 50-token literature setting — both parameter
  * changes, not plan changes: `dedup_span_hashed` IS the hashed-key
  * twin (fixed-width md5 digest through the exchange, oracle-mirrored
  * so replay stays byte-exact; raw-string key kept in `dedup_span_clean`
  * as the collision-free reference).
  */
object SpanDedup extends QueryModule {
  /** Window width in tokens. The corpus is short-document synthetic
    * text, so 8 (vs the 50-BPE-token literature setting) keeps span
    * statistics non-degenerate; see the scaladoc on scale posture. */
  val W = 8

  /** Seam sentinel substituted for removed tokens when reconstructing
    * surviving contiguous segments. NUL — a PRECONDITION on the corpus,
    * not a property `norm` enforces (norm lowercases and collapses
    * whitespace but passes other bytes through): document text must be
    * NUL-free, which any text ingest guarantees — binary payloads
    * travel in the media family, never through the token path. A NUL
    * inside a token would split a segment early: strictly more
    * conservative (fewer grams appended), never a phantom gram. */
  private val Seam = 0.toChar.toString

  /** ALL positional W-token windows: (doc_id, pos, gram), pos 1-based
    * over the normalized token stream; docs shorter than W tokens
    * contribute no windows. */
  private def windows(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(call_function("word_shingles_all",
          norm(col("text")), lit(w))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col").as("gram"))

  /** The corpus-side gram frame (one `gram` column, positional
    * occurrences — duplicates meaningful only as membership) that
    * [[GramStore]] persists and [[spanCleanAgainstGrams]] consumes. */
  def grams(docs: DataFrame, w: Int = W): DataFrame =
    windows(docs, w).select(col("gram"))

  /** Per-document duplicated-span statistics: of the doc's windows, how
    * many are duplicated (same W tokens occur >= minCount times corpus-
    * wide), merged into maximal contiguous spans. Docs shorter than W
    * tokens have no windows and drop out (no 0/0 rows; mirrors
    * `Boilerplate.boilerplateFraction`). */
  def dupSpans(docs: DataFrame, w: Int = W, minCount: Long = 2): DataFrame = {
    val win = windows(docs, w)
    val marked = win
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .withColumn("is_dup", col("c") >= minCount)
      // running dup count makes pos - drn constant within a contiguous
      // dup run (gaps-and-islands without a second window pass)
      .withColumn("drn",
        sum(when(col("is_dup"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("isl", when(col("is_dup"), col("pos") - col("drn")))
    // isl = null collects the non-duplicated windows; its group carries
    // them into the per-doc totals without a separate scan branch
    val spans = marked.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        count(lit(1)).as("nw"))
    spans.groupBy(col("doc_id"))
      .agg(
        sum(col("nw")).as("n_windows"),
        sum(when(col("isl").isNotNull, col("nw")).otherwise(0L))
          .as("n_dup_windows"),
        count(when(col("isl").isNotNull, lit(1))).as("n_spans"),
        coalesce(max(when(col("isl").isNotNull,
          col("e") - col("s") + lit(w))), lit(0))
          .cast("long").as("max_span_tokens"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
  }

  /** Keep-one-copy span removal: a window occurrence is removable when
    * its W tokens occur >= minCount times corpus-wide and it is NOT the
    * canonical (first by (doc_id, pos)) occurrence; a token is removed
    * when any removable window covers it. Emits per-doc counts plus an
    * md5 of the cleaned (space-joined surviving tokens) text, so the
    * oracle value-checks the reconstructed content without shipping it. */
  def spanClean(docs: DataFrame, w: Int = W, minCount: Long = 2,
                hashKey: Boolean = false): DataFrame = {
    // ONE ordered window spec serves both aggregates (the count takes
    // an explicit whole-partition frame): an unordered count next to an
    // ordered row_number costs a second full sort of the window stream
    val gw = Window.partitionBy(col("gram"))
      .orderBy(col("doc_id"), col("pos"))
    // hashKey: shuffle on a fixed-width md5 digest of the gram instead
    // of the raw W-token string — at the literature W=50 the string key
    // is ~300 bytes/row through the exchange, the digest 32. Duplicate
    // detection via digest equality is exact up to md5 collision
    // (~2^-64 at any realistic corpus); the oracle mirrors the digest,
    // so correctness replay is still byte-exact.
    val win0 = windows(docs, w)
    val removable = (if (hashKey)
      win0.withColumn("gram", md5(col("gram").cast("binary")))
    else win0)
      .withColumn("c", count(lit(1)).over(
        gw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(gw))
      .filter(col("c") >= minCount && col("rn") > 1)
    // per-doc covered-index SET as one small array: only REMOVABLE
    // windows explode (bounded by duplicated content, not corpus size),
    // and the full token stream never crosses an exchange — the doc
    // rebuilds in place from its token array against the broadcast
    // covered sets. (The first cut posexploded every corpus token
    // through an anti-join + collect_list re-sort; 2× slower at the
    // 10× probe for identical output.)
    val covered = removable
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1)))
          .as("tok_idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tok_idx")).as("cov"))
    docs
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("cov").isNull, col("toks")).otherwise(
          filter(col("toks"),
            (t, i) => not(array_contains(col("cov"), i + 1)))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        // a fully-covered doc keeps no tokens: md5 of ""
        md5(concat_ws(" ", col("kept")).cast("binary"))
          .as("cleaned_hash"))
  }

  /** Incremental span-clean: strip from INCOMING docs every token
    * covered by a window whose W tokens already exist anywhere in the
    * EXISTING corpus — the per-batch ingestion shape of exact-substring
    * dedup (the corpus owns every canonical occurrence by definition).
    * Scale posture mirrors `NearDup.incrementalDedup`: the corpus is
    * scanned ONCE and never shuffled — its window stream left-semi-joins
    * the BROADCAST incoming gram set, and the surviving (matched) gram
    * set, bounded by the batch size, broadcasts back onto the incoming
    * windows. Batch-internal duplication is [[spanClean]]'s job; this
    * operator isolates the batch-vs-corpus containment. */
  def spanCleanIncremental(existing: DataFrame, incoming: DataFrame,
      w: Int = W): DataFrame =
    spanCleanAgainstGrams(windows(existing, w).select(col("gram")),
      incoming, w)
      .drop("cleaned_text", "cleaned_segments")
      .orderBy("doc_id")

  /** [[spanCleanIncremental]] against an already-derived corpus gram
    * frame (one `gram` column; duplicate rows harmless — membership
    * only). This is the form the persisted [[GramStore]] feeds: the
    * store scan IS the corpus side, zero re-windowing of accumulated
    * text. Returns `cleaned_text` plus `cleaned_segments` — the
    * SURVIVING CONTIGUOUS token runs, split where spans were removed
    * (unsorted; the streaming lane windows the segments for the
    * survivor append so no gram spans a removal seam — a token run
    * bridging a seam never existed contiguously in any admitted
    * document; the batch query drops both). */
  def spanCleanAgainstGrams(corpusGrams: DataFrame, incoming: DataFrame,
      w: Int = W): DataFrame = {
    val incWin = windows(incoming, w)
    val matched = corpusGrams
      .join(broadcast(incWin.select(col("gram")).distinct()),
        Seq("gram"), "left_semi")
      .select(col("gram")).distinct()
    val covered = incWin
      .join(broadcast(matched), Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1)))
          .as("tok_idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tok_idx")).as("cov"))
    incoming
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("cov").isNull, col("toks")).otherwise(
          filter(col("toks"),
            (t, i) => not(array_contains(col("cov"), i + 1)))))
      // removal seams become the NUL sentinel token (precondition:
      // NUL-free corpus text — see Seam), so splitting the rejoined
      // token string on the sentinel and trimming yields exactly the
      // maximal surviving contiguous token runs: no gram windowed over
      // a segment can bridge a seam
      .withColumn("cleaned_segments",
        when(col("cov").isNull, array(concat_ws(" ", col("toks"))))
          .otherwise(filter(
            transform(
              split(concat_ws(" ",
                transform(col("toks"), (t, i) =>
                  when(array_contains(col("cov"), i + 1), lit(Seam))
                    .otherwise(t))), Seam),
              s => trim(s)),
            s => s =!= "")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"),
        concat_ws(" ", col("kept")).as("cleaned_text"),
        col("cleaned_segments"),
        md5(concat_ws(" ", col("kept")).cast("binary"))
          .as("cleaned_hash"))
  }

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Positional W-token windows (1-based pos), mirroring
    * `word_shingles_all(norm, W)` + posexplode; `gramSql` is the window
    * key expression over the token slice (raw string or md5 digest). */
  private def winCteWith(gramSql: String): String =
    s"""g AS (
       |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(l) - ${W - 1}),
       |      i -> struct_pack(pos := i,
       |        gram := $gramSql))) AS u
       |    FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
       |    WHERE len(l) >= $W))""".stripMargin

  private val gramSlice = s"array_to_string(l[i:i+${W - 1}], ' ')"
  private val winCte = winCteWith(gramSlice)
  private val winCteHashed = winCteWith(s"md5($gramSlice)")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dup_spans", (s, d) => dupSpans(Tables(s, d, "documents")),
      s"""WITH $winCte,
         |m AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) >= 2 AS is_dup
         |  FROM g),
         |r AS (
         |  SELECT doc_id, pos, is_dup,
         |    sum(CASE WHEN is_dup THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY pos) AS drn
         |  FROM m),
         |s AS (
         |  SELECT doc_id,
         |    CASE WHEN is_dup THEN pos - drn END AS isl,
         |    min(pos) AS s, max(pos) AS e, count(*) AS nw
         |  FROM r GROUP BY doc_id, 2)
         |SELECT doc_id,
         |  CAST(sum(nw) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN isl IS NOT NULL THEN nw ELSE 0 END)
         |    AS BIGINT) AS n_dup_windows,
         |  CAST(count(CASE WHEN isl IS NOT NULL THEN 1 END) AS BIGINT)
         |    AS n_spans,
         |  CAST(coalesce(max(CASE WHEN isl IS NOT NULL
         |    THEN e - s + $W END), 0) AS BIGINT) AS max_span_tokens,
         |  sum(CASE WHEN isl IS NOT NULL THEN nw ELSE 0 END)::DOUBLE
         |    / sum(nw)::DOUBLE AS dup_frac
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("dedup_span_clean", (s, d) =>
      spanClean(Tables(s, d, "documents")),
      spanCleanSql(winCte)),
    QuerySpec("dedup_span_hashed", (s, d) =>
      spanClean(Tables(s, d, "documents"), hashKey = true),
      spanCleanSql(winCteHashed)),

    // same corpus/batch split convention as dedup_incremental
    QuerySpec("dedup_span_incremental", (s, d) => {
      val docs = Tables(s, d, "documents")
      spanCleanIncremental(docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8))
    },
      // incoming windows covered iff their gram exists in the corpus side;
      // the rebuild mirrors dedup_span_clean's
      s"""WITH $winCte,
         |iw AS (SELECT * FROM g WHERE doc_id % 10 >= 8),
         |mg AS (
         |  SELECT DISTINCT iw.gram FROM iw
         |  WHERE iw.gram IN (SELECT gram FROM g WHERE doc_id % 10 < 8)),
         |cov AS (
         |  SELECT DISTINCT doc_id, tok_idx FROM (
         |    SELECT iw.doc_id,
         |      unnest(generate_series(iw.pos, iw.pos + ${W - 1})) AS tok_idx
         |    FROM iw JOIN mg ON iw.gram = mg.gram)),
         |tk AS (
         |  SELECT doc_id, u.i AS tok_idx, u.t AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(l)),
         |      i -> struct_pack(i := i, t := l[i]))) AS u
         |    FROM (SELECT doc_id, string_split($N, ' ') AS l
         |          FROM documents WHERE doc_id % 10 >= 8))),
         |kept AS (
         |  SELECT tk.doc_id, tk.tok_idx, tk.tok
         |  FROM tk ANTI JOIN cov
         |    ON tk.doc_id = cov.doc_id AND tk.tok_idx = cov.tok_idx),
         |cl AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    md5(array_to_string(array_agg(tok ORDER BY tok_idx), ' '))
         |      AS h
         |  FROM kept GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id, len(string_split($N, ' ')) AS n_tokens
         |  FROM documents WHERE doc_id % 10 >= 8)
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(b.n_tokens - coalesce(cl.n_kept, 0) AS BIGINT)
         |    AS n_removed,
         |  coalesce(cl.h, md5('')) AS cleaned_hash
         |FROM base b LEFT JOIN cl ON b.doc_id = cl.doc_id
         |ORDER BY b.doc_id""".stripMargin))

  /** The keep-one-copy replay over a window CTE — shared by the raw-key
    * and hashed-key twins (they differ only in the window key). */
  private def spanCleanSql(cte: String): String =
      s"""WITH $cte,
         |cw AS (
         |  SELECT doc_id, pos,
         |    count(*) OVER (PARTITION BY gram) AS c,
         |    row_number() OVER (
         |      PARTITION BY gram ORDER BY doc_id, pos) AS rn
         |  FROM g),
         |cov AS (
         |  SELECT DISTINCT doc_id, tok_idx FROM (
         |    SELECT doc_id,
         |      unnest(generate_series(pos, pos + ${W - 1})) AS tok_idx
         |    FROM cw WHERE c >= 2 AND rn > 1)),
         |tk AS (
         |  SELECT doc_id, u.i AS tok_idx, u.t AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(l)),
         |      i -> struct_pack(i := i, t := l[i]))) AS u
         |    FROM (SELECT doc_id, string_split($N, ' ') AS l
         |          FROM documents))),
         |kept AS (
         |  SELECT tk.doc_id, tk.tok_idx, tk.tok
         |  FROM tk ANTI JOIN cov
         |    ON tk.doc_id = cov.doc_id AND tk.tok_idx = cov.tok_idx),
         |cl AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    md5(array_to_string(array_agg(tok ORDER BY tok_idx), ' '))
         |      AS h
         |  FROM kept GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id, len(string_split($N, ' ')) AS n_tokens
         |  FROM documents)
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(b.n_tokens - coalesce(cl.n_kept, 0) AS BIGINT)
         |    AS n_removed,
         |  coalesce(cl.h, md5('')) AS cleaned_hash
         |FROM base b LEFT JOIN cl ON b.doc_id = cl.doc_id
         |ORDER BY b.doc_id""".stripMargin
}
