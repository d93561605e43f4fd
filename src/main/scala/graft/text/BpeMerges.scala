package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.{Staging, Tables}
import graft.text.TextOps.norm

/** TRUE iterative BPE merge training — the tokenizer-training operator
  * an LLM data pipeline runs, replacing the r12 frequency stand-in
  * ([[BpeVocab.train]] documents itself as one).
  *
  * Algorithm (the published BPE objective, Sennrich et al. 2016,
  * re-expressed Spark-first): start from the per-word character
  * sequences; each round counts adjacent-token-pair frequencies over
  * the CURRENT tokenization, merges the argmax pair everywhere
  * (left-to-right, non-overlapping), and records it with its rank.
  * After R rounds the merge table (rank, left, right, piece) IS the
  * learned tokenizer artifact.
  *
  * Scale shape: the corpus is touched ONCE — the word-frequency
  * dictionary build (explode + map-side-combined count). Every
  * training round then operates on the DICTIONARY (distinct words ×
  * token lists), which Heaps' law keeps orders of magnitude smaller
  * than the corpus and which partitions freely. Per round: one
  * map-side-combined pair count over the dict, a 1-row argmax
  * collect (the merge decision is a scalar — this is the inherent
  * sequential dependency of BPE, not a driver-side data loop), one
  * narrow per-row merge application, and an eager `localCheckpoint`
  * so plan depth stays O(1) in R instead of nesting R aggregate HOFs.
  * No round re-reads text.
  *
  * Cross-engine contract: pair counts are exact integers and the
  * argmax tie-breaks (count DESC, left ASC, right ASC), so the DuckDB
  * oracle re-derives the IDENTICAL merge sequence by unrolling the
  * rounds as a materialized CTE chain ([[mergeChainCtesSql]] — the
  * staged-store oracle precedent: the store only changes WHERE the
  * state comes from). The merge application's left-to-right
  * non-overlap is replayed in SQL as run-parity over maximal runs of
  * consecutive candidate positions (a fold and "merge iff an even
  * offset into its candidate run" are the same function).
  */
object BpeMerges extends QueryModule {

  /** Fixture merge-round budget. Small by design (the verdict's "small
    * R"): each round is one dict pass + one broadcast, so R scales to
    * a real 50k-merge run without a shape change — rounds only add
    * wall-clock, never plan depth or memory. */
  val DefaultRounds = 6

  /** One merge (left, right) → left+right applied to a token list,
    * left-to-right and non-overlapping: fold the tokens, and when the
    * accumulator's LAST token is `left` and the incoming token is
    * `right`, replace that last token with the merged piece. A merged
    * piece never re-merges in the same round (merged = left+right ≠
    * left for nonempty right), which is exactly the single-scan
    * semantics of the reference BPE implementations. Codegen'd
    * higher-order aggregate — no UDF. */
  private[text] def applyMerge(toks: Column, l: String, r: String): Column = {
    val m = l + r
    aggregate(toks, array().cast("array<string>"),
      (acc, t) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && t === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
        .otherwise(concat(acc, array(t))))
  }

  /** The word-frequency dictionary: one row per distinct normalized
    * word with its corpus count and initial character tokenization —
    * the ONLY corpus-wide pass in training. Words carrying
    * supplementary-plane code points are excluded (the [[BpeVocab]]
    * discipline: a non-BMP piece would violate the
    * [[graft.functions.BpeTrie]] boundary assert). */
  private[text] def wordDict(docs: DataFrame): DataFrame =
    docs.select(explode(split(norm(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .filter(!col("w").rlike(BpeVocab.NonBmpRe))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("toks"),
        col("n"))

  import graft.sources.Checkpoints.{unpersist => unpersistCheckpoint}

  /** R rounds of pair-merge learning over `docs`. Returns the merge
    * table (rank INT, left_piece, right_piece, piece, n_pairs LONG) in
    * learning order; stops early if the dictionary runs out of pairs
    * (every word fully merged). Each round's dict checkpoint is
    * explicitly unpersisted once the next round's materializes, so
    * rounds never ACCUMULATE memory (one live dict copy at any
    * instant, plus the one being written). */
  def train(docs: DataFrame, rounds: Int = DefaultRounds): DataFrame = {
    val spark = docs.sparkSession
    var dict = wordDict(docs).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    var exhausted = false
    // finally releases the LIVE dict on every exit — including a
    // mid-round throw, which would otherwise leak the in-flight
    // checkpoint on a retrying caller (the exception-safe discipline)
    try {
    while (r < rounds && !exhausted) {
      // adjacent pairs of the CURRENT tokenization, weighted by word
      // count; the (t, i) transform index keys each slice element to
      // its successor in the original list
      val top = dict
        .select(col("n"), explode(expr(
          """transform(slice(toks, 1, size(toks) - 1),
            |  (t, i) -> struct(t AS lt, element_at(toks, i + 2) AS rt))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.lt").as("lt"), col("p.rt").as("rt"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("lt").asc, col("rt").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (l, rt, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r, l, rt, l + rt, c))
        val next = dict.select(col("w"),
          applyMerge(col("toks"), l, rt).as("toks"), col("n"))
          .localCheckpoint(true)
        // the eager checkpoint above fully materialized `next`, so the
        // previous round's blocks are dead — release them explicitly
        unpersistCheckpoint(dict)
        dict = next
        r += 1
      }
    }
    // the merge table is driver-side by now; the final dict is dead
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "left_piece", "right_piece", "piece", "n_pairs")
    } finally unpersistCheckpoint(dict)
  }

  /** [[applyMerge]]'s fold, driver-local — the IDENTICAL left-to-right
    * non-overlap semantics (replace the accumulator's last token when
    * it is `l` and the incoming token is `r`), so the two training
    * paths cannot diverge on a word. */
  private def applyMergeLocal(toks: Array[String], l: String,
                              r: String, m: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (out.nonEmpty && out.last == l && t == r)
        out(out.length - 1) = m
      else out += t
      i += 1
    }
    out.toArray
  }

  /** DRIVER-LOCAL merge learning — the form a REAL merge budget runs
    * (the shape every production BPE trainer uses): ONE Spark corpus
    * pass builds the word dictionary ([[wordDict]] — Heaps-bounded,
    * orders of magnitude smaller than the corpus; the SAME argument
    * under which [[VocabMaintenance.readPieces]] collects the vocab
    * dimension), collected once; the merge loop then runs entirely on
    * the driver with INCREMENTAL pair counts — each round re-tokenizes
    * only the words that actually contain the chosen pair and adjusts
    * exactly their pair contributions, instead of paying one Spark job
    * + 1-row collect + checkpoint per round ([[train]]'s measured
    * ~0.1 s/round pure-scheduling marginal, which extrapolates to 80+
    * minutes at a 50k budget — BpeMergeSweep's r15 local column
    * replaces that extrapolation with a measured point).
    *
    * EXACT PARITY with [[train]], spec-pinned at 8/16/32 rounds
    * (BpeMergesSpec): identical pair counting (ALL adjacent pairs of
    * the current tokenization, overlaps included, weighted by word
    * count), identical argmax tie-break (count DESC, left ASC, right
    * ASC — Java string order == Spark's UTF8 order on the BMP-only
    * dict), identical merge application ([[applyMergeLocal]]), and
    * identical early exhaustion. [[train]] stays the certified oracle
    * twin (the `bpe_train_merges` row); this is the path an operator
    * points the maintenance trainer at when the budget is real.
    *
    * Scale shape: the corpus is touched exactly once, distributed;
    * the driver holds the dict (|V| words × short token arrays) and a
    * pair-count map (O(|V| · avg word len) entries); per round the
    * argmax is one O(|pairs|) scan and the update touches only the
    * chosen pair's posting list — the index makes deep budgets cheap
    * precisely because later rounds' pairs live in ever-fewer words. */
  def trainLocal(docs: DataFrame, rounds: Int = DefaultRounds): DataFrame = {
    val spark = docs.sparkSession
    val dictRows = wordDict(docs).collect()
    val toks: Array[Array[String]] =
      dictRows.map(_.getSeq[String](1).toArray)
    val ns: Array[Long] = dictRows.map(_.getLong(2))
    val pairCounts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    // posting lists: which dict words currently contain a pair — may
    // hold stale entries after a word re-tokenizes (pruned lazily by
    // the adjacency check below); never misses a containing word
    val pairWords =
      scala.collection.mutable.HashMap.empty[(String, String),
        scala.collection.mutable.BitSet]
    def adjust(wi: Int, sign: Long, index: Boolean): Unit = {
      val t = toks(wi)
      var i = 0
      while (i < t.length - 1) {
        val k = (t(i), t(i + 1))
        val c = pairCounts.getOrElse(k, 0L) + sign * ns(wi)
        if (c == 0L) pairCounts.remove(k) else pairCounts(k) = c
        if (index) pairWords.getOrElseUpdate(k,
          scala.collection.mutable.BitSet.empty) += wi
        i += 1
      }
    }
    (0 until toks.length).foreach(adjust(_, 1L, index = true))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 0
    while (r < rounds && pairCounts.nonEmpty) {
      var bestK: (String, String) = null
      var bestC = Long.MinValue
      pairCounts.foreach { case (k, c) =>
        if (c > bestC || (c == bestC && (k._1 < bestK._1 ||
          (k._1 == bestK._1 && k._2 < bestK._2)))) { bestK = k; bestC = c }
      }
      val (l, rt) = bestK
      val m = l + rt
      merges += ((r, l, rt, m, bestC))
      // the fold leaves no adjacent (l, rt) anywhere (a merged token
      // ends in rt and equals l only for an empty rt), so the posting
      // list fully retires with the count
      pairWords.remove(bestK).foreach(_.foreach { wi =>
        val t = toks(wi)
        var has = false
        var i = 0
        while (!has && i < t.length - 1) {
          has = t(i) == l && t(i + 1) == rt
          i += 1
        }
        if (has) { // stale posting entries are identity re-tokenizations
          adjust(wi, -1L, index = false)
          toks(wi) = applyMergeLocal(t, l, rt, m)
          adjust(wi, 1L, index = true)
        }
      })
      r += 1
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "left_piece", "right_piece", "piece", "n_pairs")
  }

  /** The merge-learning trainer as a LIVE-STORE adapter — the seam
    * [[VocabMaintenance]]'s schema contract anticipated (rank-derived
    * counts), now an operator: [[train]]'s merge table projected to
    * the (piece, n_occurrences) frame every maintenance entry point
    * consumes ([[VocabMaintenance.retrain]] /
    * [[VocabMaintenance.retrainIfDrifted]] / the managed ingest lane).
    *
    * The count is DERIVED FROM THE MERGE RANK — `rounds − min(rank)` —
    * because id order is all [[BpeVocab.idFrame]] reads from it
    * (rank DESC on the derived count == learning order ASC, the id
    * assignment real BPE tokenizers use), and pair counts from
    * different rounds are not comparable as frequencies (each round
    * counts pairs over a DIFFERENT tokenization). Distinct pieces keep
    * their EARLIEST rank (two merges can compose the same string —
    * a+bc and ab+c); min(rank) values are distinct per surviving
    * piece, so the id total order needs no tiebreak. Every piece is
    * left+right of prior-round units (≥ 2 BMP code points), satisfying
    * the maintenance boundary's length-1-is-OOV gauge contract by
    * construction. */
  def mergeTrainer(rounds: Int = DefaultRounds)
                  (docs: DataFrame): DataFrame =
    rankCounts(train(docs, rounds), rounds)

  /** [[mergeTrainer]] on the DRIVER-LOCAL loop ([[trainLocal]] — bit-
    * identical merges, spec-pinned) — what an operator points the
    * maintenance lane at when the budget is real: a 50k-round
    * candidate prices as one corpus pass + a sub-second driver loop
    * instead of 50k Spark jobs (the BpeMergeSweep r15 measurement). */
  def mergeTrainerLocal(rounds: Int = DefaultRounds)
                       (docs: DataFrame): DataFrame =
    rankCounts(trainLocal(docs, rounds), rounds)

  /** The rank→count projection [[mergeTrainer]] applies — factored so
    * an ALREADY-TRAINED merge table (e.g. the staged fixture store)
    * adapts without re-training. */
  private def rankCounts(merges: DataFrame, rounds: Int): DataFrame =
    merges.groupBy(col("piece")).agg(min(col("rank")).as("r"))
      .select(col("piece"),
        (lit(rounds.toLong) - col("r")).as("n_occurrences"))

  /** The staged learned-merge vocabulary as a LIVE-STORE-shaped
    * (piece, n_occurrences) frame — [[mergeTrainer]]'s output for the
    * fixture corpus, adapted from the already-staged merge table (no
    * re-training). What [[TokenIdStore.fixtureRenumberedStore]] swaps
    * in as id-space version 2. */
  def mergeVocab(s: SparkSession, dir: String): DataFrame =
    rankCounts(read(s, fixtureStore(s, dir)), DefaultRounds)

  /** The staged merge table for a fixture dir — trained once per
    * (rounds, fixture fingerprint), then a plain parquet read: the
    * same artifact lifecycle as [[BpeVocab.fixtureStore]]. */
  def fixtureStore(s: SparkSession, dir: String,
                   rounds: Int = DefaultRounds): String =
    Staging.stage(s"bpe_merges_v1_${rounds}_$dir",
      new java.io.File(dir, "documents.parquet")) { tmp =>
      train(Tables(s, dir, "documents"), rounds).coalesce(1).write.parquet(tmp)
    }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The learned pieces as driver-side strings for BY-REFERENCE kernel
    * transport (the r13 [[graft.functions.BpeCount]] contract).
    * Distinct because two different merges can compose the same string
    * (e.g. a+bc and ab+c); bounded dimension read, memoized per
    * (session, dir). */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[String]]

  def pieces(s: SparkSession, dir: String): Seq[String] = {
    memo.keys.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    memo.getOrElseUpdate((s, dir),
      read(s, fixtureStore(s, dir)).select(col("piece"))
        .collect().map(_.getString(0)).toSeq.distinct.sorted)
  }

  // ---------------------------------------------------------------
  // DuckDB oracle fragments
  // ---------------------------------------------------------------

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** The training replay as an UNROLLED materialized CTE chain —
    * `wd0` (the word dict), then per round r: `pr{r}` (pair counts),
    * `m{r}` (the argmax merge), `c{r}`/`h{r}` (candidate positions and
    * the run-parity merge decision — row_number within each maximal
    * run of consecutive candidates, merge iff odd), `wd{r+1}` (the
    * re-tokenized dict, lag-consumed successors dropped). Unrolling
    * beats WITH RECURSIVE here because each round needs a cross-row
    * aggregate (the argmax) over the previous state, which SQL
    * recursion forbids; R is a compile-time constant so the SQL stays
    * O(R) text. All feeders MATERIALIZED (the repo's recursive-CTE
    * discipline — downstream walks sit inside recursion). */
  def mergeChainCtesSql(rounds: Int = DefaultRounds): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""wd0 AS MATERIALIZED (
         |  SELECT w, list_transform(generate_series(1, len(w)),
         |           i -> substr(w, i, 1)) AS toks,
         |         count(*) AS n
         |  FROM (SELECT unnest(string_split($N, ' ')) AS w FROM documents)
         |  WHERE len(w) > 0 AND NOT regexp_matches(w, '${BpeVocab.NonBmpRe}')
         |  GROUP BY w)""".stripMargin)
    (0 until rounds).foreach { r =>
      ctes += s"""pr$r AS MATERIALIZED (
         |  SELECT lt, rt, sum(n) AS c FROM (
         |    SELECT toks[i] AS lt, toks[i+1] AS rt, n
         |    FROM (SELECT toks, n,
         |            unnest(generate_series(1, len(toks)-1)) AS i
         |          FROM wd$r))
         |  GROUP BY lt, rt)""".stripMargin
      ctes += s"""m$r AS MATERIALIZED (
         |  SELECT $r AS rank, lt, rt, lt || rt AS piece, c
         |  FROM pr$r ORDER BY c DESC, lt ASC, rt ASC LIMIT 1)""".stripMargin
      ctes += s"""c$r AS MATERIALIZED (
         |  SELECT w, n, toks, i,
         |    (i < len(toks) AND toks[i] = (SELECT lt FROM m$r)
         |       AND toks[i+1] = (SELECT rt FROM m$r)) AS cand
         |  FROM (SELECT w, n, toks,
         |          unnest(generate_series(1, len(toks))) AS i
         |        FROM wd$r))""".stripMargin
      ctes += s"""h$r AS MATERIALIZED (
         |  SELECT w, n, toks, i, cand,
         |    cand AND (row_number() OVER (
         |      PARTITION BY w, CASE WHEN cand THEN i - rn END
         |      ORDER BY i) % 2 = 1) AS do_merge
         |  FROM (SELECT w, n, toks, i, cand,
         |          row_number() OVER (PARTITION BY w, cand ORDER BY i) AS rn
         |        FROM c$r))""".stripMargin
      ctes += s"""wd${r + 1} AS MATERIALIZED (
         |  SELECT w, list(tok ORDER BY i) AS toks, min(n) AS n FROM (
         |    SELECT w, n, i,
         |      CASE WHEN do_merge THEN toks[i] || toks[i+1]
         |           ELSE toks[i] END AS tok,
         |      coalesce(lag(do_merge) OVER (PARTITION BY w ORDER BY i),
         |               false) AS consumed
         |    FROM h$r)
         |  WHERE NOT consumed GROUP BY w)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  private def mergeUnion(rounds: Int) =
    (0 until rounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")

  /** The learned-vocab greedy walk: the merge chain feeds a one-row
    * piece list `mp`, each position's advance is the longest matching
    * learned piece (an O(R) list probe — R pieces, not a per-length
    * set family, because learned piece lengths are data-dependent),
    * and the recursive step CTE is the [[TextOps.bpeWalkCtes]] walk
    * verbatim. */
  private def learnedWalkCtes(rounds: Int): String =
    s"""${mergeChainCtesSql(rounds)},
       |mp AS MATERIALIZED (
       |  SELECT list(DISTINCT piece) AS l
       |  FROM (${(0 until rounds).map(r => s"SELECT piece FROM m$r")
        .mkString(" UNION ALL ")})),
       |lbd AS MATERIALIZED (SELECT doc_id, $N AS s FROM documents),
       |lbml AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, len(s)),
       |      i -> CASE WHEN substr(s, i, 1) = ' ' THEN -1
       |           ELSE coalesce(list_max(list_transform(
       |                  list_filter(mp.l, p -> substr(s, i, len(p)) = p),
       |                  p -> len(p))), 1)
       |           END) AS adv
       |  FROM lbd, mp),
       |lwalk(doc_id, pos, cnt) AS (
       |  SELECT doc_id, 1, 0 FROM lbml
       |  UNION ALL
       |  SELECT w.doc_id,
       |    w.pos + CASE WHEN m.adv[w.pos] = -1 THEN 1 ELSE m.adv[w.pos] END,
       |    w.cnt + CASE WHEN m.adv[w.pos] = -1 THEN 0 ELSE 1 END
       |  FROM lwalk w JOIN lbml m ON m.doc_id = w.doc_id
       |  WHERE w.pos <= len(m.adv)),
       |lbpe AS (SELECT doc_id, max(cnt) AS nn FROM lwalk GROUP BY doc_id)"""
      .stripMargin

  /** Fresh numericalization under the LEARNED vocabulary as one SQL
    * statement — the [[TokenIdStore]] renumber oracle: the emitting
    * variant of the learned walk (a walk row is the state BEFORE
    * consuming at `pos`, so `cnt` is the 0-based index of the piece
    * about to be consumed; space steps emit nothing — the
    * token_split_bpe convention), each consumed slice joined against
    * the learned id table `lvid` (0-based rank of distinct pieces by
    * EARLIEST merge rank — exactly [[BpeVocab.idFrame]]'s
    * (n_occurrences DESC, piece ASC) order under [[mergeVocab]]'s
    * rank-derived counts, with ties impossible because min-ranks are
    * distinct per piece), OOV units mapped to |V| + code point. */
  private[text] lazy val learnedIdsSql: String =
    s"""WITH RECURSIVE $learnedIdsCtes
       |SELECT doc_id, token_idx, piece_id,
       |  CAST(2 AS INTEGER) AS vocab_version
       |FROM lids""".stripMargin

  /** [[learnedIdsSql]]'s machinery as a composable CTE chain ending in
    * `lids(doc_id, token_idx, piece_id)` (plus `lv`/`lvid`/`lbd` for
    * downstream joins) — shared by the renumber oracle and every
    * oracle that consumes the learned-id stream (decode round-trip,
    * packed-sequence export). Callers prepend `WITH RECURSIVE`. */
  private[text] lazy val learnedIdsCtes: String =
    s"""${learnedWalkCtes(DefaultRounds)},
       |lv AS MATERIALIZED (
       |  SELECT piece, min(rank) AS r
       |  FROM (${mergeUnion(DefaultRounds)}) GROUP BY piece),
       |lvid AS MATERIALIZED (
       |  SELECT piece, CAST(row_number() OVER (ORDER BY r ASC)
       |    AS INTEGER) - 1 AS piece_id
       |  FROM lv),
       |lids AS MATERIALIZED (
       |  SELECT w.doc_id, CAST(w.cnt AS INTEGER) AS token_idx,
       |    CAST(coalesce(v.piece_id,
       |      (SELECT count(*) FROM lv)
       |        + unicode(substr(d.s, w.pos, m.adv[w.pos])))
       |      AS INTEGER) AS piece_id
       |  FROM lwalk w
       |  JOIN lbml m ON m.doc_id = w.doc_id
       |  JOIN lbd d ON d.doc_id = w.doc_id
       |  LEFT JOIN lvid v ON v.piece = substr(d.s, w.pos, m.adv[w.pos])
       |  WHERE w.pos <= len(m.adv) AND m.adv[w.pos] != -1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the learned merge table itself — the staged tokenizer artifact
    QuerySpec("bpe_train_merges", (s, d) =>
      read(s, fixtureStore(s, d)).orderBy(col("rank")),
      s"""WITH ${mergeChainCtesSql()}
         |SELECT rank, lt AS left_piece, rt AS right_piece, piece,
         |  CAST(c AS BIGINT) AS n_pairs
         |FROM (${mergeUnion(DefaultRounds)})
         |ORDER BY rank""".stripMargin),

    // the token family against the LEARNED vocabulary: same trie
    // kernel, same by-reference transport, pieces from merge training
    QuerySpec("token_count_bpe_learned", (s, d) =>
      TextOps.tokenCountsBpe(Tables(s, d, "documents"), pieces(s, d)),
      s"""WITH RECURSIVE ${learnedWalkCtes(DefaultRounds)}
         |SELECT b.doc_id,
         |  CAST(len(string_split(d.s, ' ')) AS INTEGER) AS ws_tokens,
         |  CAST(b.nn AS INTEGER) AS bpe_tokens
         |FROM lbpe b JOIN lbd d ON d.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin))
}
