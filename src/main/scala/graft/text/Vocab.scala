package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables
import graft.text.TextOps.norm

/** Corpus vocabulary statistics — term frequencies and length
  * distributions, the profiling stage of a training-data pipeline.
  *
  * The token explode shuffles once into a partial-aggregated count (the
  * classic word-count shape: map-side combine keeps shuffle volume at
  * O(vocabulary), not O(tokens)); the histogram is one bucketed
  * aggregate.
  */
object Vocab extends QueryModule {
  /** Top-k corpus terms by document frequency and total count,
    * tie-broken by token for determinism. */
  def topTerms(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(split(norm(col("text")), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(desc("occurrences"), desc("doc_freq"), asc("token"))
      .limit(k)

  /** Token-count histogram in buckets of `width`. */
  def lengthHistogram(docs: DataFrame, width: Int = 10): DataFrame =
    docs
      .select((size(split(norm(col("text")), " "))
        .cast("long")./(width)).cast("long").*(width).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("docs"))
      .orderBy("bucket")

  /** TF-IDF: top `k` terms per document (docs below `maxDocId`), score =
    * tf · ln(N/df). Exact integer tf/df; the single ln(N/df) division is
    * the only float op, mirrored verbatim in the oracle. */
  def tfidfTopK(docs: DataFrame, maxDocId: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(split(norm(col("text")), " ")).as("token"))
    val tf = toks.filter(col("doc_id") < maxDocId)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    // ln() is libm-dependent (JVM vs DuckDB differ by 1 ulp), so the score
    // is rounded to 6 decimals before it is ranked or emitted; rounding
    // ties fall to the token tiebreak identically in both engines
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log(col("n").cast("double") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("token").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("tfidf"))
  }

  /** Add-one-smoothed bigram language-model score per document — the
    * perplexity-style quality filter of a pretraining pipeline:
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), score = mean log-prob over the
    * doc's bigram occurrences (occurrences, not distinct — an LM counts
    * every transition).
    *
    * Determinism discipline: a per-doc SUM of raw double logs is
    * order-dependent across engines, so each bigram's log-prob is
    * quantized to an integer (round(ln·10⁶)) BEFORE summing — integer
    * sums are exact in any order; the one double division happens once
    * per doc at the end. (tfidf_topk established that ln + round-6
    * reproduces bit-identically against DuckDB.)
    *
    * Scale shape: 4 linear exchanges — bigram-count window co-partitioned
    * on (w1,w2), a join keyed on w1 against the unigram counts, the
    * per-doc aggregate, and the presentation sort. The two scalar
    * corpus constants (V, and nothing else) broadcast as one-row frames.
    */
  def lmBigramScore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = docs
      .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
    val uni = toked.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.select(count(lit(1)).as("v"))
    val bi = toked
      .filter(size(col("toks")) >= 2)
      .withColumn("a", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .withColumn("b", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .select(col("doc_id"),
        explode(arrays_zip(col("a"), col("b"))).as("z"))
      .select(col("doc_id"), col("z.a").as("w1"), col("z.b").as("w2"))
    val withC2 = bi.withColumn("c2",
      count(lit(1)).over(Window.partitionBy(col("w1"), col("w2"))))
    withC2
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("q",
        round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")) * 1000000.0, 0)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("logprob_e6"))
      .withColumn("avg_logprob",
        col("logprob_e6").cast("double") /
          (lit(1000000.0) * col("n_bigrams").cast("double")))
  }

  /** Domain-discriminative vocabulary: per source, the tokens with the
    * highest add-one log-odds ratio vs the REST of the corpus (the
    * Monroe-style "what words characterize this domain" signal used for
    * source weighting and contamination triage).
    *
    * All counts are exact integers built on one (source, token) hash
    * aggregate plus two co-partitioned count windows; the single ln per
    * row is rounded to 6 (the tfidf discipline) and RANKING uses the
    * rounded value, so ordering can't differ across engines in the last
    * ulp. */
  def sourceLogOdds(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("source"),
      explode(split(norm(col("text")), " ")).as("w"))
    val cws = toks.groupBy("source", "w").agg(count(lit(1)).as("cws"))
    val tall = toks.agg(count(lit(1)).as("tall"))
    val scored = cws
      .withColumn("cw", sum(col("cws")).over(Window.partitionBy(col("w"))))
      .withColumn("ts",
        sum(col("cws")).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(tall))
      .withColumn("lor", round(
        log(((col("cws") + 1).cast("double") /
          (col("ts") - col("cws") + 1).cast("double")) /
          ((col("cw") - col("cws") + 1).cast("double") /
            (col("tall") - col("ts") - col("cw") + col("cws") + 1)
              .cast("double"))), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("lor").desc, col("w").asc)))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank").cast("int").as("rank"),
        col("w").as("token"), col("cws").as("n_in_source"), col("lor"))
      .orderBy("source", "rank")
  }

  /** Naive-Bayes domain classification per document — the model-based
    * filter stage of a training-data pipeline (the lite form of
    * fastText-style domain/quality scoring): a source-conditional
    * add-one unigram model is trained from the corpus itself, every doc
    * is scored against every source, and the argmax source is the
    * prediction (`is_match` flags agreement with the doc's actual
    * source — the quality/contamination triage signal).
    *
    * Determinism discipline (the tfidf/lm_bigram pattern): each model
    * log-prob and each prior is ONE ln rounded to e6-quantized longs,
    * computed ONCE per (token, source) in the model frame; per-doc
    * scores are exact integer sums of those quanta, so accumulation
    * order cannot move a score and argmax ties break on source name.
    *
    * Scale shape: the model is vocab × sources rows (aggregate-scale,
    * tiny next to the token stream); the token stream joins it on the
    * token key — ONE exchange of the big side — and the per-doc
    * aggregate extends the doc partitioning. The `sources`/`V`/doc-count
    * anchors are one-row broadcasts. Nothing is quadratic; the doc ×
    * sources blowup is the source count (a handful), not the corpus. */
  /** `broadcastModel = false` is the BUCKETED-model form the scaladoc
    * below names for a vocab that outgrows the broadcast budget: the
    * per-word model rows and the per-doc TF stream are hash-partitioned
    * on the SAME token key (an explicit shuffle-hash join hint — never
    * a sort-merge, the model side needs no order), so the model shards
    * across executors instead of residing whole in every one. One extra
    * exchange of the (small) model; the token stream crosses exactly
    * the same single exchange as the broadcast form, and every
    * downstream step is unchanged — same results, plan-asserted
    * different join strategy. */
  def domainClassify(docs: DataFrame,
                     broadcastModel: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col("doc_id"), col("source"),
      explode(split(norm(col("text")), " ")).as("w"))
    // every model statistic derives from the ONE (w, source) count
    // aggregate, not from tk: the derivations share an identical
    // corpus-scan subtree instead of independent explode passes.
    // NOT pinned (r17, re-measured r18): an eager localCheckpoint — of
    // the (w, source) aggregate in r17 (5.7 s → 16-52 s at 10x) or of
    // the per-doc TF frame in r18 (5.7 → 7.4-9.7 s) — loses to the
    // repeated (cheap, codegen'd, scan-local) tokenize passes it
    // saves: materializing the token-grain frame costs more than the
    // passes, and the checkpointed scan loses stats/partitioning.
    val cws = tk.groupBy(col("w"), col("source")).agg(count(lit(1)).as("c"))
    val v = cws.agg(countDistinct(col("w")).as("v"))
    // dense source index in source-name order: downstream score keys
    // and argmax tie-breaks use the INT index (idx order == name order),
    // keeping every wide exchange free of string keys.
    // r18: per-source token totals at DOC grain (Σ split sizes — no
    // explode, no token exchange; the null-text filter keeps the source
    // SET identical to the token aggregate's, since explode emits
    // nothing for null text while an empty string splits to one ""
    // token in both derivations), COLLECTED once — a bounded dimension
    // read (#sources rows, the tokenIdsBpe vocab-collect class) that
    // replaces the unpartitioned row_number window every broadcast
    // consumer re-ran ("WindowExec: No Partition Defined" ×50 per
    // invocation, each a single-task exchange+sort of the doc scan).
    val spark0 = docs.sparkSession
    import spark0.implicits._
    val sidxRows = docs.filter(norm(col("text")).isNotNull)
      .groupBy(col("source"))
      .agg(sum(size(split(norm(col("text")), " ")).cast("long")).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).zipWithIndex
      .map { case ((src, t), i) => (src, t, i) }
    val sidx = sidxRows.toIndexedSeq.toDF("source", "t", "idx")
      .select(col("source"), col("t"), col("idx").cast("int").as("idx"))
    // r18: no vocab × sources expand join — an absent (w, source) cell's
    // log-prob is the SAME per-source constant (c = 0), so the model is
    // the present cells as an idx-keyed map per word plus one absent-
    // value array per source, filled in at array-build time. Identical
    // lw_e6 per cell: coalesce(c, 0) under the same rounded ln.
    val absentF = sidx.crossJoin(broadcast(v))
      .withColumn("absent_e6",
        round(log(lit(1).cast("double") /
          (col("t") + col("v")).cast("double")) * 1000000.0, 0)
          .cast("long"))
      .agg(transform(
        sort_array(collect_list(struct(col("idx"), col("absent_e6")))),
        x => x.getField("absent_e6")).as("absent"),
        count(lit(1)).cast("int").as("n_src"))
    // one model row per WORD: the per-source log-probs packed as an
    // array ordered by source index — the broadcast side of the score
    // join (vocab-bounded the way any unigram model is; hash-bucket the
    // tail vocab if a 100 TB corpus ever overflows the broadcast
    // budget). Explicit broadcast: post-explode the token stream has no
    // size stats and Catalyst otherwise picks IT as the build side
    // (observed: a 2.5M-row broadcast of the whole exploded corpus).
    val modelW = cws
      .join(broadcast(sidx.select(col("source"), col("idx"), col("t"))),
        "source")
      .crossJoin(broadcast(v))
      .withColumn("lw_e6",
        round(log((col("c") + 1).cast("double") /
          (col("t") + col("v")).cast("double")) * 1000000.0, 0)
          .cast("long"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(col("idx"), col("lw_e6"))))
        .as("present"))
      .crossJoin(broadcast(absentF))
      .select(col("w"),
        transform(sequence(lit(0), col("n_src") - 1),
          i => coalesce(element_at(col("present"), i),
            element_at(col("absent"), i + 1))).as("lws"))
    val prior = docs.groupBy(col("source")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("ndall"))))
      .withColumn("prior_e6",
        round(log(col("nd").cast("double") / col("ndall").cast("double"))
          * 1000000.0, 0).cast("long"))
      .join(broadcast(sidx.select(col("source"), col("idx"))), "source")
      .select(col("idx"), col("source").as("pred_source"), col("prior_e6"))
    // score via per-doc TF (collapses repeated words BEFORE the
    // source fan-out), then one narrow (doc_id, idx, contribution)
    // stream — integer keys only, map-side partial sums
    val tf = tk.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val modelSide =
      if (broadcastModel) broadcast(modelW) else modelW.hint("shuffle_hash")
    val ranked = tf.join(modelSide, "w")
      .select(col("doc_id"),
        posexplode(transform(col("lws"), lw => lw * col("tf"))))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("col")).as("lsum"))
      .join(broadcast(prior), col("pos") === col("idx"))
      .withColumn("score_e6", (col("prior_e6") + col("lsum")).cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_e6").desc, col("idx").asc)))
      .filter(col("rank") === 1)
    // the doc's true source attaches at DOC scale, after the argmax —
    // never a string key through the token-wide exchanges
    ranked
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("pred_source"),
        col("score_e6"),
        (col("pred_source") === col("source")).as("is_match"))
  }

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  // NB domain classification replayed exactly: same add-one unigram
  // model, same e6-quantized ln per (token, source), exact integer
  // score sums, argmax ties to the lowest source name. ONE text for
  // both engine forms — the bucketed twin changes the join strategy,
  // never the semantics, so sharing the oracle string is the proof.
  private val domainClassifySql =
      s"""WITH tk AS (
         |  SELECT doc_id, source, unnest(string_split($N, ' ')) AS w
         |  FROM documents),
         |cws AS (SELECT w, source, count(*) AS c FROM tk GROUP BY 1, 2),
         |ts AS (SELECT source, count(*) AS t FROM tk GROUP BY source),
         |v AS (SELECT count(DISTINCT w) AS v FROM tk),
         |vocab AS (SELECT DISTINCT w FROM tk),
         |model AS (
         |  SELECT vocab.w, ts.source AS s,
         |    CAST(round(ln(CAST(coalesce(cws.c, 0) + 1 AS DOUBLE)
         |      / CAST(ts.t + v.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS lw
         |  FROM vocab CROSS JOIN ts CROSS JOIN v
         |  LEFT JOIN cws ON cws.w = vocab.w AND cws.source = ts.source),
         |pr AS (
         |  SELECT source AS s,
         |    CAST(round(ln(CAST(count(*) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM documents) AS DOUBLE))
         |      * 1000000.0) AS BIGINT) AS p
         |  FROM documents GROUP BY source),
         |sc AS (
         |  SELECT tk.doc_id, tk.source, m.s, pr.p + sum(m.lw) AS score_e6
         |  FROM tk JOIN model m ON tk.w = m.w JOIN pr ON pr.s = m.s
         |  GROUP BY tk.doc_id, tk.source, m.s, pr.p)
         |SELECT doc_id, source, s AS pred_source,
         |  CAST(score_e6 AS BIGINT) AS score_e6, s = source AS is_match
         |FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score_e6 DESC, s ASC) AS rn FROM sc)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("domain_classify", (s, d) =>
      domainClassify(Tables(s, d, "documents")),
      domainClassifySql),
    QuerySpec("domain_classify_bucketed", (s, d) =>
      domainClassify(Tables(s, d, "documents"), broadcastModel = false),
      domainClassifySql),

    QuerySpec("source_logodds", (s, d) =>
      sourceLogOdds(Tables(s, d, "documents")),
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($N, ' ')) AS w
         |  FROM documents),
         |cws AS (
         |  SELECT source, w, count(*) AS cws FROM toks GROUP BY 1, 2),
         |tall AS (SELECT count(*) AS tall FROM toks),
         |scored AS (
         |  SELECT source, w, cws,
         |    CAST(sum(cws) OVER (PARTITION BY w) AS BIGINT) AS cw,
         |    CAST(sum(cws) OVER (PARTITION BY source) AS BIGINT) AS ts,
         |    tall.tall
         |  FROM cws, tall),
         |l AS (
         |  SELECT source, w, cws,
         |    round(ln((CAST(cws + 1 AS DOUBLE)
         |        / CAST(ts - cws + 1 AS DOUBLE))
         |      / (CAST(cw - cws + 1 AS DOUBLE)
         |        / CAST(tall - ts - cw + cws + 1 AS DOUBLE))), 6) AS lor
         |  FROM scored)
         |SELECT source,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY lor DESC, w ASC) AS INTEGER) AS rank,
         |  w AS token, cws AS n_in_source, lor
         |FROM l
         |QUALIFY rank <= 3
         |ORDER BY source, rank""".stripMargin),

    QuerySpec("lm_bigram_score", (s, d) =>
      lmBigramScore(Tables(s, d, "documents")),
      // aligned-slice zip-unnest generates per-occurrence bigrams; the
      // quantize-then-sum discipline mirrors the engine exactly
      s"""WITH t AS (SELECT doc_id, string_split($N, ' ') AS l
         |           FROM documents),
         |uni AS (
         |  SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(l) AS w FROM t) GROUP BY w),
         |vocab AS (SELECT count(*) AS v FROM uni),
         |bi AS (
         |  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1,
         |         unnest(l[2:len(l)]) AS w2
         |  FROM t WHERE len(l) >= 2),
         |c AS (
         |  SELECT doc_id, w1, w2,
         |    count(*) OVER (PARTITION BY w1, w2) AS c2
         |  FROM bi),
         |q AS (
         |  SELECT c.doc_id,
         |    CAST(round(ln(CAST(c.c2 + 1 AS DOUBLE)
         |      / CAST(uni.c1 + vocab.v AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS q
         |  FROM c JOIN uni ON c.w1 = uni.w, vocab)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(q) AS BIGINT) AS logprob_e6,
         |  CAST(sum(q) AS DOUBLE) / (1000000.0 * count(*))
         |    AS avg_logprob
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("vocab_topk", (s, d) => topTerms(Tables(s, d, "documents"), 50),
      s"""SELECT token, count(*) AS occurrences,
         |count(DISTINCT doc_id) AS doc_freq
         |FROM (SELECT doc_id, unnest(string_split($N, ' ')) AS token
         |      FROM documents)
         |GROUP BY token
         |ORDER BY occurrences DESC, doc_freq DESC, token ASC
         |LIMIT 50""".stripMargin),

    QuerySpec("tfidf_topk", (s, d) =>
      tfidfTopK(Tables(s, d, "documents"), 20, 3),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($N, ' ')) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks
         |  WHERE doc_id < 20 GROUP BY doc_id, token),
         |dfreq AS (
         |  SELECT token, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT tf.doc_id, CAST(row_number() OVER (PARTITION BY tf.doc_id
         |    ORDER BY round(CAST(tf.tf AS DOUBLE)
         |      * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) DESC,
         |      tf.token ASC) AS INTEGER) AS rank,
         |  tf.token, tf.tf, dfreq.df,
         |  round(CAST(tf.tf AS DOUBLE)
         |    * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
         |FROM tf JOIN dfreq USING (token), n
         |QUALIFY rank <= 3
         |ORDER BY doc_id, rank""".stripMargin),

    QuerySpec("length_histogram", (s, d) =>
      lengthHistogram(Tables(s, d, "documents")),
      s"""SELECT (len(string_split($N, ' ')) // 10) * 10 AS bucket,
         |count(*) AS docs
         |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin))
}
