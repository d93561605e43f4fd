package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables
import graft.text.TextOps.norm

/** Corpus-level boilerplate and contamination scoring — the n-gram
  * document-frequency family of pretraining-data signals (CCNet /
  * RefinedWeb-style repeated-content detection, generalized to
  * whitespace-token 5-grams because this corpus has no line structure).
  *
  * Scale shape: shingling runs through the native one-pass
  * `word_shingles` kernel (distinct per doc — document frequency needs
  * exactly that), and document frequency is ONE hash aggregate on the
  * gram. The per-doc fraction reuses the same shuffle: a count window
  * partitioned by gram is co-partitioned with the gram aggregate, so
  * the whole query is two exchanges (gram, then doc_id) regardless of
  * corpus size — never a broadcast of an unbounded frequent-gram set.
  */
object Boilerplate extends QueryModule {
  private def grams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function("word_shingles", norm(col("text")), lit(n)))
        .as("gram"))

  /** Corpus-wide boilerplate n-grams: document frequency of every
    * distinct word n-gram, thresholded and top-k'd deterministically. */
  def boilerplateNgrams(docs: DataFrame, n: Int = 5, minDf: Long = 3,
      topK: Int = 100): DataFrame =
    grams(docs, n)
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gram"))
      .limit(topK)

  /** Per-document boilerplate fraction: share of the doc's distinct
    * n-grams whose corpus document frequency is >= minDf. Docs shorter
    * than n tokens have no grams and drop out (no 0/0 rows). */
  def boilerplateFraction(docs: DataFrame, n: Int = 5,
      minDf: Long = 3): DataFrame = {
    val withDf = grams(docs, n)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
    withDf.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_frequent"))
      .withColumn("boilerplate_frac",
        col("n_frequent").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-document contamination overlap vs the benchmark set (doc_id <
    * benchmarkMaxId, as in `Curation.decontaminate`): matched and total
    * distinct 5-gram counts plus their ratio. The benchmark shingle set
    * is bounded by the benchmark's size (not the corpus's) → broadcast. */
  def contamOverlap(docs: DataFrame, benchmarkMaxId: Long = 10): DataFrame = {
    val bench = grams(docs.filter(col("doc_id") < benchmarkMaxId), 5)
      .select(col("gram")).distinct()
    grams(docs.filter(col("doc_id") >= benchmarkMaxId), 5)
      .join(broadcast(bench.withColumn("__hit", lit(1))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      .withColumn("contam_frac",
        col("n_matched").cast("double") / col("n_shingles").cast("double"))
  }

  private val N = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Distinct per-doc word 5-grams, mirroring `word_shingles(norm, 5)`
    * (same list_transform(generate_series) pattern as NearDup's oracle —
    * generate_series as a scalar list function accepts column bounds). */
  private val gramCte =
    s"""g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(l) - 4),
       |    i -> array_to_string(l[i:i+4], ' ')))) AS gram
       |  FROM (SELECT doc_id, string_split($N, ' ') AS l FROM documents)
       |  WHERE len(l) >= 5)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("boilerplate_ngrams", (s, d) =>
      boilerplateNgrams(Tables(s, d, "documents")),
      s"""WITH $gramCte
         |SELECT gram, count(*) AS df FROM g
         |GROUP BY gram HAVING count(*) >= 3
         |ORDER BY df DESC, gram LIMIT 100""".stripMargin),

    QuerySpec("boilerplate_fraction", (s, d) =>
      boilerplateFraction(Tables(s, d, "documents")),
      s"""WITH $gramCte,
         |f AS (SELECT doc_id, gram,
         |        count(*) OVER (PARTITION BY gram) AS df FROM g)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_frequent,
         |  sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS boilerplate_frac
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("contam_overlap", (s, d) =>
      contamOverlap(Tables(s, d, "documents")),
      s"""WITH $gramCte,
         |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
         |SELECT g.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_matched,
         |  sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE AS contam_frac
         |FROM g LEFT JOIN b ON g.gram = b.gram
         |WHERE g.doc_id >= 10
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin))
}
