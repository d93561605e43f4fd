package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Each native kernel's generated code and its interpreted `eval` are two
  * implementations of one SQL function (the width- and venue-parameterized
  * ones splice their parameter into the Java as literals). For every
  * kernel, width and venue, the codegen'd DataFrame result must equal
  * interpreted `eval` row by row on fixture inputs. The inputs are scans
  * (parquet or a checkpoint): over a local `Seq` the optimizer folds the
  * projection interpreted and no generated code runs. */
class KernelParitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Runs `name(c1, ..., cn, extra...)` codegen'd over `in`'s columns
    * (codegen failures throw instead of falling back), checks the
    * kernel sits inside a whole-stage codegen stage, and compares every
    * row with `kernel(literal args).eval`, converted to the Row's
    * external type (strings, arrays, structs). `extra` are literal
    * values (strings, numbers, arrays) appended on both paths. Doubles
    * compare by `equals`, so a NaN matches a NaN. */
  private def assertParity(name: String, in: DataFrame, extra: Any*)(
      kernel: Seq[Expression] => Expression): Unit = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val args = in.columns.toSeq.map(col)
      val df = in.select(args :+ call_function(name, args ++ extra.map(lit): _*): _*)
      val n = args.size
      val fused = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }.exists(_.child.exists(
        _.expressions.exists(_.exists(_.prettyName == name))))
      assert(fused, s"$name is not whole-stage codegen'd:\n" +
        df.queryExecution.executedPlan)
      val rows = df.collect()
      assert(rows.count(!_.isNullAt(n)) > 0, s"$name gave only nulls")
      val bad = rows.filterNot { r =>
        val k = kernel(in.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          Literal.create(r.get(i), f.dataType)
        } ++ extra.map(Literal(_)))
        java.util.Objects.equals(
          CatalystTypeConverters.convertToScala(k.eval(null), k.dataType),
          r.get(n))
      }
      assert(bad.isEmpty, s"$name(${extra.map(lit).mkString(", ")}): " +
        "codegen != eval on " +
        bad.take(3).map(_.get(0)).mkString("; "))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")

  test("simhash16 and simhash64: codegen equals eval on fixture md5 arrays") {
    val words: Column = array_distinct(
      split(graft.text.TextOps.norm(col("text")), " "))
    // checkpointed so the kernel's project reads an RDD scan, not the
    // interpreted md5 transform
    val lh = docs.select(transform(words, t => md5(t.cast("binary"))).as("x"))
      .localCheckpoint()
    assertParity("simhash16", lh)(c => HexSimHash(c.head, 16))
    assertParity("simhash64", lh)(c => HexSimHash(c.head, 64))
  }

  test("byte_simhash32 and byte_simhash64: codegen equals eval on fixture text bytes") {
    val bytes = docs.select(col("text").cast("binary").as("x"))
    assertParity("byte_simhash32", bytes)(c => ByteSimHash(c.head, 32))
    assertParity("byte_simhash64", bytes)(c => ByteSimHash(c.head, 64))
  }

  test("book extremes: codegen equals eval for both venues and sides on snapshot books") {
    // both venues' books: each reader also meets the other venue's
    // payloads, which must read as null on both paths
    val books = graft.sources.Snapshots.store(spark, sf)
      .select(col("full_orderbook").as("x"))
    import BookExtreme.{Kalshi, Polymarket}
    for ((name, venue, isMax, sides) <- Seq(
           ("kalshi_max_cents", Kalshi, true, Seq("yes", "no")),
           ("kalshi_min_cents", Kalshi, false, Seq("yes", "no")),
           ("poly_max_price", Polymarket, true, Seq("bids", "asks")),
           ("poly_min_price", Polymarket, false, Seq("bids", "asks")));
         side <- sides)
      assertParity(name, books, side)(c =>
        BookExtreme(c(0), c(1), venue, isMax))
  }

  test("long_dot: codegen equals eval on quantized fixture embeddings") {
    // equal lengths (a vector against its reverse) and unequal ones (the
    // dot product runs over the shorter), checkpointed like the md5 arrays
    val q = transform(col("embedding"), e => round(e * 1000).cast("long"))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").select(q.as("x"),
      when(col("vec_id") % 2 === 0, reverse(q))
        .otherwise(slice(reverse(q), 1, 5)).as("y"))
      .localCheckpoint()
    assertParity("long_dot", vecs)(c => LongDotProduct(c(0), c(1)))
  }

  test("count_in: codegen equals eval on fixture word arrays") {
    val words = docs.select(split(graft.text.TextOps.norm(col("text")), " ").as("x"))
      .localCheckpoint()
    assertParity("count_in", words, "scan", "sort", "the", "zzz")(CountInSet(_))
    assertParity("count_in", words, "window")(CountInSet(_))
  }

  test("byte_hist16 and norm_text: codegen equals eval on fixture text") {
    assertParity("byte_hist16",
      docs.select(col("text").cast("binary").as("x")))(c => ByteHist16(c.head))
    assertParity("norm_text", docs.select(col("text").as("x")))(c =>
      NormText(c.head))
  }

  test("jaccard_sim: codegen equals eval on fixture word arrays") {
    // each doc's words against a slice of themselves and against the next
    // doc's words; empty arrays included
    val words = split(graft.text.TextOps.norm(col("text")), " ")
    val pairs = docs.select(words.as("x"),
      when(col("doc_id") % 3 === 0, slice(words, 2, 6))
        .when(col("doc_id") % 3 === 1, array().cast("array<string>"))
        .otherwise(reverse(words)).as("y"))
      .localCheckpoint()
    assertParity("jaccard_sim", pairs)(c => ArrayJaccard(c(0), c(1)))
  }

  test("first_codepoint and codepoint_char: codegen equals eval over scans") {
    // every fixture word, the empty one included (-1)
    val words = docs.select(explode(split(col("text"), " ")).as("x"))
      .localCheckpoint()
    assertParity("first_codepoint", words)(c => FirstCodePoint(c.head))
    // scalar values from every plane, surrogates excluded (those throw on
    // both paths); a range scan, so the project is generated code
    val cps = spark.range(0, 0x110000, 997)
      .filter(col("id") < 0xD800 || col("id") > 0xDFFF)
      .select(col("id").cast("int").as("x"))
    assertParity("codepoint_char", cps)(c => CodePointChar(c.head))
  }

  test("word_shingles, word_shingles_all and minhash_bands: codegen equals eval on fixture text") {
    // normalized text, checkpointed so the kernels read an RDD scan; the
    // default width (1 argument) and explicit ones, including widths
    // longer than some docs (empty arrays)
    val texts = docs.select(graft.text.TextOps.norm(col("text")).as("x"))
      .localCheckpoint()
    assertParity("word_shingles", texts)(c => WordShingles(c.head, Literal(3)))
    for (n <- Seq(1, 2, 5, 40)) {
      assertParity("word_shingles", texts, n)(c => WordShingles(c(0), c(1)))
      assertParity("word_shingles_all", texts, n)(c =>
        WordShinglesAll(c(0), c(1)))
    }
    // shingle arrays with null elements mixed in, arrays of nulls only
    // and empty arrays: both of the last give NULL
    val sh = call_function("word_shingles", graft.text.TextOps.norm(col("text")))
    val nul = lit(null).cast("string")
    val arrays = docs.select(
      when(col("doc_id") % 5 === 0, array_union(sh, array(nul)))
        .when(col("doc_id") % 7 === 0, array(nul))
        .when(col("doc_id") % 11 === 0, array().cast("array<string>"))
        .otherwise(sh).as("x"))
      .localCheckpoint()
    assertParity("minhash_bands", arrays)(c => MinhashBands(c.head))
  }

  test("hamming_near_pairs and cosine_near_pairs: codegen equals eval on bucketed members") {
    // one bucket per doc_id % 20: 8-bit signatures, so small Hamming
    // limits keep some pairs; null members and null signatures skipped
    val sig = when(col("doc_id") % 11 === 0, lit(null).cast("long"))
      .otherwise(xxhash64(col("doc_id")).bitwiseAND(255L))
    val hb = docs.groupBy(col("doc_id") % 20)
      .agg(collect_list(struct(col("doc_id"), sig.as("sig"))).as("x"))
      .select(col("x")).localCheckpoint()
    for (h <- Seq(0, 2, 64))
      assertParity("hamming_near_pairs", hb, h)(c => HammingNearPairs(c(0), c(1)))
    // quantized embeddings, zero vectors (NaN cosine, never emitted)
    // and members with a null norm among them
    val q = transform(col("embedding"), e => round(e * 1000).cast("long"))
    val v = when(col("vec_id") % 13 === 0, array_repeat(lit(0L), 64))
      .otherwise(q)
    val n2 = aggregate(v, lit(0L), (a, x) => a + x * x)
    val cb = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy(col("vec_id") % 8)
      .agg(collect_list(struct(col("vec_id"), v.as("v"),
        when(col("vec_id") % 17 === 0, lit(null).cast("long"))
          .otherwise(n2).as("n2"))).as("x"))
      .select(col("x")).localCheckpoint()
    for (t <- Seq(-1.0, 0.0, 0.1))
      assertParity("cosine_near_pairs", cb, t)(c => CosineNearPairs(c(0), c(1)))
  }

  test("nearest_cell: codegen equals eval against constant centroids") {
    val q = transform(col("embedding"), e => round(e * 1000).cast("long"))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(q.as("x")).localCheckpoint()
    // three fixture vectors and a repeat of the first as centroids: the
    // first and last cells tie on every row, and the first must win
    val cents = vecs.head(3).map(_.getSeq[Long](0).toArray).toSeq
    val all = cents :+ cents.head
    val flat = all.flatten.toArray
    val c2s = all.map(c => c.map(x => x * x).sum).toArray
    assertParity("nearest_cell", vecs, flat, Array(2, 5, 7, 9), c2s)(c =>
      NearestCell(c(0), c(1), c(2), c(3)))
  }

  test("bpe_count and bpe_split: codegen equals eval on fixture text") {
    // pieces of several lengths sharing prefixes, so the longest match
    // and the single-character fallback both occur
    val pieces = Seq("t", "th", "the", "in", "ing", "an", "and", "er", "re", "tion")
    val texts = docs.select(graft.text.TextOps.norm(col("text")).as("x"))
      .localCheckpoint()
    assertParity("bpe_count", texts, pieces: _*)(c => BpeCount(c.head, c.tail, Nil))
    assertParity("bpe_split", texts, pieces: _*)(c => BpeSplit(c.head, c.tail, Nil))
  }
}
