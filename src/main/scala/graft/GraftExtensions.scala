package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** Engine extensions — registered on every session via
  * `spark.sql.extensions=graft.GraftExtensions` (see `Tables.session`).
  * Injects graft's native SQL functions, one per row of
  * [[GraftExtensions.sqlFunctions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  /** Wrong-arity calls surface as the same AnalysisException (error class
    * WRONG_NUM_ARGS) users get from builtin functions during resolution —
    * not a raw IllegalArgumentException from a require. */
  private def wrongNumArgs(name: String, expected: String, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  /** Non-deprecated ExpressionInfo construction (the short usage-only
    * constructor was deprecated in 3.0; the primary wants every field). */
  private def info(className: String, name: String,
                   usage: String): ExpressionInfo =
    new ExpressionInfo(className, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit =
    sqlFunctions.foreach { f =>
      ext.injectFunction((
        FunctionIdentifier(f.name),
        info(f.cls.getName, f.name, f.usage),
        (children: Seq[Expression]) => {
          if (!f.arity.accepts(children.length))
            wrongNumArgs(f.name, f.arity.expected, children.length)
          f.build(children)
        }))
    }
}

object GraftExtensions {

  /** The argument counts a function accepts, and how WRONG_NUM_ARGS
    * words them (`expectedNum`). */
  private[graft] final case class Arity(accepts: Int => Boolean, expected: String)

  private def exactly(n: Int) = Arity(_ == n, n.toString)
  private val TwoOrMore = Arity(_ >= 2, "2 or more")

  /** One native SQL function: its name, implementing class, usage text,
    * accepted arity and the builder from its (arity-checked) arguments. */
  private[graft] final case class Fn(
      name: String, cls: Class[_ <: Expression], usage: String,
      arity: Arity, build: Seq[Expression] => Expression)

  private[graft] val sqlFunctions: Seq[Fn] = Seq(
    Fn("long_dot", classOf[LongDotProduct],
      "long_dot(a, b) - integer dot product of two bigint arrays",
      exactly(2), c => LongDotProduct(c(0), c(1))),
    Fn("count_in", classOf[CountInSet],
      "count_in(arr, 'a', 'b', ...) - count of arr elements in the constant set",
      TwoOrMore, c => CountInSet(c)),
    Fn("simhash16", classOf[HexSimHash],
      "simhash16(arr) - 16-bit nibble-majority SimHash of an array of hex digests",
      exactly(1), c => HexSimHash(c(0), 16)),
    Fn("simhash64", classOf[HexSimHash],
      "simhash64(arr) - 64-bit nibble-bit-majority SimHash of an array of hex digests",
      exactly(1), c => HexSimHash(c(0), 64)),
    Fn("byte_simhash32", classOf[ByteSimHash],
      "byte_simhash32(payload) - 32-bit SimHash over dense 4-byte shingles of a binary payload",
      exactly(1), c => ByteSimHash(c(0), 32)),
    Fn("byte_simhash64", classOf[ByteSimHash],
      "byte_simhash64(payload) - 64-bit SimHash over dense 4-byte shingles of a binary payload",
      exactly(1), c => ByteSimHash(c(0), 64)),
    Fn("byte_hist16", classOf[ByteHist16],
      "byte_hist16(payload) - 16-bin low-nibble byte histogram of a binary payload as array<bigint>",
      exactly(1), c => ByteHist16(c(0))),
    Fn("jaccard_sim", classOf[ArrayJaccard],
      "jaccard_sim(a, b) - set-semantics Jaccard similarity of two string arrays",
      exactly(2), c => ArrayJaccard(c(0), c(1))),
    Fn("word_shingles", classOf[WordShingles],
      "word_shingles(text) - distinct 3-word shingles of a normalized string",
      Arity(n => n == 1 || n == 2, "1 or 2"),
      c => WordShingles(c(0), c.lift(1).getOrElse(Literal(3)))),
    Fn("word_shingles_all", classOf[WordShinglesAll],
      "word_shingles_all(text, n) - ALL n-word shingles in positional order",
      exactly(2), c => WordShinglesAll(c(0), c(1))),
    Fn("minhash_bands", classOf[MinhashBands],
      "minhash_bands(shingles) - the 4 LSH band signatures (8 md5-slice minhashes)",
      exactly(1), c => MinhashBands(c(0))),
    Fn("hamming_near_pairs", classOf[HammingNearPairs],
      "hamming_near_pairs(members, maxHamming) - value-ordered near pairs (id_a, id_b, hamming) within one banded bucket",
      exactly(2), c => HammingNearPairs(c(0), c(1))),
    Fn("cosine_near_pairs", classOf[CosineNearPairs],
      "cosine_near_pairs(members, threshold) - value-ordered pairs (id_a, id_b, cosine) at cosine >= threshold within one capped bucket",
      exactly(2), c => CosineNearPairs(c(0), c(1))),
    Fn("nearest_cell", classOf[NearestCell],
      "nearest_cell(v, flat, cells, c2s) - IVF cell argmin by exact integer distance",
      exactly(4), c => NearestCell(c(0), c(1), c(2), c(3))),
    Fn("bpe_count", classOf[BpeCount],
      "bpe_count(text, 'piece', ...) - greedy longest-match subword count against a constant merge vocab",
      TwoOrMore, c => BpeCount(c.head, c.tail, Nil)),
    Fn("bpe_split", classOf[BpeSplit],
      "bpe_split(text, 'piece', ...) - greedy longest-match subword tokenization against a constant merge vocab",
      TwoOrMore, c => BpeSplit(c.head, c.tail, Nil)),
    Fn("norm_text", classOf[NormText],
      "norm_text(s) - lower + trim + collapse whitespace runs to one space",
      exactly(1), c => NormText(c(0))),
    Fn("first_codepoint", classOf[FirstCodePoint],
      "first_codepoint(s) - Unicode code point of the first character (-1 on empty, the DuckDB unicode() convention)",
      exactly(1), c => FirstCodePoint(c(0))),
    Fn("codepoint_char", classOf[CodePointChar],
      "codepoint_char(cp) - single-character string of a Unicode code point (the DuckDB chr() convention; inverse of first_codepoint)",
      exactly(1), c => CodePointChar(c(0))),
    Fn("kalshi_max_cents", classOf[BookExtreme],
      "kalshi_max_cents(json, side) - best (max) integer-cent price of a Kalshi book side",
      exactly(2), c => BookExtreme(c(0), c(1), BookExtreme.Kalshi, isMax = true)),
    Fn("kalshi_min_cents", classOf[BookExtreme],
      "kalshi_min_cents(json, side) - worst (min) integer-cent price of a Kalshi book side",
      exactly(2), c => BookExtreme(c(0), c(1), BookExtreme.Kalshi, isMax = false)),
    Fn("poly_max_price", classOf[BookExtreme],
      "poly_max_price(json, side) - best (max) price of a Polymarket book side",
      exactly(2), c => BookExtreme(c(0), c(1), BookExtreme.Polymarket, isMax = true)),
    Fn("poly_min_price", classOf[BookExtreme],
      "poly_min_price(json, side) - worst (min) price of a Polymarket book side",
      exactly(2), c => BookExtreme(c(0), c(1), BookExtreme.Polymarket, isMax = false)))
}
