package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native best/worst-price extraction over one side of a venue's book
  * JSON, without the Jackson parse:
  *   - Kalshi: `kalshi_max_cents(json, 'yes')` equals
  *     `array_max(transform(from_json(json).yes, l -> l[1]))` for
  *     integer-cent books (`kalshi_min_cents` the `array_min` twin).
  *   - Polymarket: `poly_max_price(json, 'bids')` equals
  *     `array_max(transform(orderbook.bids, l -> l.price))` over the
  *     `from_json`-parsed book (`poly_min_price` the `array_min` twin).
  *     Number text is parsed with `Double.parseDouble`, the same value
  *     Jackson produces for a JSON number, so results are bit-identical
  *     to the composable form.
  * `from_json` (JsonToStructs) is CodegenFallback: it drops the whole
  * projection out of whole-stage codegen and materializes the full
  * nested book just to read one extreme, which the 10× probe measured as
  * the dominant cost of the price-path queries. This is one linear char
  * scan that never allocates the book.
  *
  * Contract (mirrors the composable form's malformed→null semantics):
  * null when the side key is absent (e.g. the other venue's payload),
  * its array is empty, or the scan hits a level it cannot read — a
  * Kalshi level that is not an integer-priced pair, a Polymarket level
  * object without a numeric `"price"`. Kalshi books with null/float
  * price elements — which neither venue emits, prices are integer cents
  * (ref `etl/query.py:186-202`) — count as malformed here, where
  * `from_json` would null the element and `array_max` skip it; the
  * narrower contract is documented rather than replicated. Polymarket
  * level objects are FLAT (`{"price":p,"size":s}`, any key order) — an
  * object nesting braces would need the general parser. The key is
  * matched as the literal `"side"` token: a book whose STRING VALUES
  * could contain that token needs the general parser, not this kernel.
  */
case class BookExtreme(left: Expression, right: Expression,
                       venue: BookExtreme.Venue, isMax: Boolean)
  extends BinaryExpression {
  import BookExtreme._

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a foldable side-name literal")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string json, string side), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = venue.dataType
  override def nullable: Boolean = true
  override def prettyName: String =
    s"${venue.prefix}_${if (isMax) "max" else "min"}_${venue.unit}"
  // the venue is in the name; plans print what they printed per venue
  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right, isMax)

  override protected def nullSafeEval(json: Any, side: Any): Any = {
    val j = json.asInstanceOf[UTF8String]
    val s = side.asInstanceOf[UTF8String]
    venue match {
      case Kalshi =>
        val r = kalshi(j, s, isMax)
        if (r == Long.MinValue) null else r
      case Polymarket =>
        val r = poly(j, s, isMax)
        if (r.isNaN) null else r
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val r = s"${ev.value}_r"
    val (javaType, isNull) = venue match {
      case Kalshi => ("long", s"$r == Long.MIN_VALUE")
      case Polymarket => ("double", s"Double.isNaN($r)")
    }
    nullSafeCodeGen(ctx, ev, (json, side) =>
      s"""
         |$javaType $r = graft.functions.BookExtreme.${venue.prefix}(
         |  $json, $side, $isMax);
         |${ev.isNull} = $isNull;
         |${ev.value} = $r;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BookExtreme =
    copy(left = newLeft, right = newRight)
}

object BookExtreme {

  /** A venue's SQL name parts, result type and (by `prefix`) the static
    * reader its generated code calls. */
  sealed abstract class Venue(val prefix: String, val unit: String,
                              val dataType: DataType) extends Serializable
  case object Kalshi extends Venue("kalshi", "cents", LongType)
  case object Polymarket extends Venue("poly", "price", DoubleType)

  /** [[levels]]/[[nextLevel]] result: the scan cannot read the book. */
  private final val Malformed = -1
  /** [[nextLevel]] result: the side's closing `]` was reached. */
  private final val End = -2

  @inline private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && { val c = s.charAt(i)
      c == ' ' || c == '\t' || c == '\n' || c == '\r' }) i += 1
    i
  }

  /** Index of the first level under `"side":[`, or [[Malformed]] when the
    * key is absent, the side is empty or the scan runs off the text. */
  private def levels(s: String, side: UTF8String): Int = {
    val key = "\"" + side.toString + "\""
    var i = s.indexOf(key)
    if (i < 0) return Malformed
    i = skipWs(s, i + key.length)
    if (i >= s.length || s.charAt(i) != ':') return Malformed
    i = skipWs(s, i + 1)
    if (i >= s.length || s.charAt(i) != '[') return Malformed
    i = skipWs(s, i + 1)
    if (i >= s.length || s.charAt(i) == ']') Malformed else i
  }

  /** After a level whose closing char is at `close`: the index of the
    * next level, [[End]] at the side's `]`, else [[Malformed]]. */
  private def nextLevel(s: String, close: Int): Int = {
    val i = skipWs(s, close + 1)
    if (i >= s.length) Malformed
    else s.charAt(i) match {
      case ',' =>
        val j = skipWs(s, i + 1)
        if (j < s.length) j else Malformed
      case ']' => End
      case _ => Malformed
    }
  }

  /** Max (or min) of the first element of each pair under `"side":[...]`.
    * Long.MinValue encodes null (absent key / empty side / malformed) —
    * called from generated code, so sentinel instead of a box. */
  def kalshi(json: UTF8String, side: UTF8String, isMax: Boolean): Long = {
    val s = json.toString
    var i = levels(s, side)
    var best = if (isMax) Long.MinValue else Long.MaxValue
    while (i >= 0) {
      if (s.charAt(i) != '[') return Long.MinValue
      i = skipWs(s, i + 1)
      var neg = false
      if (i < s.length && s.charAt(i) == '-') { neg = true; i += 1 }
      var v = 0L
      var digits = 0
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        v = v * 10 + (s.charAt(i) - '0'); digits += 1; i += 1
      }
      if (digits == 0) return Long.MinValue
      if (neg) v = -v
      if (if (isMax) v > best else v < best) best = v
      // the quantity (and any further elements) are irrelevant: skip to
      // the pair's closing bracket
      val close = s.indexOf(']', i)
      if (close < 0) return Long.MinValue
      i = nextLevel(s, close)
      if (i == End) return best
    }
    Long.MinValue
  }

  @inline private def isNumChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.' ||
      c == 'e' || c == 'E'

  /** Max (or min) `"price"` under `"side":[{...},...]`. NaN encodes
    * null (absent key / empty side / malformed) — prices are real
    * numbers, NaN cannot collide. Called from generated code. */
  def poly(json: UTF8String, side: UTF8String, isMax: Boolean): Double = {
    val s = json.toString
    var i = levels(s, side)
    var best = if (isMax) Double.NegativeInfinity
               else Double.PositiveInfinity
    while (i >= 0) {
      if (s.charAt(i) != '{') return Double.NaN
      val objEnd = s.indexOf('}', i)
      if (objEnd < 0) return Double.NaN
      // any key order within the flat level object
      val pk = s.indexOf("\"price\"", i)
      if (pk < 0 || pk > objEnd) return Double.NaN
      var j = skipWs(s, pk + 7)
      if (j >= s.length || s.charAt(j) != ':') return Double.NaN
      j = skipWs(s, j + 1)
      val numStart = j
      while (j < s.length && isNumChar(s.charAt(j))) j += 1
      if (j == numStart) return Double.NaN
      val v =
        try java.lang.Double.parseDouble(s.substring(numStart, j))
        catch { case _: NumberFormatException => return Double.NaN }
      if (if (isMax) v > best else v < best) best = v
      i = nextLevel(s, objEnd)
      if (i == End) return best
    }
    Double.NaN
  }
}
