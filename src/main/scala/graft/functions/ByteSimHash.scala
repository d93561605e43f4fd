package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** SimHash over a binary payload's dense 4-byte shingles, `bits` wide:
  * SQL functions `byte_simhash32(payload)` and `byte_simhash64(payload)`.
  *
  * Every window of 4 consecutive bytes (big-endian unsigned int `v`) is
  * mixed by two rounds of the 32-bit multiplicative hash
  * `h -> (h * M) mod 2^32`, and bit k of the signature is set iff a
  * strict majority of windows have bit k of their mixed hash set.
  * Signature bits 0..31 use M = 741103597; the 64-bit form adds an
  * independent mix with M = 1597334677 for bits 32..63, so the low half
  * of a 64-bit signature EQUALS the 32-bit one (spec-pinned) — the scale
  * width for when 8/16-bit band buckets of the 32-bit signature go
  * quadratic at ~10⁹ assets. Windows vote with multiplicity
  * (frequency-weighted SimHash); payloads shorter than 4 bytes yield 0.
  *
  * Why this and not md5-per-shingle through `simhash16`: a payload of n
  * bytes has n−3 windows, and the HOF `transform(..., md5)` form
  * evaluates an interpreted digest per window — ~9 ms/asset at the
  * fixture's ~1 KB payloads, which is the whole suite's budget at sf0.1
  * for one query. This kernel is one codegen'd pass over the bytes with
  * integer arithmetic only. The mix stays exact in 64-bit signed math
  * (v ≤ 2^32−1 times a constant < 2^31 is < 2^63), so the DuckDB oracle
  * replays every bit with BIGINT ops — the reason it is a multiplicative
  * hash and not xxhash64, which DuckDB cannot compute. Bit 63 makes a
  * 64-bit signature negative as a signed long (harmless: XOR/bit_count/
  * masked arithmetic shifts are sign-agnostic in both engines, as with
  * the text family's `simhash64`).
  */
case class ByteSimHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits == 32 || bits == 64, s"byte simhash width must be 32 or 64, got $bits")

  private val mixes = ByteSimHash.Mixes.take(bits / 32)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = s"byte_simhash$bits"
  // the width is in the name; plans print only the argument
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length - 3
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val v = ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
      var half = 0
      while (half < mixes.length) {
        val mix = mixes(half)
        var h = (v * mix) & ByteSimHash.Mask
        h = (h * mix) & ByteSimHash.Mask
        var k = 0
        while (k < 32) {
          if (((h >> k) & 1L) == 1L) votes(32 * half + k) += 1
          k += 1
        }
        half += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < bits) {
      if (2 * votes(k) - math.max(n, 0) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bytes => {
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val v = ctx.freshName("v")
      val sig = ctx.freshName("sig")
      val mask = s"${ByteSimHash.Mask}L"
      // one literal mix and one literal vote line per 32-bit half
      val hs = mixes.indices.map(half => ctx.freshName(s"h${half + 1}"))
      val mix = mixes.zip(hs).map { case (m, h) =>
        s"""  long $h = ($v * ${m}L) & $mask;
           |  $h = ($h * ${m}L) & $mask;""".stripMargin
      }.mkString("\n")
      val vote = hs.zipWithIndex.map { case (h, half) =>
        val at = if (half == 0) k else s"$k + ${32 * half}"
        s"    if ((($h >> $k) & 1L) == 1L) $votes[$at]++;"
      }.mkString("\n")
      // no line may BEGIN with '|': enclosing operators splice this block
      // into their own stripMargin templates (see NearestCell)
      s"""
         |byte[] $b = $bytes;
         |int $n = $b.length - 3;
         |int[] $votes = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $v = (($b[$i] & 0xffL) << 24) | (($b[$i + 1] & 0xffL) << 16) |
         |    (($b[$i + 2] & 0xffL) << 8) | ($b[$i + 3] & 0xffL);
         |$mix
         |  for (int $k = 0; $k < 32; $k++) {
         |$vote
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < $bits; $k++) {
         |  if (2 * $votes[$k] - Math.max($n, 0) > 0) $sig |= 1L << $k;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ByteSimHash = copy(child = newChild)
}

object ByteSimHash {
  /** Mix constant of signature bits 0..31, then of bits 32..63. */
  private val Mixes = Array(741103597L, 1597334677L)
  private final val Mask = 0xFFFFFFFFL
}
