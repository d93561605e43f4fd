package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SimHash signature from an array of hex digest strings, `bits` wide:
  * SQL functions `simhash16(arr)` and `simhash64(arr)`.
  *
  * Each element votes with the low `perNibble` bits of each of its first
  * `nibbles` hex nibbles: vote j of nibble p (0-indexed) is bit j of the
  * nibble's value and lands on signature bit `perNibble * p + j`, which
  * is set iff a strict majority of the array's elements voted for it.
  *   - 16 bits: 1 vote per nibble over the first 16 nibbles — bit k is
  *     the majority on the parity of nibble k (the odd-nibble rule).
  *   - 64 bits: 2 votes per nibble over the first 32 nibbles. One md5
  *     digest carries 32 nibbles = 128 bits of entropy, so the low TWO
  *     bits of each nibble give 64 independent votes per element in one
  *     pass. This is the SCALE form: 16 bits give 65,536 distinct
  *     signatures, so at ~10⁶ documents the signature-grouped keeper
  *     merges unrelated docs by pigeonhole and every 8-bit band bucket
  *     holds ~1/256 of the corpus; 64 bits with 16-bit bands do not.
  * Both rules replay in SQL: the bit of a hex char is a constant IN-list
  * per bit position.
  *
  * The composable form (`sum over k of CASE WHEN 2*size(filter(arr, h ->
  * substr(h,k,1) IN (...))) - size(arr) > 0 THEN 2^k END`) walks the
  * array through one interpreted `ArrayFilter` pass per bit
  * (CodegenFallback, one intermediate array each) — the round-2 bench's
  * slowest query. This expression accumulates all vote counters in ONE
  * generated pass over the `ArrayData`, inside whole-stage codegen. Bit
  * 63 makes a 64-bit signature negative as a signed long — harmless
  * downstream: XOR, bit_count and masked band extraction are
  * sign-agnostic, and both Spark's `shiftright` and DuckDB's `>>` are
  * arithmetic shifts, so `(sig >> 16*i) & 65535` extracts identical band
  * values in engine and oracle.
  *
  * Null array → null; null elements count toward the population n but
  * never vote (they cannot occur in the md5-built caller). Elements
  * shorter than `nibbles` chars vote only on the nibbles they have.
  */
case class HexSimHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits == 16 || bits == 64, s"simhash width must be 16 or 64, got $bits")

  private val perNibble = if (bits == 16) 1 else 2
  private val nibbles = bits / perNibble

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = s"simhash$bits"
  // the width is in the name; plans print only the argument
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = {
    val data = input.asInstanceOf[ArrayData]
    val n = data.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!data.isNullAt(i)) {
        val s = data.getUTF8String(i)
        val m = math.min(nibbles, s.numBytes())
        var p = 0
        while (p < m) {
          val c = s.getByte(p)
          // hex nibble value: '0'-'9' → c-48, 'a'-'f' → c-87
          val v = if (c <= '9') c - '0' else c - ('a' - 10)
          var j = 0
          while (j < perNibble) {
            votes(perNibble * p + j) += (v >> j) & 1
            j += 1
          }
          p += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < bits) {
      if (2 * votes(k) - n > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val k = ctx.freshName("k")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val v = ctx.freshName("v")
      val sig = ctx.freshName("sig")
      // one literal line per vote of a nibble: no loop over j at runtime
      val vote = (0 until perNibble).map { j =>
        val at = if (perNibble == 1) p else s"$perNibble * $p + $j"
        s"$votes[$at] += ($v >> $j) & 1;"
      }.mkString("\n")
      s"""
         |int $n = $arr.numElements();
         |int[] $votes = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
         |    int $m = Math.min($nibbles, $s.numBytes());
         |    for (int $p = 0; $p < $m; $p++) {
         |      byte $c = $s.getByte($p);
         |      int $v = $c <= '9' ? $c - '0' : $c - ('a' - 10);
         |$vote
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < $bits; $k++) {
         |  if (2 * $votes[$k] - $n > 0) $sig |= 1L << $k;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HexSimHash =
    copy(child = newChild)
}
