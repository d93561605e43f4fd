package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ByteSimHash32Spec extends SparkSpec {

  /** Reference model of the kernel: dense big-endian 4-byte windows,
    * two multiplicative-mix rounds, bit-majority votes. */
  private def model(bytes: Array[Byte]): Long = {
    val n = bytes.length - 3
    val votes = new Array[Int](32)
    for (i <- 0 until math.max(n, 0)) {
      val v = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      var h = (v * 741103597L) & 0xFFFFFFFFL
      h = (h * 741103597L) & 0xFFFFFFFFL
      for (k <- 0 until 32) if (((h >> k) & 1L) == 1L) votes(k) += 1
    }
    (0 until 32).map(k =>
      if (2 * votes(k) - math.max(n, 0) > 0) 1L << k else 0L).sum
  }

  test("byte_simhash32 matches the scala model on real payloads") {
    import spark.implicits._
    val texts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").as[String].take(50)
    val expected = texts.map(t => model(t.getBytes("UTF-8")))
    val got = texts.toSeq.toDF("text")
      .select(call_function("byte_simhash32",
        col("text").cast("binary")).as("sig"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === expected.toSeq)
  }

  test("codegen and interpreted eval agree") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val payload = "abcdefgh repeated content abcdefgh".getBytes("UTF-8")
    val expr = ByteSimHash(Literal(payload), 32)
    // interpreted path directly; the DataFrame path above ran codegen
    assert(expr.eval(null) === model(payload))
  }

  test("edge cases: null, sub-window payloads, local-edit stability") {
    val r = spark.sql(
      """SELECT byte_simhash32(CAST(NULL AS BINARY)) AS a,
        |       byte_simhash32(CAST('abc' AS BINARY)) AS b,
        |       byte_simhash32(CAST('' AS BINARY)) AS c""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L) // 3 bytes: no full window, no votes
    assert(r.getLong(2) === 0L)
    // a local edit flips few signature bits: the near-dup property the
    // banded join exploits
    val base = ("the quick brown fox jumps over the lazy dog " * 8)
      .getBytes("UTF-8")
    val edited = base.clone(); edited(10) = 'X'.toByte
    val d = java.lang.Long.bitCount(model(base) ^ model(edited))
    assert(d <= 6, s"local edit flipped $d of 32 bits")
  }

  test("wrong arity raises AnalysisException like a builtin") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT byte_simhash32(CAST('x' AS BINARY), 2)").collect()
    }
    assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
  }
}
