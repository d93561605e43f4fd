package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ByteSimHash64Spec extends SparkSpec {

  /** Reference model: dense big-endian 4-byte windows, two independent
    * two-round multiplicative mixes, bit-majority votes per hash bit. */
  private def model(bytes: Array[Byte]): Long = {
    val n = bytes.length - 3
    val votes = new Array[Int](64)
    for (i <- 0 until math.max(n, 0)) {
      val v = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      var h1 = (v * 741103597L) & 0xFFFFFFFFL
      h1 = (h1 * 741103597L) & 0xFFFFFFFFL
      var h2 = (v * 1597334677L) & 0xFFFFFFFFL
      h2 = (h2 * 1597334677L) & 0xFFFFFFFFL
      for (k <- 0 until 32) {
        if (((h1 >> k) & 1L) == 1L) votes(k) += 1
        if (((h2 >> k) & 1L) == 1L) votes(k + 32) += 1
      }
    }
    (0 until 64).map(k =>
      if (2 * votes(k) - math.max(n, 0) > 0) 1L << k else 0L)
      .foldLeft(0L)(_ | _)
  }

  test("byte_simhash64 matches the scala model; low half equals byte_simhash32") {
    import spark.implicits._
    val texts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").as[String].take(50)
    val expected = texts.map(t => model(t.getBytes("UTF-8")))
    val rows = texts.toSeq.toDF("text")
      .select(
        call_function("byte_simhash64", col("text").cast("binary")).as("s64"),
        call_function("byte_simhash32", col("text").cast("binary")).as("s32"))
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === expected.toSeq)
    // bits 0..31 vote through the same Mix1 hash as the 32-bit kernel:
    // the low half of the 64-bit signature IS the 32-bit signature
    rows.foreach(r =>
      assert((r.getLong(0) & 0xFFFFFFFFL) === r.getLong(1)))
  }

  test("codegen and interpreted eval agree; edges; local-edit stability") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val payload = "abcdefgh repeated content abcdefgh".getBytes("UTF-8")
    assert(ByteSimHash(Literal(payload), 64).eval(null) === model(payload))
    val r = spark.sql(
      """SELECT byte_simhash64(CAST(NULL AS BINARY)) AS a,
        |       byte_simhash64(CAST('abc' AS BINARY)) AS b""".stripMargin)
      .head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L) // 3 bytes: no full window, no votes
    // a local edit flips few of the 64 bits — the property the 4-band
    // join exploits at its Hamming<=3 default
    val base = ("the quick brown fox jumps over the lazy dog " * 8)
      .getBytes("UTF-8")
    val edited = base.clone(); edited(10) = 'X'.toByte
    val d = java.lang.Long.bitCount(model(base) ^ model(edited))
    assert(d <= 12, s"local edit flipped $d of 64 bits")
  }

  test("wrong arity raises AnalysisException like a builtin") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT byte_simhash64(CAST('x' AS BINARY), 2)").collect()
    }
    assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
  }
}
