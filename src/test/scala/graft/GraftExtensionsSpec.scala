package graft

import org.apache.spark.sql.AnalysisException

/** Every native SQL function graft registers, with the argument counts
  * it accepts. The table is written out here, not read from
  * `GraftExtensions`, so a name dropped from the registration fails. */
class GraftExtensionsSpec extends SparkSpec {

  /** (name, expectedNum text of WRONG_NUM_ARGS, argument counts that
    * must raise it). */
  private val registered: Seq[(String, String, Seq[Int])] = Seq(
    ("long_dot", "2", Seq(1, 3)),
    ("count_in", "2 or more", Seq(0, 1)),
    ("simhash16", "1", Seq(0, 2)),
    ("simhash64", "1", Seq(0, 2)),
    ("byte_simhash32", "1", Seq(0, 2)),
    ("byte_simhash64", "1", Seq(0, 2)),
    ("byte_hist16", "1", Seq(0, 2)),
    ("jaccard_sim", "2", Seq(1, 3)),
    ("word_shingles", "1 or 2", Seq(0, 3)),
    ("word_shingles_all", "2", Seq(1, 3)),
    ("minhash_bands", "1", Seq(0, 2)),
    ("hamming_near_pairs", "2", Seq(1, 3)),
    ("cosine_near_pairs", "2", Seq(1, 3)),
    ("nearest_cell", "4", Seq(3, 5)),
    ("bpe_count", "2 or more", Seq(0, 1)),
    ("bpe_split", "2 or more", Seq(0, 1)),
    ("norm_text", "1", Seq(0, 2)),
    ("first_codepoint", "1", Seq(0, 2)),
    ("codepoint_char", "1", Seq(0, 2)),
    ("kalshi_max_cents", "2", Seq(1, 3)),
    ("kalshi_min_cents", "2", Seq(1, 3)),
    ("poly_max_price", "2", Seq(1, 3)),
    ("poly_min_price", "2", Seq(1, 3)))

  test("all 23 native functions are registered and resolve") {
    val names = registered.map(_._1)
    assert(names.distinct.size === 23)
    assert(GraftExtensions.sqlFunctions.map(_.name).sorted === names.sorted)
    names.foreach(n =>
      assert(spark.catalog.functionExists(n), s"$n does not resolve"))
  }

  test("a wrong argument count raises WRONG_NUM_ARGS like a builtin") {
    for ((name, expected, bad) <- registered; n <- bad) {
      val args = Seq.fill(n)("NULL").mkString(", ")
      val e = intercept[AnalysisException] {
        spark.sql(s"SELECT $name($args)")
      }
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        s"$name with $n arguments")
      val params = e.getMessageParameters
      assert(params.get("functionName") === s"`$name`")
      assert(params.get("expectedNum") === expected, s"$name with $n arguments")
      assert(params.get("actualNum") === n.toString)
    }
  }

  test("variadic and defaulted arities build") {
    val r = spark.sql(
      """SELECT count_in(array('a', 'b', 'c'), 'a') AS c1,
        |       count_in(array('a', 'b', 'c'), 'a', 'b', 'z', 'c') AS c4,
        |       bpe_count('abcd', 'ab') AS b1,
        |       bpe_count('abcd', 'ab', 'cd', 'abc', 'bcd') AS b4,
        |       word_shingles('a b c d') = word_shingles('a b c d', 3) AS dflt
        |""".stripMargin).head()
    assert(r.getInt(0) === 1)
    assert(r.getInt(1) === 3)
    assert(!r.isNullAt(2) && !r.isNullAt(3))
    assert(r.getBoolean(4))
  }
}
