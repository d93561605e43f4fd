package graft

/** The driver smoke-checks `SparkEntry.entry(spark)` with a session IT
  * builds — possibly without Tables.session's confs. entry() must
  * self-provision what it needs: on older Spark 4.x builds the
  * nanosAsLong read path for the TIMESTAMP(NANOS) events fixture, and on
  * current builds (which read it as TimestampNTZ) a pinned UTC session
  * time zone for the epoch derivation. Simulated here by actively
  * unsetting both confs on the shared session before the call. */
class EntrySpec extends SparkSpec {

  test("every registered query carries an oracle, and vice versa") {
    // the CORRECTNESS gate hashes queries against oracleSql by name: a
    // query without an oracle silently downgrades to a rows-only check,
    // an oracle without a query never runs — both are registry bugs
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
    val names = SparkEntry.modules.flatMap(_.specs.map(_.name)).toSet
    assert(q == names, s"queries not from a spec: ${q -- names}; " +
      s"specs missing from queries: ${names -- q}")
  }

  test("no query or oracle name is registered by two modules") {
    // queries and oracleSql key by spec name, and building a Map keeps
    // the last entry for a repeated name without a word — whether the
    // name repeats in two modules or twice within one
    val names = SparkEntry.modules.flatMap(_.specs.map(_.name))
    val repeated = names.groupBy(identity)
      .collect { case (n, ns) if ns.size > 1 => n -> ns.size }
    assert(repeated.isEmpty, s"query names registered more than once: $repeated")
  }

  test("README's query and SQL function counts match the registries") {
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try readme.mkString finally readme.close()
    def counts(phrase: String) =
      (raw"(\d+)\s+" + phrase).r.findAllMatchIn(text)
        .map(_.group(1).toInt).toSeq
    val queries = counts("registered queries") ++ counts("query names")
    assert(queries.nonEmpty, "README states no query count")
    assert(queries.forall(_ == SparkEntry.queries.size),
      s"README says $queries registered queries, " +
        s"SparkEntry has ${SparkEntry.queries.size}")
    val fns = counts(raw"native\s+codegen\s+SQL\s+functions")
    assert(fns.nonEmpty, "README states no SQL function count")
    assert(fns.forall(_ == GraftExtensions.sqlFunctions.size),
      s"README says $fns native codegen SQL functions, " +
        s"GraftExtensions registers ${GraftExtensions.sqlFunctions.size}")
  }

  test("entry self-provisions its read confs and returns rows") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    try {
      val n = SparkEntry.entry(spark).count()
      assert(n > 0)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }
}
