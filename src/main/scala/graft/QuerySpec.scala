package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, how to build it on a session over a
  * fixture directory, and the DuckDB SQL that must return the same rows
  * over the same parquet tables. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** A module that registers queries: it lists one [[QuerySpec]] per query,
  * and its `queries` map is derived from that list. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame

  def specs: Seq[QuerySpec]

  final lazy val queries: Map[String, Q] =
    specs.map(s => s.name -> s.build).toMap
}
