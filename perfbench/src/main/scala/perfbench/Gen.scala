package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own input generator: the ten fixture tables graft reads
  * (`graft.sources.Tables.names`), with the fixture's schemas, key ranges
  * and value distributions, written as one parquet file per table.
  *
  * Every value is a pure function of (table, row id, field), so the tables
  * are identical on every run and every core count; the benchmark seed
  * never reaches them (it only permutes the order of work). Row counts
  * scale with `sf` as the fixture's do: 6M lineitems per unit.
  */
object Gen {
  /** splitmix64 finalizer over (table salt, row id, field). */
  def mix(salt: Long, id: Long, field: Int): Long = {
    var z = salt * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L +
      field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(salt: Long, id: Long, field: Int): Double =
    (mix(salt, id, field) >>> 11) * (1.0 / (1L << 53))
  def below(salt: Long, id: Long, field: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(salt, id, field), n)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
                   lineitem: Long, events: Long, users: Long,
                   documents: Long, embeddings: Long)
  def sizes(sf: Double): Sizes = {
    def n(perUnit: Double, floor: Long = 1) = math.max(floor, math.round(perUnit * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000),
      n(15000, 150), n(50000, 500), n(20000, 500))
  }

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val statuses = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val eventsStart = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val eventsSpanUs = 30L * 86400L * 1000000L

  private def docText(id: Long): String = {
    val words = 10 + below(7, id, 1, 91).toInt
    (0 until words).map(i => vocab(below(7, id, 100 + i, vocab.length).toInt)).mkString(" ")
  }

  private def table(spark: SparkSession, n: Long, schema: StructType)
                   (row: Long => Row) =
    spark.range(0, n, 1, math.max(1, (n / 200000).toInt + 1))
      .map(id => row(id))(Encoders.row(schema))

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private def save(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Writes the first `rows` rows of scale `sf`'s `events` table: event
    * density and user range are those of `sf`, so a short feed cut from a
    * large scale keeps that scale's spacing in event time. */
  def writeEvents(spark: SparkSession, dir: String, sf: Double, rows: Long): Unit = {
    val s = sizes(sf)
    // strictly increasing event time: slot k of width span/n, jittered
    // inside its slot (the feed is cut into files in this order)
    val slotUs = eventsSpanUs / s.events
    save(dir, "events", table(spark, math.min(rows, s.events), schema("event_id" -> LongType,
      "ts" -> TimestampNTZType, "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType)) { id =>
      Row(id, eventsStart.plusNanos(
          (id * slotUs + below(6, id, 1, slotUs)) * 1000L),
        below(6, id, 2, s.users), eventTypes(below(6, id, 3, 5).toInt),
        cents(-50.0 * math.log(1.0 - unit(6, id, 4))),
        s"""{"k": ${below(6, id, 5, 100)}}""")
    })
  }

  /** Writes all ten tables under `dir`: the market tables at scale `sf`,
    * the corpus tables (`documents`, `embeddings`) at `corpusSf`. */
  def write(spark: SparkSession, dir: String, sf: Double, corpusSf: Double): Unit = {
    val s = sizes(sf)
    val c = sizes(corpusSf)
    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit = Gen.save(dir, name, df)
    import spark.implicits._

    save("region", (0 until 5).map(k => (k, Seq("AFRICA", "AMERICA", "ASIA",
      "EUROPE", "MIDDLE EAST")(k))).toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(k => (k, s"NATION_$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    save("customer", table(spark, s.customer, schema("c_custkey" -> LongType,
      "c_name" -> StringType, "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType)) { id =>
      Row(id, f"Customer#$id%09d", below(1, id, 1, 25).toInt,
        cents(-999.99 + unit(1, id, 2) * 10999.98), segments(below(1, id, 3, 5).toInt))
    })
    save("supplier", table(spark, s.supplier, schema("s_suppkey" -> LongType,
      "s_name" -> StringType, "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)) { id =>
      Row(id, f"Supplier#$id%09d", below(2, id, 1, 25).toInt,
        cents(-999.99 + unit(2, id, 2) * 10999.98))
    })
    save("part", table(spark, s.part, schema("p_partkey" -> LongType,
      "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType)) { id =>
      Row(id, adjectives(below(3, id, 1, 8).toInt) + " " + nouns(below(3, id, 2, 8).toInt),
        s"Brand#${1 + below(3, id, 3, 25)}", partTypes(below(3, id, 4, 6).toInt),
        1 + below(3, id, 5, 50).toInt, (9000 + id % 1000) / 10.0)
    })
    save("orders", table(spark, s.orders, schema("o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType)) { id =>
      Row(id, below(4, id, 1, s.customer), statuses(below(4, id, 2, 3).toInt),
        cents(1000 + unit(4, id, 3) * 499000), day0.plusDays(below(4, id, 4, 2404)),
        priorities(below(4, id, 5, 5).toInt))
    })
    save("lineitem", table(spark, s.lineitem, schema("l_orderkey" -> LongType,
      "l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType)) { id =>
      Row(below(5, id, 1, s.orders), below(5, id, 2, s.part), below(5, id, 3, s.supplier),
        1 + below(5, id, 4, 7).toInt, (1 + below(5, id, 5, 50)).toDouble,
        cents(900 + unit(5, id, 6) * 104100), below(5, id, 7, 11) / 100.0,
        below(5, id, 8, 9) / 100.0, returnFlags(below(5, id, 9, 3).toInt),
        lineStatuses(below(5, id, 10, 2).toInt), day0.plusDays(1 + below(5, id, 11, 2497)))
    })
    writeEvents(spark, dir, sf, s.events)
    // 5 % of documents repeat another document's text with one extra
    // token, the fixture's near-duplicate population
    save("documents", table(spark, c.documents, schema("doc_id" -> LongType,
      "text" -> StringType, "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType)) { id =>
      val text =
        if (below(7, id, 2, 20) == 0) docText(below(7, id, 3, c.documents)) + " dup"
        else docText(id)
      val l = below(7, id, 4, 20)
      val lang = if (l < 8) "en" else if (l < 11) "de" else if (l < 14) "es"
        else if (l < 17) "fr" else "zh"
      Row(id, text, lang, s"src${id % 20}", text.length.toLong)
    })
    save("embeddings", table(spark, c.embeddings, schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)) { id =>
      val g = Array.tabulate(64) { i =>
        val u1 = math.max(unit(8, id, 2 * i), 1e-300)
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * unit(8, id, 2 * i + 1))
      }
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(id, g.map(x => (x / norm).toFloat).toSeq, below(8, id, 1000, 10).toInt)
    })
  }
}
