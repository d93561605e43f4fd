package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryModule, QuerySpec}
import graft.sources.Tables

/** Oracle-checked exercise of the exact-precision schema module: derive a
  * deterministic `trade_tickets` frame from the `orders` fixture, conform
  * it onto `Schemas.tradeTickets` (exact DDL decimals + enum validation on
  * the hot path), and aggregate money in DECIMAL(15,6) — the posture the
  * reference's ledger uses (`database/models/postgres.py:396-440` DDL,
  * `database/postgres/writer.py:409-468` rollup).
  *
  * Money sums stay in exact decimal (order-independent, overflow-widened by
  * Spark to DECIMAL(25,6)); the single cast to DOUBLE happens once at the
  * end, mirrored verbatim in the oracle.
  */
object SchemaQueries extends QueryModule {
  /** Deterministic orders→tickets mapping (same modular-arithmetic style as
    * the ledger fixtures). Status maps the fixture's order lifecycle onto
    * the reference's TradeStatus enum; venue/side/type cycle through their
    * domains so every enum value is exercised through `validEnum`. */
  def deriveTickets(orders: DataFrame): DataFrame = {
    val base = orders.select(
      concat(lit("trade_"), col("o_orderkey")).as("trade_id"),
      concat(lit("arb_"), col("o_orderkey") % 1000).as("arbitrage_id"),
      concat(lit("KX-"), col("o_orderkey") % 50).as("kalshi_ticker"),
      concat(lit("cond_"), col("o_orderkey") % 50)
        .as("polymarket_condition_id"),
      concat(lit("pair_"), col("o_orderkey") % 7).as("pair_id"),
      when(col("o_orderkey") % 2 === 0, "kalshi").otherwise("polymarket")
        .as("venue"),
      when(col("o_custkey") % 2 === 0, "buy").otherwise("sell").as("side"),
      when(col("o_orderkey") % 3 === 0, "yes").otherwise("no").as("outcome"),
      (col("o_orderkey") % 100 + 1).as("quantity"),
      when(col("o_orderstatus") === "O", "pending")
        .when(col("o_orderstatus") === "F", "filled")
        .otherwise("partially_filled").as("status"),
      col("o_totalprice").as("total_cost"),
      element_at(
        array(lit("kalshi_yes_polymarket_no"),
          lit("kalshi_no_polymarket_yes"),
          lit("kalshi_polymarket_spread")),
        (col("o_orderkey") % 3 + 1).cast("int")).as("arbitrage_type"),
      (col("o_orderkey") % 500).as("expected_profit_bps"),
      col("o_orderdate").as("created_at"))
    Schemas.conform(base, Schemas.tradeTickets)
  }

  /** Per-(venue,status) money rollup in DECIMAL(15,6): counts stay integer,
    * decimal sums are exact, one DOUBLE cast/division at the end. */
  def ticketRollup(tickets: DataFrame): DataFrame =
    tickets.groupBy(col("venue"), col("status"))
      .agg(
        count(lit(1)).as("total_trades"),
        sum(col("total_cost")).cast("double").as("total_cost_sum"),
        sum(col("quantity")).cast("double").as("total_quantity"),
        (sum(col("total_cost")).cast("double") / count(lit(1)))
          .as("avg_cost"),
        sum(col("expected_profit_bps")).cast("double").as("bps_sum"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("ticket_rollup", (s, d) =>
      ticketRollup(deriveTickets(Tables(s, d, "orders")))
        .orderBy("venue", "status"),
      """SELECT
        |CASE WHEN o_orderkey % 2 = 0 THEN 'kalshi' ELSE 'polymarket' END
        |  AS venue,
        |CASE WHEN o_orderstatus = 'O' THEN 'pending'
        |     WHEN o_orderstatus = 'F' THEN 'filled'
        |     ELSE 'partially_filled' END AS status,
        |count(*) AS total_trades,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(15,6))) AS DOUBLE)
        |  AS total_cost_sum,
        |CAST(sum(CAST(o_orderkey % 100 + 1 AS DECIMAL(15,6))) AS DOUBLE)
        |  AS total_quantity,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(15,6))) AS DOUBLE) / count(*)
        |  AS avg_cost,
        |CAST(sum(CAST(o_orderkey % 500 AS DECIMAL(10,2))) AS DOUBLE)
        |  AS bps_sum
        |FROM orders GROUP BY 1, 2 ORDER BY venue, status""".stripMargin))
}
