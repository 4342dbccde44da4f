package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed Dataset surface: where a case class models the row, the typed
  * API gives compile-time field checks while compiling to the same
  * Catalyst plans as the untyped DataFrame form (joinWith → inner plan
  * with struct pairs; map lambdas cost an encoder round-trip, so typed
  * transforms stay at the boundary and heavy lifting remains in
  * expressions).
  */
object TypedOps {

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_totalprice: Double, o_orderstatus: String)
  final case class Customer(c_custkey: Long, c_name: String,
      c_mktsegment: String)
  final case class Enriched(order_id: Long, customer_name: String,
      segment: String, total: Double)

  def orders(spark: SparkSession, dir: String): Dataset[Order] = {
    import spark.implicits._
    graft.sources.Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .as[Order]
  }

  def customers(spark: SparkSession, dir: String): Dataset[Customer] = {
    import spark.implicits._
    graft.sources.Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .as[Customer]
  }

  /** Typed equi-join + typed projection: `joinWith` keeps both sides as
    * case classes; the final map is a total function Order×Customer →
    * Enriched checked at compile time. */
  def enrich(spark: SparkSession, dir: String): Dataset[Enriched] = {
    import spark.implicits._
    val o = orders(spark, dir)
    val c = customers(spark, dir)
    o.joinWith(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
      .map { case (ord, cust) =>
        Enriched(ord.o_orderkey, cust.c_name, cust.c_mktsegment,
          ord.o_totalprice) }
  }
}
