package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CacheRegistry, Tables}

/** Builds the denormalized fact (the reference's `fact_order_details`,
  * /root/reference/databricks_notebooks/3_Silver_to_Gold.py:31-42) from the
  * benchmark star schema, using the reference's column vocabulary so the
  * GoldMarts operators run unchanged over either source.
  *
  * Scale notes:
  *  - all dimension joins are equi-joins on the dim's key; dims (customer,
  *    part, supplier, nation, region) are orders of magnitude smaller than
  *    lineitem, so Catalyst broadcast-hash-joins them (verified in the plan;
  *    at 100 TB only lineitem ⋈ orders is a true shuffle join — both sides
  *    shuffle on orderkey once and AQE handles skew).
  *  - TotalAmount is computed in exact decimal arithmetic (the sources are
  *    2-decimal money values stored as double); this keeps every downstream
  *    aggregate order-independent and bit-reproducible across engines.
  */
object StarSchema {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** The fact feeds every Gold mart, so it is built and persisted once per
    * (session, source dir) — the reference does exactly this with `cache()`
    * across its mart branches (3_Silver_to_Gold.py:44). It is the
    * `star_fact` artifact of [[graft.core.CacheRegistry.memo]], released
    * with the session's other artifacts. MEMORY_AND_DISK: at bench scale
    * it stays in memory; at 100 TB the marts would instead share one
    * materialized fact table (GoldBuild writes it) — caching a full-scan
    * fact in executor memory is a single-node convenience, not the cluster
    * design. */
  def factOrderDetails(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.memo(spark, dir, "star_fact")(
      buildFactOrderDetails(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** lineitem ⋈ orders ⋈ customer ⋈ part ⋈ supplier ⋈ nation ⋈ region,
    * projected into the reference's fact_order_details vocabulary. */
  def buildFactOrderDetails(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.table(spark, dir, "lineitem")
    val ord = Tables.table(spark, dir, "orders")
    val cus = Tables.table(spark, dir, "customer")
    val prt = Tables.table(spark, dir, "part")
    val sup = Tables.table(spark, dir, "supplier")
    val nat = Tables.table(spark, dir, "nation")
    val reg = Tables.table(spark, dir, "region")

    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "inner")
      .join(cus, ord("o_custkey") === cus("c_custkey"), "inner")
      .join(prt, li("l_partkey") === prt("p_partkey"), "inner")
      .join(sup, li("l_suppkey") === sup("s_suppkey"), "inner")
      .join(nat, cus("c_nationkey") === nat("n_nationkey"), "inner")
      .join(reg, nat("n_regionkey") === reg("r_regionkey"), "inner")
      .select(
        li("l_orderkey").as("OrderID"),
        li("l_linenumber").as("OrderItemID"),
        ord("o_custkey").as("CustomerID"),
        cus("c_name").as("CustomerName"),
        li("l_partkey").as("ProductID"),
        prt("p_name").as("ProductName"),
        prt("p_brand").as("CategoryName"),
        li("l_suppkey").as("SellerID"),
        sup("s_name").as("SellerName"),
        nat("n_name").as("NationName"),
        reg("r_name").as("RegionName"),
        // per-line status stands in for the reference's per-order StatusName
        when(li("l_returnflag") === "N", "Delivered")
          .when(li("l_returnflag") === "A", "Cancelled")
          .otherwise("Returned").as("StatusName"),
        dec(li("l_quantity")).as("Quantity"),
        dec(li("l_extendedprice")).as("CurrentPrice"),
        (dec(li("l_quantity")) * dec(li("l_extendedprice"))).as("TotalAmount"),
        ord("o_orderdate").as("OrderDate"))
  }
}
