package graft.queries

import org.apache.spark.sql.functions._

import graft.CdcPipeline

/** Correctness queries over the full CDC pipeline (SURVEY.md §2.1-§2.2
  * operators S1-ish sources, R1-R12 and the Q-surface over the produced
  * `order_stream` table).
  *
  * Each runs the whole thing end-to-end in batch mode: deterministic CDC
  * JSON events derived from `orders`/`lineitem` → from_json parse (R2) →
  * 12-col normalize (R3) → unionByName (R4) → null-key filter (R5) →
  * groupByKey + flatMapGroupsWithState buffering (R6/R7) → in-state
  * assembly (R8-R12) → nested-array analytics. The DuckDB oracles
  * recompute the expected output relationally from the same parquet
  * inputs, so completion gating, delete skipping, before images and the
  * null guard are all hash-checked.
  */
object CdcQueries extends QueryModule {

  /** The flagship flatten of an order_stream frame — one row per
    * emitted (transaction × order), scalars via try_element_at
    * (R17/Q7), size (Q7) and aggregate HOF (Q8). Shared by the batch
    * and streamed gates, which must both hash-match the same
    * [[flatOracle]]. */
  private def flatten(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
    "xid",
    "orderId",
    "try_element_at(orders, 1).orderRef AS orderRef",
    "try_element_at(orders, 1).orderStatus AS orderStatus",
    "try_element_at(orders, 1).orderDate AS orderDate",
    "try_element_at(orders, 1).version AS version",
    "CAST(size(lineItems) AS BIGINT) AS numLineItems",
    "round(aggregate(lineItems, CAST(0.0 AS DOUBLE), (acc, li) -> acc + li.itemQty), 2) AS totalQty",
    "round(try_element_at(orders, 1).totalAmount, 2) AS totalAmount",
    "CAST(CASE WHEN try_element_at(orders, 1).before IS NOT NULL THEN 1 ELSE 0 END AS INT) AS hasBefore")

  private val flatOracle = Some(
    """WITH li AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS q
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT 'tx-' || CAST(o_orderkey // 5 AS VARCHAR) AS xid,
      |  CAST(o_orderkey AS DOUBLE) AS orderId,
      |  'ORD-' || CAST(o_orderkey AS VARCHAR) AS orderRef,
      |  o_orderstatus AS orderStatus,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderDate,
      |  CAST(1.0 AS DOUBLE) AS version,
      |  CAST(coalesce(n, 0) AS BIGINT) AS numLineItems,
      |  CAST(coalesce(q, 0.0) AS DOUBLE) AS totalQty,
      |  round(o_totalprice, 2) AS totalAmount,
      |  CAST(0 AS INT) AS hasBefore
      |FROM orders LEFT JOIN li ON l_orderkey = o_orderkey
      |WHERE (o_orderkey // 5) % 11 <> 0
      |UNION ALL
      |SELECT 'txu-' || CAST(o_orderkey AS VARCHAR),
      |  CAST(o_orderkey AS DOUBLE),
      |  'ORD-' || CAST(o_orderkey AS VARCHAR),
      |  'UPDATED-' || o_orderstatus,
      |  strftime(o_orderdate, '%Y-%m-%d'),
      |  CAST(2.0 AS DOUBLE),
      |  CAST(0 AS BIGINT),
      |  CAST(0.0 AS DOUBLE),
      |  round(o_totalprice, 2),
      |  CAST(1 AS INT)
      |FROM orders WHERE o_orderkey % 7 = 0
      |UNION ALL
      |SELECT 'txs-' || CAST(o_orderkey AS VARCHAR),
      |  CAST(o_orderkey AS DOUBLE),
      |  CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR),
      |  CAST(NULL AS DOUBLE),
      |  CAST(0 AS BIGINT),
      |  CAST(0.0 AS DOUBLE),
      |  CAST(NULL AS DOUBLE),
      |  CAST(0 AS INT)
      |FROM orders WHERE o_orderkey % 9 = 0""".stripMargin)

  override def queries: Seq[EngineQuery] = Seq(

    // Flagship: the flatMapGroupsWithState buffer in batch mode.
    EngineQuery(
      "cdc_order_stream_flat",
      (s, dir) => flatten(CdcPipeline.orderStreamCached(s, dir)),
      flatOracle),

    // The same buffer in its REAL operating mode: a streaming query
    // over file sources (JSON-line values → parse → union →
    // flatMapGroupsWithState on RocksDB → checkpointed parquet sink,
    // Trigger.AvailableNow) — the full reference pipeline shape,
    // hash-gated against the SAME oracle.
    EngineQuery(
      "cdc_order_stream_flat_streamed",
      (s, dir) => flatten(CdcPipeline.orderStreamStreamedCached(s, dir)),
      flatOracle),

    // The unified envelope surface alone (R1-R5): event counts per type
    // after parse + normalize + union + null-key guard.
    EngineQuery(
      "cdc_envelope_counts",
      (s, dir) =>
        CdcPipeline.unifiedCached(s, dir)
          .groupBy("event_type").agg(count(lit(1)).as("n")),
      Some("""SELECT 'ORDERS' AS event_type,
             |  CAST((SELECT count(*) FROM orders)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 13 = 0) AS BIGINT) AS n
             |UNION ALL SELECT 'ORDER_DETAILS',
             |  CAST((SELECT count(*) FROM orders)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0) AS BIGINT)
             |UNION ALL SELECT 'ORDER_LINE_ITEMS',
             |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
             |UNION ALL SELECT 'METADATA',
             |  CAST((SELECT count(*) FROM (SELECT o_orderkey // 5 AS g FROM orders GROUP BY 1) WHERE g % 11 <> 0)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 7 = 0)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 13 = 0)
             |   + (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0) AS BIGINT)""".stripMargin)),

    // Explode the nested lineItems array (Q6 LATERAL VIEW analog) and
    // project nested fields (Q9/Q11 shapes).
    EngineQuery(
      "cdc_lineitems_exploded",
      (s, dir) =>
        CdcPipeline.orderStreamCached(s, dir)
          .filter(col("xid").startsWith("tx-"))
          .select(explode(col("lineItems")).as("li"))
          .select(
            col("li.orderId").as("orderId"),
            col("li.lineItemId").as("lineItemId"),
            col("li.productId").as("productId"),
            col("li.itemQty").as("itemQty"),
            col("li.itemAmount").as("itemAmount")),
      Some("""SELECT CAST(l_orderkey AS DOUBLE) AS orderId,
             |  CAST(l_orderkey * 10 + l_linenumber AS DOUBLE) AS lineItemId,
             |  'PROD-' || CAST(l_partkey AS VARCHAR) AS productId,
             |  CAST(l_quantity AS DOUBLE) AS itemQty,
             |  l_extendedprice * (1.0 - l_discount) AS itemAmount
             |FROM lineitem WHERE (l_orderkey // 5) % 11 <> 0""".stripMargin)),

    // Two stacked LATERAL VIEW explodes in ONE select — the
    // Generator-after-Generator plan shape (reference:
    // db/query_table.sql:52-65, orders × orderDetails). Only base
    // transactions carry both arrays non-empty, so update (txu-) and
    // detail-only (txs-) rows drop out of the double explode, matching
    // LATERAL VIEW's inner-join semantics.
    EngineQuery(
      "cdc_double_explode",
      (s, dir) => {
        CdcPipeline.orderStreamCached(s, dir).createOrReplaceTempView("order_stream")
        s.sql(
          """SELECT t.orderId,
            |  o.orderRef, o.orderStatus,
            |  d.shippingMethod, d.trackingNumber, d.carrier, d.deliveryStatus,
            |  d.version AS detail_version
            |FROM order_stream t
            |LATERAL VIEW explode(t.orders) orders_table AS o
            |LATERAL VIEW explode(t.orderDetails) details_table AS d""".stripMargin)
      },
      Some("""SELECT CAST(o_orderkey AS DOUBLE) AS orderId,
             |  'ORD-' || CAST(o_orderkey AS VARCHAR) AS orderRef,
             |  o_orderstatus AS orderStatus,
             |  ['STANDARD','EXPRESS','OVERNIGHT','PICKUP'][CAST(o_orderkey % 4 AS INT) + 1] AS shippingMethod,
             |  'TRK-' || CAST(o_orderkey AS VARCHAR) AS trackingNumber,
             |  ['FEDEX','UPS','DHL','USPS'][CAST(o_orderkey % 4 AS INT) + 1] AS carrier,
             |  ['PENDING','IN_TRANSIT','DELIVERED','RETURNED'][CAST(o_orderkey % 4 AS INT) + 1] AS deliveryStatus,
             |  CAST(1.0 AS DOUBLE) AS detail_version
             |FROM orders WHERE (o_orderkey // 5) % 11 <> 0""".stripMargin)),

    // Group emitted rows by transaction (Q5 multi-key group-by over the
    // stream table; every base tx covers 5 consecutive orders).
    EngineQuery(
      "cdc_tx_rollup",
      (s, dir) =>
        CdcPipeline.orderStreamCached(s, dir)
          .filter(col("xid").startsWith("tx-"))
          .groupBy("xid", "csn")
          .agg(
            count(lit(1)).as("orders_in_tx"),
            sum(size(col("lineItems"))).cast("bigint").as("line_items_in_tx")),
      Some("""WITH li AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)
             |SELECT 'tx-' || CAST(o_orderkey // 5 AS VARCHAR) AS xid,
             |  CAST(o_orderkey // 5 AS VARCHAR) AS csn,
             |  count(*) AS orders_in_tx,
             |  CAST(sum(coalesce(n, 0)) AS BIGINT) AS line_items_in_tx
             |FROM orders LEFT JOIN li ON l_orderkey = o_orderkey
             |WHERE (o_orderkey // 5) % 11 <> 0
             |GROUP BY 1, 2""".stripMargin)),

    // Before-image surface (Q9 nested predicates + Q10 CASE + Q11
    // arithmetic on nested fields): update transactions only.
    EngineQuery(
      "cdc_before_images",
      (s, dir) =>
        CdcPipeline.orderStreamCached(s, dir)
          .select(explode(col("orders")).as("o"))
          .filter(col("o.before").isNotNull)
          .select(
            col("o.orderId").as("orderId"),
            col("o.orderStatus").as("currentStatus"),
            col("o.before.orderStatus").as("previousStatus"),
            (col("o.version") - col("o.before.version")).as("versionDelta")),
      Some("""SELECT CAST(o_orderkey AS DOUBLE) AS orderId,
             |  'UPDATED-' || o_orderstatus AS currentStatus,
             |  o_orderstatus AS previousStatus,
             |  CAST(1.0 AS DOUBLE) AS versionDelta
             |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin))
  )
}
