package graft.scd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL expression builders for the SCD1 merge algebra
  * (reference: ScdType1MergeApp.scala:212-244 — dedupExpr,
  * mergeStructExpr, mergeArrayExpr; semantics documented in SURVEY.md §4.3).
  * All are higher-order-function SQL strings: codegen-friendly, no UDFs.
  */
object ScdExpressions {

  /** Keep the max-version element per `key` within one array. Elements that
    * tie on (key, version) all survive, matching the reference's NOT EXISTS
    * formulation (reference: ScdType1MergeApp.scala:212-213). */
  def dedupArray(arr: String, key: String): String =
    s"filter($arr, e -> NOT exists($arr, o -> o.$key = e.$key AND o.version > e.version))"

  /** Version-aware struct merge: strictly higher source version wins,
    * TARGET wins ties (strict `>`; a NULL source version falls through to
    * the ELSE, so it can never displace the target), null-guarded on
    * either side (reference: ScdType1MergeApp.scala:219-225). */
  def mergeStruct(src: String, tgt: String): String =
    s"""CASE WHEN $src IS NULL THEN $tgt
       |     WHEN $tgt IS NULL THEN $src
       |     WHEN $src.version > coalesce($tgt.version, CAST(0.0 AS DOUBLE)) THEN $src
       |     ELSE $tgt END""".stripMargin

  /** Version-aware array merge by element key: a source element survives
    * only when no target element of the same key has version >= it (target
    * wins ties); a target element survives unless the source has a
    * STRICTLY newer version of it — the deliberate `>=` vs `>` asymmetry.
    * NULL and empty arrays are both treated as "no data on that side"
    * (reference: ScdType1MergeApp.scala:236-244). */
  def mergeArray(src: String, tgt: String, key: String): String =
    s"""CASE WHEN $src IS NULL OR size($src) = 0 THEN $tgt
       |     WHEN $tgt IS NULL OR size($tgt) = 0 THEN $src
       |     ELSE concat(
       |       filter($src, e -> NOT exists($tgt, o -> o.$key = e.$key AND o.version >= e.version)),
       |       filter($tgt, e -> NOT exists($src, o -> o.$key = e.$key AND o.version > e.version)))
       |     END""".stripMargin
}

/** Transforms a micro-batch of `order_stream` rows (multiple rows per order
  * possible) into one row per orderId with the order flattened to top level
  * (reference: ScdType1MergeApp.scala:146-206).
  *
  * Plan: one hash aggregate keyed on `orderId` over the per-row dedup
  * projection — one shuffle of the batch, partially aggregated before
  * it, and no joins or windows for AQE to re-plan between stages.
  */
object BatchFlattener {

  import ScdExpressions._

  val orderFieldNames: Seq[String] = Seq(
    "orderRef", "version", "orderDate", "orderTs", "orderStatus", "orderType",
    "totalAmount", "currency", "customerId", "shippingAddressId", "createdTs")

  /** order_stream batch → one row per orderId:
    * (orderId, xid, csn, dwhProcessedTs, <flat order cols>, orderBefore,
    * orderDetails struct, lineItems array). */
  def flatten(orderStream: DataFrame): DataFrame =
    assemble(flatProjection(orderStream))

  /** Per-row dedup: keep max-version element per key inside each array,
    * then surface the single order/detail element (ANSI-safe
    * try_element_at, reference: ScdType1MergeApp.scala:148-178). */
  private def flatProjection(orderStream: DataFrame): DataFrame =
    orderStream.selectExpr(
      "xid", "csn", "dwhProcessedTs", "orderId",
      s"try_element_at(${dedupArray("orders", "orderId")}, 1) AS o",
      s"try_element_at(${dedupArray("orderDetails", "orderId")}, 1) AS d",
      s"${dedupArray("lineItems", "lineItemId")} AS lineItems")

  private def assemble(flat: DataFrame): DataFrame =
    flat.groupBy("orderId")
      .agg(
        // Best order row: highest version, then highest csn (reference:
        // :182-186 tiebreaks on dwhProcessedTs, constant within a batch).
        // NULL struct fields order lowest, so max_by ranks exactly like a
        // desc-nulls-last window.
        expr("max_by(struct(xid, csn, dwhProcessedTs, o), struct(o.version, csn))").as("r"),
        // Null details never compete (reference: :189-194), and a NULL
        // orderId, which the reference's joins never match, gets no
        // detail and no line items.
        expr("max_by(d, struct(d.version, csn)) " +
          "FILTER (WHERE d IS NOT NULL AND orderId IS NOT NULL)").as("orderDetails"),
        // Line items merge across rows (reference: :196-200); an order
        // whose arrays are all empty gathers none and gets NULL, not [].
        expr("flatten(collect_list(lineItems) " +
          "FILTER (WHERE size(lineItems) > 0 AND orderId IS NOT NULL))").as("lis"))
      .select(
        Seq(col("orderId"), col("r.xid"), col("r.csn"), col("r.dwhProcessedTs")) ++
          orderFieldNames.map(f => col(s"r.o.$f").as(f)) ++ Seq(
          col("r.o.before").as("orderBefore"),
          col("orderDetails"),
          expr(s"CASE WHEN size(lis) > 0 THEN ${dedupArray("lis", "lineItemId")} END")
            .as("lineItems")): _*)
}

/** Clause-ordered versioned upsert without Delta: emulates the reference's
  * Delta MERGE (reference: ScdType1MergeApp.scala:83-132) as a full-outer
  * join + one SELECT of CASE expressions (SURVEY.md §4.3).
  *
  * Semantics reproduced exactly:
  *  - match on `target.orderId = source.orderId`;
  *  - clause 1 (first match wins): `source.version IS NOT NULL AND
  *    source.version > COALESCE(target.version, 0)` → take source order
  *    fields + tx context, merge children;
  *  - clause 2 (catch-all match): keep target order fields, update tx
  *    context, merge children;
  *  - `whenNotMatched` only if `source.version IS NOT NULL` (blocks
  *    child-only rows from inserting orphans);
  *  - unreferenced target rows pass through unchanged.
  *
  * Plan: a sort-merge full outer join on orderId (a full outer join
  * cannot broadcast), so the target is shuffled on the key every batch.
  * The join float-normalizes its DOUBLE key (NaN, -0.0) on top of the
  * key BatchFlattener's aggregate already partitioned by, so that
  * partitioning does not satisfy the join and the batch side is
  * shuffled a second time — a batch-sized exchange. The output is the
  * full new table snapshot; callers persist it atomically (ParquetTable.swap).
  */
object MergeExecutor {

  import ScdExpressions._

  def merge(target: DataFrame, source: DataFrame): DataFrame = {
    val t = target.withColumn("_t_exists", lit(true)).alias("t")
    val s = source.withColumn("_s_exists", lit(true)).alias("s")

    val j = t.join(s, col("t.orderId") === col("s.orderId"), "full_outer")

    val matched = col("t._t_exists").isNotNull && col("s._s_exists").isNotNull
    val clause1 = matched &&
      col("s.version").isNotNull &&
      (col("s.version") > coalesce(col("t.version"), lit(0.0)))
    val insertable = col("t._t_exists").isNull && col("s.version").isNotNull

    def srcWins(f: String) =
      when(clause1 || insertable, col(s"s.$f")).otherwise(col(s"t.$f")).as(f)
    def ctx(f: String) =
      when(matched || insertable, col(s"s.$f")).otherwise(col(s"t.$f")).as(f)

    val detailsMerged = expr(mergeStruct("s.orderDetails", "t.orderDetails"))
    val liMerged = expr(mergeArray("s.lineItems", "t.lineItems", "lineItemId"))

    j.filter(col("t._t_exists").isNotNull || insertable)
      .select(
        Seq(
          ctx("xid"), ctx("csn"), ctx("dwhProcessedTs"),
          coalesce(col("t.orderId"), col("s.orderId")).as("orderId")) ++
          BatchFlattener.orderFieldNames.map(srcWins) ++ Seq(
          srcWins("orderBefore"),
          when(matched, detailsMerged)
            .when(insertable, col("s.orderDetails"))
            .otherwise(col("t.orderDetails")).as("orderDetails"),
          when(matched, liMerged)
            .when(insertable, col("s.lineItems"))
            .otherwise(col("t.lineItems")).as("lineItems")): _*)
  }
}
