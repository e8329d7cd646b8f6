package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model._
import graft.scd.BatchFlattener
import graft.scd.ScdExpressions.dedupArray

/** `BatchFlattener.flatten` (one keyed aggregate) against the window-and-
  * join formulation it replaced, kept here verbatim as the reference, on
  * seeded random `order_stream` batches: several rows per order,
  * redeliveries, null order and detail images, empty and NULL line-item
  * arrays, and a NULL orderId. (version, csn) ties arise only between
  * redelivered copies of one row, whose payloads are identical — both
  * formulations pick arbitrarily among tied rows. */
class BatchFlattenerSpec extends SparkSuite {

  /** The window-and-join flatten (reference: ScdType1MergeApp.scala:146-206). */
  private def referenceFlatten(orderStream: DataFrame): DataFrame = {
    val flat = orderStream.selectExpr(
      "xid", "csn", "dwhProcessedTs", "orderId",
      s"try_element_at(${dedupArray("orders", "orderId")}, 1) AS o",
      s"try_element_at(${dedupArray("orderDetails", "orderId")}, 1) AS d",
      s"${dedupArray("lineItems", "lineItemId")} AS lineItems")
    val wOrd = Window.partitionBy("orderId")
      .orderBy(desc_nulls_last("o.version"), desc_nulls_last("csn"))
    val bestOrder = flat
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
      .select(
        Seq(col("xid"), col("csn"), col("dwhProcessedTs"), col("orderId")) ++
          BatchFlattener.orderFieldNames.map(f => col(s"o.$f").as(f)) :+
          col("o.before").as("orderBefore"): _*)
    val wDet = Window.partitionBy("orderId")
      .orderBy(desc_nulls_last("d.version"), desc_nulls_last("csn"))
    val bestDetail = flat
      .select(col("orderId"), col("csn"), col("d"))
      .filter(col("d").isNotNull)
      .withColumn("_rn", row_number().over(wDet))
      .filter(col("_rn") === 1)
      .select(col("orderId"), col("d").as("orderDetails"))
    val mergedLi = flat
      .filter(col("lineItems").isNotNull && size(col("lineItems")) > 0)
      .groupBy("orderId")
      .agg(flatten(collect_list(col("lineItems"))).as("lineItems"))
      .selectExpr("orderId", s"${dedupArray("lineItems", "lineItemId")} AS lineItems")
    bestOrder
      .join(bestDetail, Seq("orderId"), "left")
      .join(mergedLi, Seq("orderId"), "left")
  }

  /** One random batch. Each transaction (one csn) touches a few orders,
    * one row per order; 1 in 6 rows is redelivered as an exact copy. */
  private def batch(seed: Int): Seq[OrderStreamRow] = {
    val rnd = new Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    def version: Option[Double] = pick(None, Some(1.0), Some(2.0), Some(3.0))
    def word: Option[String] = pick(None, Some("a"), Some("b"), Some("c"))
    def order(id: Option[Double]) = OrderRec(id, word, version, word, word, word, word,
      pick(None, Some(1.5), Some(7.0)), word, word, word, word,
      pick(None, Some(OrderImage(id, word, version, None, None, word, None, None, None, None, None, None))))
    def detail(id: Option[Double]) =
      OrderDetailRec(id, version, word, word, None, None, word, word, None)
    def item(id: Option[Double]) = LineItemRec(
      Some(rnd.nextInt(4).toDouble), id, version, word, Some(1.0), Some(2.0), Some(2.0), word, None)
    val rows = (1 to 12 + rnd.nextInt(12)).flatMap { tx =>
      val csn = f"${rnd.nextInt(40)}%03d.$tx%02d"
      val ids = rnd.shuffle((1 to 5).map(i => Option(i.toDouble)) :+ None).take(1 + rnd.nextInt(3))
      ids.map { id =>
        OrderStreamRow(s"x$tx", csn, "ts",
          id,
          Seq.fill(pick(0, 1, 1, 2))(order(id)),
          pick(Seq.empty, Seq(detail(id)), Seq(detail(id), detail(id)),
            Seq(detail(id).copy(version = None))),
          pick(null, Seq.empty, Seq.fill(1 + rnd.nextInt(3))(item(id))))
      }
    }
    rows.flatMap(r => if (rnd.nextInt(6) == 0) Seq(r, r) else Seq(r))
  }

  /** Rows as strings, line items sorted inside each row. */
  private def canonical(df: DataFrame): Seq[String] =
    df.withColumn("lineItems", expr("array_sort(lineItems)"))
      .collect().map(_.toString).sorted.toSeq

  test("keyed-aggregate flatten equals the window-and-join formulation") {
    val s = spark
    import s.implicits._
    (1 to 12).foreach { seed =>
      val rows = batch(seed)
      val df = rows.toDS().toDF()
      val got = BatchFlattener.flatten(df)
      val want = referenceFlatten(df)
      assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
      assert(canonical(got) == canonical(want), s"seed $seed")
    }
  }

  test("the rules the aggregate must keep, on a hand-built batch") {
    val s = spark
    import s.implicits._
    def o(v: Option[Double], st: String) = OrderRec(Some(1.0), None, v, None, None, Some(st),
      None, None, None, None, None, None, None)
    def d(v: Option[Double], c: String) =
      OrderDetailRec(Some(1.0), v, None, None, None, None, Some(c), None, None)
    val rows = Seq(
      // Highest version wins over a later csn; a null order image ranks last.
      OrderStreamRow("x1", "001", "ts", Some(1.0), Seq(o(Some(2.0), "V2")), Seq(d(Some(1.0), "D1")), Seq.empty),
      OrderStreamRow("x2", "002", "ts", Some(1.0), Seq(o(Some(1.0), "V1")), Seq.empty, Seq.empty),
      OrderStreamRow("x3", "003", "ts", Some(1.0), Seq(o(None, "VN")), Seq.empty, null),
      // Only empty or NULL line-item arrays: NULL, not [].
      OrderStreamRow("x4", "004", "ts", Some(2.0), Seq(o(Some(1.0), "B")), Seq.empty, Seq.empty),
      // A NULL orderId keeps its order row but no detail or line items.
      OrderStreamRow("x5", "005", "ts", None, Seq(o(Some(1.0), "N")), Seq(d(Some(1.0), "DN")),
        Seq(LineItemRec(Some(1.0), None, Some(1.0), None, None, None, None, None, None))))
    val out = BatchFlattener.flatten(rows.toDS().toDF())
      .selectExpr("orderId", "xid", "orderStatus", "orderDetails.carrier", "lineItems")
      .collect().map(r => Option(r.get(0)) -> r).toMap
    assert(out.size == 3)
    // Order 1: V2 from x1; x1's detail survives though the best-csn row has none.
    assert(out(Some(1.0)).getString(1) == "x1" && out(Some(1.0)).getString(2) == "V2")
    assert(out(Some(1.0)).getString(3) == "D1")
    assert(out(Some(1.0)).isNullAt(4) && out(Some(2.0)).isNullAt(4))
    val n = out(None)
    assert(n.getString(2) == "N" && n.isNullAt(3) && n.isNullAt(4))
  }

  test("with only null-version order images the highest csn supplies the context") {
    val s = spark
    import s.implicits._
    val rows = Seq("002", "010", "001").map { c =>
      OrderStreamRow(s"x$c", c, "ts", Some(1.0),
        Seq(OrderRec(Some(1.0), None, None, None, None, Some(c), None, None, None, None, None, None, None)),
        Seq.empty, Seq.empty)
    }
    val r: Row = BatchFlattener.flatten(rows.toDS().toDF()).selectExpr("xid", "orderStatus").head()
    // The per-row dedup drops an order image whose version is NULL (its
    // NOT exists(... o.version > e.version) is NULL), so no order fields.
    assert(r.getString(0) == "x010" && r.isNullAt(1))
  }
}
