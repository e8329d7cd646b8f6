package graft.scd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.CdcPipeline
import graft.streaming.BucketedTable

/** SCD2 → SCD1 end-to-end over the deterministic CDC workload: replays the
  * `order_stream` output as two micro-batches — base transactions bootstrap
  * the table (reference: ScdType1MergeApp.scala:74-81, overwrite-on-missing),
  * then the update/detail-update transactions go through the clause-ordered
  * merge (reference: :83-132). Memoized per (session, sfDir) like the
  * order_stream itself.
  *
  * The build runs through the BUCKETED writer — the 100 TB path (a
  * micro-batch touching k of N hash buckets rewrites k/N of the table,
  * manifest flip publishes atomically) — so both the correctness gate and
  * the bench measure the scale-path writer end-to-end, not an in-memory
  * stand-in. The full-snapshot writer (ParquetTable.swap) remains the
  * correctness dual, exercised by the streaming merge specs
  * (StreamingSpec/RestartSpec) and the storage-layer oracle queries.
  */
object ScdPipeline {

  /** Bucket count for the build: at sf0.1 (~150k orders) 64 buckets keep
    * per-bucket files in the MB range; at 100 TB the same layout scales
    * by raising the count (bucket count is a table property, set once at
    * bootstrap). */
  val NumBuckets = 64

  private val cache =
    new graft.tables.SessionMemo[String, DataFrame]

  def ordersCurrent(spark: SparkSession, sfDir: String): DataFrame =
    cache.getOrElseUpdate(spark, sfDir)({
      val stream = CdcPipeline.orderStreamCached(spark, sfDir)
      val dir = graft.tables.TmpDirs.create("graft-scd1")
        .resolve("orders_current").toString
      // Micro-batch 1: base inserts bootstrap the bucketed table (with
      // the merge's insert guard — child-only rows never orphan).
      val bootstrap = BatchFlattener.flatten(stream.filter(col("xid").startsWith("tx-")))
      BucketedTable.bootstrap(
        spark, bootstrap.filter(col("version").isNotNull), dir, "orderId", NumBuckets)
      // Micro-batch 2: order updates (txu-) + detail-only updates (txs-),
      // collapsed per order by the flattener, merged per affected bucket.
      val updates = BatchFlattener.flatten(
        stream.filter(col("xid").startsWith("txu-") || col("xid").startsWith("txs-")))
      BucketedTable.merge(spark, updates, dir, "orderId", NumBuckets)
      BucketedTable.vacuum(dir, NumBuckets)
      val df = BucketedTable.read(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })
}
