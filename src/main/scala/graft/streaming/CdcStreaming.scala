package graft.streaming

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.CdcPipeline
import graft.scd.{BatchFlattener, MergeExecutor}

/** Streaming wiring for the two reference pipelines on vanilla Structured
  * Streaming (no Kafka/Delta jars in this environment — SURVEY.md §7.1):
  *
  *  - Pipeline 1 (reference: TransactionalCdcProcessingApp.scala:46-83):
  *    4 value-string streams → parse/union → flatMapGroupsWithState
  *    transaction buffering → append to the `order_stream` parquet dir.
  *    Sources are pluggable: any DataFrame with a `value STRING` column.
  *    Here: file streams of JSON lines (a Kafka source produces the same
  *    shape via selectExpr("CAST(value AS STRING)")).
  *
  *  - Pipeline 2 (reference: ScdType1MergeApp.scala:44-66): file-stream
  *    the append-only `order_stream` dir → foreachBatch → bootstrap or
  *    clause-ordered merge → atomic swap of the `orders_current` snapshot.
  *
  * Exactly-once notes: pipeline 1 relies on the checkpointed file-source
  * offsets + parquet append (the sink's `_spark_metadata` commit log makes
  * re-run batches idempotent). Pipeline 2's merge output is a full
  * snapshot; the swap is atomic (write tmp, rename) so readers never see
  * a partial table, and replaying a batch after a crash converges because
  * the merge is idempotent on already-applied versions.
  *
  * Scale notes: state per key is one transaction's events (bounded by
  * transaction size); completed keys are removed eagerly. Run with the
  * RocksDB state store provider for high key cardinality. The merge
  * snapshot rewrite is the no-Delta tradeoff: at 100 TB you'd partition
  * `orders_current` (e.g. by hash(orderId) bucket) and rewrite only
  * buckets containing matched keys — MergeExecutor is partition-agnostic,
  * so that refinement slots in at the writer.
  */
object CdcStreaming {

  val valueSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** JSON-lines file stream with the Kafka-like `value` shape. */
  def fileValueStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(valueSchema)
      .text(dir)
      .select(col("value"))

  /** Pipeline 1: 4 source dirs → order_stream parquet appends. */
  def startIngest(
      spark: SparkSession,
      ordersDir: String,
      detailsDir: String,
      lineItemsDir: String,
      metadataDir: String,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val out = CdcPipeline.orderStream(
      fileValueStream(spark, ordersDir),
      fileValueStream(spark, detailsDir),
      fileValueStream(spark, lineItemsDir),
      fileValueStream(spark, metadataDir))
    out.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()
  }

  /** Pipeline 1 with a TTL + dead-letter quarantine: transactions still
    * incomplete `stateTtl` after their last event are dropped from state
    * AND their buffered events land in `quarantineDir` (instead of
    * vanishing — the reference documents the silent-leak risk,
    * IMPLEMENTATION.md:177-183). One stateful query, two sinks split in
    * foreachBatch; both write batch-scoped overwrite partitions, so an
    * at-least-once retry replaces its own output (idempotent). */
  def startIngestQuarantined(
      spark: SparkSession,
      ordersDir: String,
      detailsDir: String,
      lineItemsDir: String,
      metadataDir: String,
      outDir: String,
      quarantineDir: String,
      checkpointDir: String,
      stateTtl: java.time.Duration): StreamingQuery = {
    val unified = CdcPipeline.unified(
      fileValueStream(spark, ordersDir),
      fileValueStream(spark, detailsDir),
      fileValueStream(spark, lineItemsDir),
      fileValueStream(spark, metadataDir))
    graft.buffering.TxBuffer.withDeadLetters(unified, stateTtl = stateTtl)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.buffering.BufferedOut], batchId: Long) =>
        val b = batch.persist()
        try {
          if (b.filter(col("row").isNotNull).limit(1).count() > 0)
            b.filter(col("row").isNotNull).select("row.*")
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          if (b.filter(col("dead").isNotNull).limit(1).count() > 0)
            b.filter(col("dead").isNotNull).select("dead.*")
              .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** Rebuild the 12-column unified envelope from a quarantine dir so a
    * TTL-dropped transaction can be RE-ADMITTED — union this with a
    * later batch's parse output (or run it through TxBuffer in batch)
    * once the missing events arrive; replayed events keep their
    * original xid/csn and rejoin the same transaction key. The envelope
    * context columns DeadEvent does not preserve (op_type/op_ts/
    * current_ts/pos) are never read by the buffer; the images and
    * routing metadata are intact. */
  def quarantineAsUnified(spark: SparkSession, quarantineDir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    spark.read.parquet(quarantineDir).select(
      col("xid"), col("csn"), col("table"),
      lit(null).cast("string").as("op_type"),
      lit(null).cast("string").as("op_ts"),
      lit(null).cast("string").as("current_ts"),
      lit(null).cast("string").as("pos"),
      col("before"), col("after"),
      col("event_type"),
      lit(null).cast("int").as("expected_count"),
      lit(null).cast("array<struct<data_collection:string,event_count:int>>")
        .as("data_collections"))
  }

  /** Pipeline 2: order_stream dir → merged orders_current snapshot. */
  def startScd1Merge(
      spark: SparkSession,
      orderStreamDir: String,
      targetDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val orderStreamSchema =
      org.apache.spark.sql.Encoders.product[graft.model.OrderStreamRow].schema
    val source = spark.readStream
      .schema(orderStreamSchema)
      .parquet(orderStreamDir)
    source.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(spark, batch, targetDir)
      }
      .start()
  }

  /** One micro-batch of the SCD1 maintenance: bootstrap when the target
    * doesn't exist (reference: ScdType1MergeApp.scala:74-81), else merge
    * (reference: :83-132); always an atomic snapshot swap. An empty batch
    * publishes nothing. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, targetDir: String): Unit = {
    if (isEmptyBatch(batch)) return
    val source = BatchFlattener.flatten(batch)
    val result =
      if (!ParquetTable.exists(targetDir))
        // Bootstrap applies the merge's insert guard too: the reference's
        // overwrite bootstrap (ScdType1MergeApp.scala:74-81) would admit a
        // child-only orphan if a child-update event landed in the very
        // first micro-batch; filtering keeps bootstrap ≡ merge-into-empty.
        source.filter(col("version").isNotNull)
      // The target holds only this merge's output, whose schema is the
      // flattened batch's: no footer-inference job to read it.
      else MergeExecutor.merge(
        spark.read.schema(source.schema).parquet(ParquetTable.currentPath(targetDir)), source)
    ParquetTable.swap(spark, result, targetDir)
  }

  /** Whether a micro-batch holds no rows, without a Spark job when it is
    * a file-stream batch: `foreachBatch` hands over a LogicalRDD whose RDD
    * is one-to-one steps over a single FileScanRDD (which drop rows, never
    * add any), and the parquet footers count the rows — a new file can be
    * footer-only, as the parquet sink writes for a batch without output.
    * The footers are read through [[graft.tables.FooterSchemas]], so a
    * later SQL read of the same files finds their schemas resolved.
    * Any other plan falls back to `isEmpty`, which runs a job. */
  private[streaming] def isEmptyBatch(batch: DataFrame): Boolean = {
    @annotation.tailrec
    def scan(rdd: RDD[_]): Option[FileScanRDD] = (rdd, rdd.dependencies) match {
      case (f: FileScanRDD, _) => Some(f)
      case (_, Seq(d: OneToOneDependency[_])) => scan(d.rdd)
      case _ => None
    }
    Some(batch.queryExecution.logical).collect { case r: LogicalRDD => r.rdd }.flatMap(scan)
      .map(_.filePartitions.flatMap(_.files).distinctBy(_.toPath).toSeq)
      .filter(_.forall(_.toPath.getName.endsWith(".parquet"))) match {
      case Some(files) =>
        graft.tables.FooterSchemas.facts(batch.sparkSession, files.map(f =>
          new FileStatus(f.fileSize, false, 0, 0, f.modificationTime, f.toPath))).forall(_.rows == 0)
      case None => batch.isEmpty
    }
  }

  /** Pipeline 2, bucketed variant: the 100×-scale path. Instead of the
    * full-snapshot swap (which rewrites the whole table every batch), a
    * micro-batch touching k of N hash buckets rewrites only those k
    * bucket partitions and flips the manifest — the MERGE cost tracks
    * the batch's key spread, not the table size. `vacuumEachBatch`
    * reclaims superseded bucket versions as the stream runs. */
  def startScd1MergeBucketed(
      spark: SparkSession,
      orderStreamDir: String,
      targetDir: String,
      checkpointDir: String,
      numBuckets: Int = 64,
      vacuumEachBatch: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val orderStreamSchema =
      org.apache.spark.sql.Encoders.product[graft.model.OrderStreamRow].schema
    spark.readStream
      .schema(orderStreamSchema)
      .parquet(orderStreamDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchBucketed(spark, batch, targetDir, numBuckets)
        if (vacuumEachBatch && BucketedTable.exists(targetDir))
          BucketedTable.vacuum(targetDir, numBuckets)
      }
      .start()
  }

  /** One bucketed micro-batch: bootstrap on missing manifest, else an
    * incremental per-bucket merge (same flatten + insert-guard semantics
    * as the snapshot path). */
  def mergeBatchBucketed(
      spark: SparkSession, batch: DataFrame, targetDir: String, numBuckets: Int): Unit = {
    if (isEmptyBatch(batch)) return
    val source = BatchFlattener.flatten(batch)
    if (!BucketedTable.exists(targetDir))
      BucketedTable.bootstrap(
        spark, source.filter(col("version").isNotNull), targetDir, "orderId", numBuckets)
    else BucketedTable.merge(spark, source, targetDir, "orderId", numBuckets)
  }
}
