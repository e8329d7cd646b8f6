package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.buffering.TxBuffer
import graft.cdcgen.CdcEventGen
import graft.envelope.Envelope
import graft.model.OrderStreamRow
import graft.streaming.CdcStreaming

/** End-to-end CDC pipeline 1: value-string streams → parse → union →
  * stateful transaction buffering → denormalized `order_stream` rows
  * (reference: TransactionalCdcProcessingApp.scala:46-83).
  *
  * Source-agnostic: works on batch DataFrames (the driver correctness
  * path — flatMapGroupsWithState runs in batch mode with empty initial
  * state) and on streaming DataFrames (MemoryStream / file source / a
  * Kafka source when the connector jar is present).
  */
object CdcPipeline {

  /** Fixed processing timestamp for deterministic correctness dumps. */
  val FixedTs = "2026-01-01T00:00:00Z"

  def unified(
      orders: DataFrame,
      details: DataFrame,
      lineItems: DataFrame,
      metadata: DataFrame): DataFrame =
    Envelope.unionAll(Seq(
      Envelope.parseCdc(orders, "ORDERS"),
      Envelope.parseCdc(details, "ORDER_DETAILS"),
      Envelope.parseCdc(lineItems, "ORDER_LINE_ITEMS"),
      Envelope.parseMetadata(metadata)))

  def orderStream(
      orders: DataFrame,
      details: DataFrame,
      lineItems: DataFrame,
      metadata: DataFrame,
      processedTs: () => String = () => java.time.Instant.now().toString): Dataset[OrderStreamRow] =
    TxBuffer(unified(orders, details, lineItems, metadata), processedTs)

  /** Batch run over the deterministic TPC-H-derived CDC workload. */
  def orderStreamFromTpch(spark: SparkSession, sfDir: String): Dataset[OrderStreamRow] =
    TxBuffer(unifiedCached(spark, sfDir), () => FixedTs)

  /** Bench fast lane: when enabled, the unified envelope is generated
    * directly (CdcEventGen.envelopeFromTpch) instead of rendering JSON and
    * re-parsing it — measures the operators downstream of the parser.
    * NEVER enabled on the correctness path: Verify keeps the default so
    * every oracle run exercises the real parse. Set by Bench.main, or via
    * SPARK_GRAFT_FASTGEN=1 for manual runs. */
  @volatile var useFastGen: Boolean =
    sys.env.get("SPARK_GRAFT_FASTGEN").contains("1")

  private val unifiedCache =
    new graft.tables.SessionMemo[String, DataFrame]

  /** Memoized + persisted unified envelope for the TPC-H-derived workload:
    * the generate+parse stage feeds both the buffering pipeline and the
    * envelope-level queries — compute it once per JVM. */
  def unifiedCached(spark: SparkSession, sfDir: String): DataFrame =
    unifiedCache.getOrElseUpdate(spark, sfDir)({
      if (useFastGen) {
        // Direct generation is a narrow codegen'd pipeline — cheaper to
        // recompute per consumer than to write the columnar cache.
        CdcEventGen.envelopeFromTpch(spark, sfDir)
      } else {
        val s = CdcEventGen.fromTpch(spark, sfDir)
        val df = unified(s.orders, s.details, s.lineItems, s.metadata)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
    })

  private val cache =
    new graft.tables.SessionMemo[String, DataFrame]

  /** Memoized + persisted `order_stream` per (session, sfDir): the stateful
    * buffering is the expensive stage, and several correctness/bench queries
    * read its output — compute it once per JVM, not once per query. */
  def orderStreamCached(spark: SparkSession, sfDir: String): DataFrame =
    cache.getOrElseUpdate(spark, sfDir)({
      val df = orderStreamFromTpch(spark, sfDir).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize eagerly so all readers hit the cache
      df
    })

  private val streamedCache =
    new graft.tables.SessionMemo[String, DataFrame]

  /** order_stream computed as a REAL STREAM — the reference's actual
    * operating mode, end to end: the four CDC value streams are staged
    * once as JSON-line text files, then [[CdcStreaming.startIngest]]
    * reads them back through the file source, parses, unions and
    * buffers them with [[TxBuffer]] in STREAMING mode (RocksDB state
    * store, checkpointed), and sinks them to parquet under
    * `Trigger.AvailableNow`. Always the full JSON render+parse path —
    * the bench fast lane does not apply, because what this entry
    * measures IS the streaming ingest. Emissions are batch-identical
    * (the per-key fold is arrival-order-insensitive and a transaction
    * split across microbatches completes in the later one), which the
    * shared DuckDB oracle then hash-gates. */
  def orderStreamStreamedCached(spark: SparkSession, sfDir: String): DataFrame =
    streamedCache.getOrElseUpdate(spark, sfDir)({
      val base = graft.tables.TmpDirs.create("graft-streamed")
      val dirs = stageStreamedInputs(spark, sfDir, base)
      val out = base.resolve("out").toString
      runStreamed(spark, dirs, out, base.resolve("cp").toString)
      // The staging JSON and the checkpoint are DEAD once the sink
      // parquet exists — the cached frame's lineage reads only `out`.
      // Left behind, each bench/verify run parked ~4 GB of dead files
      // in the temp root (26 GB across one day's runs, measured r16 —
      // enough dirty-page/free-space pressure to inflate every later
      // write-heavy entry). Best-effort delete, sink kept.
      (dirs :+ base.resolve("cp").toString).foreach { d =>
        try graft.tables.ValueIndex.deleteTree(java.nio.file.Paths.get(d))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      // The terminated query's RocksDB providers stay registered
      // until the next maintenance tick (60 s) and would snapshot
      // against the checkpoint dir just deleted above — unload them
      // with the staging, not eventually (the in-memory sibling of the
      // r16 dead-staging fix).
      org.apache.spark.sql.graft.StateInit.unloadAllStateStores()
      val df = spark.read.parquet(out)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  /** Streamed-build staging step: render the four CDC value streams as
    * JSON-line text dirs under `base` (the file-source input). Split
    * out so the A/B harness ([[AbStream]]) can stage once and time only
    * the stream replay. */
  private[graft] def stageStreamedInputs(
      spark: SparkSession, sfDir: String, base: java.nio.file.Path): Seq[String] = {
    val srcs = CdcEventGen.fromTpch(spark, sfDir)
    // Four independent render+write jobs overlapped per guide §2.6:
    // each stream's JSON render is CPU-narrow and its text write
    // IO-bound, so sequential staging left most of local[N] idle in
    // every job's tail. Same four jobs, same outputs — just submitted
    // from a pool so they back-fill each other.
    graft.queries.SeedPar.mapAll(Seq(
      "orders" -> srcs.orders, "details" -> srcs.details,
      "lineitems" -> srcs.lineItems, "metadata" -> srcs.metadata)) {
      case (n, df) =>
        val d = base.resolve(n).toString
        df.select("value").write.mode("overwrite").text(d)
        d
    }
  }

  /** Streamed-build replay step: the ingest query over the staged dirs,
    * run to completion under Trigger.AvailableNow. */
  private[graft] def runStreamed(
      spark: SparkSession, dirs: Seq[String], out: String, cp: String): Unit =
    CdcStreaming.startIngest(spark, dirs(0), dirs(1), dirs(2), dirs(3), out, cp)
      .awaitTermination()
}
