package graft.streaming

import scala.util.Using

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
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
    * Any other plan falls back to `isEmpty`, which runs a job. */
  private[streaming] def isEmptyBatch(batch: DataFrame): Boolean = {
    @annotation.tailrec
    def scan(rdd: RDD[_]): Option[FileScanRDD] = (rdd, rdd.dependencies) match {
      case (f: FileScanRDD, _) => Some(f)
      case (_, Seq(d: OneToOneDependency[_])) => scan(d.rdd)
      case _ => None
    }
    Some(batch.queryExecution.logical).collect { case r: LogicalRDD => r.rdd }.flatMap(scan)
      .map(_.filePartitions.flatMap(_.files).map(_.toPath).distinct)
      .filter(_.forall(_.getName.endsWith(".parquet"))) match {
      case Some(paths) =>
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        paths.forall(p => Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(p, conf)))(
          _.getRecordCount == 0))
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

/** Atomic snapshot table over a parquet directory: write to a tmp dir,
  * then swap via rename (readers resolve the `current` symlink-style
  * pointer — here a versioned subdir named by a monotonically increasing
  * id, with a marker file designating the live one).
  *
  * Version ids are a PERSISTED monotonic counter: the next id is
  * max(existing ids) + 1, zero-padded so lexical and numeric order
  * agree — stable across JVM restarts (a nanoTime-style name would
  * reset to an arbitrary per-JVM origin and reorder history). A
  * `_HISTORY` manifest records the publish wall-clock per version.
  *
  * Every superseded version stays on disk until `vacuum`, which gives
  * time travel for free (the reference gets it from Delta,
  * db/query_table.sql:173-178): `snapshots` lists history newest-first,
  * `readSnapshot(n)` reads the nth-newest (VERSION AS OF) and
  * `readAsOf(ts)` the newest published at or before ts
  * (TIMESTAMP AS OF). */
object ParquetTable {

  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
  import scala.jdk.CollectionConverters._

  private def pointer(dir: String) = Paths.get(dir, "_CURRENT")
  private def history(dir: String) = Paths.get(dir, "_HISTORY")

  def exists(dir: String): Boolean = Files.exists(pointer(dir))

  /** Resolve the live snapshot dir: a bare version name is a local child
    * dir; a path (contains "/") is a shallow-clone reference into another
    * table and is followed as-is. */
  def currentPath(dir: String): String = {
    val v = Files.readString(pointer(dir)).trim
    if (v.contains("/")) v else s"$dir/$v"
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(currentPath(dir))

  /** Snapshot version names, newest first (numeric compare — immune to
    * digit-count differences between naming epochs). */
  def snapshots(dir: String): Seq[String] =
    VersionNames.childNames(Paths.get(dir))
      .filter(VersionNames.isVersionDir)
      .sortBy(VersionNames.idOf).reverse

  /** Time travel: read the nth-newest snapshot (0 == current). */
  def readSnapshot(spark: SparkSession, dir: String, n: Int): DataFrame =
    spark.read.parquet(s"$dir/${snapshots(dir)(n)}")

  /** (version name, publish epoch-millis), newest first, live dirs only.
    * Tolerant of a torn trailing line (the append is not atomic — a
    * crash mid-write must not brick TIMESTAMP AS OF). */
  def publishedVersions(dir: String): Seq[(String, Long)] = {
    if (!Files.exists(history(dir))) return Seq.empty
    val onDisk = snapshots(dir).toSet
    Files.readAllLines(history(dir)).asScala
      .flatMap { line =>
        line.split("\t", 2) match {
          case Array(v, ts) if VersionNames.isVersionDir(v) && ts.forall(_.isDigit) && ts.nonEmpty =>
            Some(v -> ts.toLong)
          case _ => None // torn/garbage line: skip, never throw
        }
      }
      .filter { case (v, _) => onDisk(v) }
      .toSeq.sortBy { case (v, _) => -VersionNames.idOf(v) }
  }

  /** TIMESTAMP AS OF: read the newest snapshot published at or before
    * `tsMillis`. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val candidates = publishedVersions(dir).filter(_._2 <= tsMillis)
    require(candidates.nonEmpty, s"no snapshot in $dir at or before $tsMillis")
    spark.read.parquet(s"$dir/${candidates.head._1}")
  }

  /** RESTORE: republish the nth-newest snapshot as a NEW version (like
    * Delta RESTORE, which commits the rollback rather than rewriting
    * history — `snapshots` keeps the bad version for forensics until
    * vacuum). */
  def restore(spark: SparkSession, dir: String, n: Int): Unit =
    swap(spark, readSnapshot(spark, dir, n), dir)

  /** DEEP CLONE: materialize the source table's current snapshot as a
    * fresh table at `dstDir` (version history starts over — same as
    * Delta DEEP CLONE, which copies data files but not history). */
  def deepClone(spark: SparkSession, srcDir: String, dstDir: String): Unit =
    swap(spark, read(spark, srcDir), dstDir)

  /** SHALLOW CLONE: a new table whose `_CURRENT` points at the SOURCE
    * table's live version directory — zero data files copied, O(1)
    * regardless of table size (reference: db/table_maintenance.sql:
    * 109-113). The clone diverges copy-on-write: its next `swap` writes
    * a normal LOCAL version (a full snapshot, as every swap is) and
    * repoints `_CURRENT` locally, leaving the source untouched. Like
    * Delta, vacuuming the SOURCE can invalidate shallow clones that
    * still reference it — `deepClone` is the vacuum-safe variant. */
  def shallowClone(srcDir: String, dstDir: String): Unit = {
    require(exists(srcDir), s"shallow clone source $srcDir is not a table")
    Files.createDirectories(Paths.get(dstDir))
    require(!exists(dstDir), s"shallow clone target $dstDir already exists")
    val src = Paths.get(currentPath(srcDir)).toAbsolutePath.normalize
    val tmp = Paths.get(dstDir, "_CURRENT.tmp")
    Files.writeString(tmp, src.toString)
    Files.move(tmp, pointer(dstDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** DELETE WHERE, copy-on-write at FILE granularity — how Delta executes
    * row-level deletes without deletion vectors: only data files that
    * CONTAIN matching rows are rewritten (minus their matches); every
    * untouched file is carried into the new version as a hard link, zero
    * bytes copied. With a selective predicate over a clustered layout
    * (partitioning / z-order), a 100 TB delete rewrites only the files
    * the predicate actually hits; the pre-delete snapshot stays readable
    * (time travel) until vacuum. SQL DELETE semantics: rows where the
    * predicate is NULL are KEPT. Returns the number of rows deleted. */
  def deleteWhere(spark: SparkSession, dir: String, predicate: String,
      readSchema: Option[StructType] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "deleteWhere")
    val df = readWith(spark, readSchema, cur.toString)
    val hit = coalesce(expr(predicate), lit(false))
    // One pass finds both the touched files and the delete count; the
    // collect is bounded by the file count, never the row count.
    val hits = df.filter(hit)
      .groupBy(col("_metadata.file_path").as("f"))
      .count().collect()
    if (hits.isEmpty) return 0L
    val touched = hits
      .map(r => Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString)
      .toSet
    val deleted = hits.map(_.getLong(1)).sum
    // Rewrite ONLY the touched files, dropping their matching rows; the
    // staged commit (commitCow) links the rest forward and claims the
    // version slot with one atomic rename.
    val touchedPaths = touched.toSeq.sorted.map(f => s"$cur/$f")
    commitCow(dir, cur, touched) { staging =>
      readWith(spark, readSchema, touchedPaths: _*)
        .filter(not(hit))
        .write.mode("append").parquet(staging.toString)
    }
    deleted
  }

  /** Parquet read with an optional EXPLICIT schema. The DML rewrite
    * paths pass the table's logical schema so per-file column coverage
    * is deterministic (a file missing an added column null-fills it);
    * a footer-inferred schema on a mixed-schema directory is file-order
    * roulette and could silently drop an added column on rewrite. */
  private def readWith(spark: SparkSession, schema: Option[StructType],
      paths: String*): DataFrame =
    schema.map(spark.read.schema).getOrElse(spark.read).parquet(paths: _*)

  /** Shared copy-on-write version commit: hard-link every current data
    * file EXCEPT `excluded` into a writer-private dot-staging dir, let
    * the caller append its rewritten/new part files there, then
    * atomically rename the staging dir to the next version name and
    * publish. A crash before the rename leaves only an orphaned staging
    * dir — the version slot stays clean and a retry starts fresh
    * (the swapIfCurrent staging discipline, applied to file-granular
    * commits). Returns the published version id.
    *
    * CONCURRENCY: `cur` is the caller's OCC expectation, not a hint.
    * The linked cold files and the rewrite were both derived from that
    * snapshot, so publishing over a table that moved past it would
    * silently drop the interleaved writer's commit (last-writer-wins on
    * file sets). The version id is therefore derived from `cur` itself
    * — never re-read at commit time — and validated against the live
    * `_CURRENT` under the same per-table lock [[swapIfCurrent]] uses:
    * the loser gets a loud ConcurrentWriteException and a clean table
    * (staging reclaimed, no version published), exactly the lakehouse
    * read-validate-commit protocol (ConcurrentDmlSpec). */
  private[graft] def commitCow(dir: String, cur: java.nio.file.Path,
      excluded: Set[String])(write: java.nio.file.Path => Unit): Long = {
    import scala.jdk.CollectionConverters._
    val staging = Paths.get(dir, s".staging-${java.util.UUID.randomUUID}")
    try {
      Files.createDirectories(staging)
      val ls = Files.list(cur)
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !excluded(n)
        }
        .foreach { p =>
          val dst = staging.resolve(p.getFileName)
          try { Files.createLink(dst, p); () }
          catch { case _: Exception => Files.copy(p, dst); () }
        }
      finally ls.close()
      // The expensive part (the caller's rewrite) runs OUTSIDE the lock,
      // same staging discipline as swapIfCurrent.
      write(staging)
      // Compare RESOLVED paths, not _CURRENT's raw contents: a shallow
      // clone's pointer is a path into the SOURCE table (currentPath
      // follows it), so a name-vs-raw comparison would spuriously
      // conflict every first DML on an undiverged clone.
      val expectedPath = cur.toAbsolutePath.normalize
      val lock = occLocks.computeIfAbsent(
        Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
      lock.synchronized {
        val livePath = Paths.get(currentPath(dir)).toAbsolutePath.normalize
        if (livePath != expectedPath)
          throw new ConcurrentWriteException(
            s"$dir moved ${expectedPath.getFileName} -> ${livePath.getFileName} " +
              "during a row-level rewrite; the statement was NOT applied — " +
              "re-read and retry")
        // Version id derived from the caller's snapshot (never re-read):
        // on an undiverged clone this continues the source's numbering
        // locally, which is fine — ids only need to be unique-increasing
        // within the table dir.
        val nextId = VersionNames.idOf(cur.getFileName.toString) + 1
        val next = VersionNames.format(nextId)
        val target = Paths.get(dir, next)
        try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // The slot can be occupied by exactly one thing here: a prior
          // writer that crashed BETWEEN its move and its publish. The OCC
          // check above proved nothing was published past `cur`, and that
          // holds against every in-process writer because ALL publishers
          // (swap/swapIfCurrent/swapWithTxn/truncate/adopt/commitCow)
          // claim their slot under this same per-table lock
          // ([[publishStagedLocked]]). Such an orphan is invisible to
          // _CURRENT readers and unreachable forever — reclaim it and
          // take the slot, or the table would be bricked on this id for
          // good. Defense-in-depth for anything outside the contract
          // (a foreign process writing the same table): re-verify the
          // occupying dir really is unpublished before deleting — a
          // published or live occupant means a concurrent writer won,
          // so lose loudly instead of deleting its commit.
          case _: java.nio.file.FileSystemException =>
            if (currentVersion(dir) == next ||
                publishedVersions(dir).exists(_._1 == next)) {
              try VersionNames.deleteTree(staging) catch { case _: Exception => () }
              throw new ConcurrentWriteException(
                s"$dir version slot $next was published concurrently " +
                  "(out-of-process writer?); the statement was NOT applied — " +
                  "re-read and retry")
            }
            VersionNames.deleteTree(target)
            Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        }
        publish(dir, next)
        nextId
      }
    } catch {
      // A failed write (bad expression, executor loss, disk full) must
      // not leak a full hard-link set per retry — reclaim the staging
      // dir and rethrow. Only a PROCESS crash leaves an orphan, and
      // that stays invisible to readers (CommitCowSpec).
      case e: Throwable =>
        try VersionNames.deleteTree(staging) catch { case _: Exception => () }
        throw e
    }
  }

  /** CONVERT-TO-DELTA's adoption move: a PLAIN parquet directory becomes
    * a versioned table IN PLACE and at metadata price — the root's data
    * files hard-link into a new v1 dir (zero bytes copied; fallback
    * copy only across filesystems) and `_CURRENT` publishes it. The
    * root originals stay untouched (the caller owns them; they are
    * never read once `_CURRENT` exists), so a failed adoption leaves a
    * perfectly usable plain directory. At 100 TB this is O(file count)
    * regardless of data volume — exactly Delta's CONVERT contract.
    * Returns the number of adopted files. */
  def adopt(spark: SparkSession, dir: String): Long = {
    require(!exists(dir), s"adopt: $dir is already a versioned table")
    val root = Paths.get(dir)
    require(Files.isDirectory(root), s"adopt: no such directory $dir")
    val files = VersionNames.childNames(root).filter(_.endsWith(".parquet"))
    require(files.nonEmpty, s"adopt: no parquet files at $dir")
    // Link into a staging dir and claim v1 through the shared occLock:
    // two concurrent adopts race on the re-checked `exists`, never on a
    // half-linked version dir.
    val staging = root.resolve(s".staging-${java.util.UUID.randomUUID}")
    Files.createDirectories(staging)
    files.foreach { f =>
      val src = root.resolve(f)
      val dst = staging.resolve(f)
      try Files.createLink(dst, src)
      catch { case _: Exception => Files.copy(src, dst) }
    }
    try {
      publishStagedLocked(dir, staging, validate = () =>
        require(!exists(dir), s"adopt: $dir is already a versioned table"))
    } catch {
      case e: Throwable =>
        try VersionNames.deleteTree(staging) catch { case _: Exception => () }
        throw e
    }
    files.size.toLong
  }

  /** TRUNCATE TABLE — a full delete at metadata price. The next version
    * holds ONE schema-only parquet file; no current data file is read
    * beyond its footer (the reported row count is parquet metadata), and
    * every prior snapshot stays readable (time travel) until VACUUM —
    * the same versioning contract as [[deleteWhere]]. A predicate-free
    * DELETE rewrites nothing either, but it still runs the hit-count
    * scan over every file; TRUNCATE skips even that, so at 100 TB it is
    * O(file count) regardless of data volume. Returns rows removed. */
  def truncate(spark: SparkSession, dir: String): Long = {
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "truncate")
    val df = spark.read.parquet(cur.toString)
    val n = df.count() // answered from parquet footers, not a data scan
    // limit(0) keeps the schema; the single empty partition still emits
    // one footer-only part file, so readers of the new snapshot resolve
    // the schema without any special empty-table casing. Slot claim goes
    // through the shared occLock door like every publisher.
    val staging = Paths.get(dir, s".staging-${java.util.UUID.randomUUID}")
    try {
      df.limit(0).repartition(1).write.mode("overwrite").parquet(staging.toString)
      publishStagedLocked(dir, staging)
    } catch {
      case e: Throwable =>
        try VersionNames.deleteTree(staging) catch { case _: Exception => () }
        throw e
    }
    n
  }

  /** Delta's `INSERT INTO ... REPLACE WHERE pred` — an ATOMIC
    * predicate-scoped overwrite in ONE commit: every current row
    * matching the predicate is dropped and `data` lands in its place.
    * The Delta contract is enforced first: each incoming row must
    * itself satisfy the predicate (a batch leaking outside its replace
    * window is rejected before any file is touched). Copy-on-write at
    * FILE granularity like [[deleteWhere]] — only files containing
    * matches are rewritten (minus their matches), everything else
    * hard-links forward, the batch appends beside them, and the single
    * `publish` makes delete+insert visible together (readers never see
    * the window half-replaced). The idempotent-backfill primitive: at
    * 100 TB, re-loading one day of a date-clustered table rewrites only
    * that day's files. Returns (#rows deleted, #rows inserted). */
  def replaceWhere(
      spark: SparkSession, dir: String, predicate: String,
      data: DataFrame, readSchema: Option[StructType] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "replaceWhere")
    val hit = coalesce(expr(predicate), lit(false))
    val batch = data.persist()
    try {
      val outside = batch.filter(not(hit)).count()
      require(outside == 0L,
        s"REPLACE WHERE: $outside incoming rows do not satisfy '$predicate' — " +
          "the batch must live entirely inside its replace window")
      val df = readWith(spark, readSchema, cur.toString)
      val hits = df.filter(hit)
        .groupBy(col("_metadata.file_path").as("f"))
        .count().collect()
      val touched = hits
        .map(r => Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString)
        .toSet
      val deleted = hits.map(_.getLong(1)).sum
      val inserted = batch.count()
      commitCow(dir, cur, touched) { staging =>
        if (touched.nonEmpty)
          readWith(spark, readSchema, touched.toSeq.sorted.map(f => s"$cur/$f"): _*)
            .filter(not(hit))
            .write.mode("append").parquet(staging.toString)
        // Cast to the table's column order/types so rewritten, linked and
        // appended files share one schema (same rule as the append commit).
        batch.select(df.schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
          .write.mode("append").parquet(staging.toString)
      }
      (deleted, inserted)
    } finally { batch.unpersist(); () }
  }

  /** UPDATE ... SET, copy-on-write at FILE granularity (same machinery as
    * [[deleteWhere]]): files containing matches are rewritten with the
    * assignments applied to matching rows, everything else hard-links
    * forward. Assignment expressions are cast back to the column's
    * original type so rewritten and linked files keep one schema. Rows
    * with a NULL predicate are untouched. Returns #rows updated. */
  def updateWhere(
      spark: SparkSession, dir: String, predicate: String,
      sets: Map[String, String], readSchema: Option[StructType] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "updateWhere")
    val df = readWith(spark, readSchema, cur.toString)
    val bad = sets.keySet -- df.columns.toSet
    require(bad.isEmpty, s"UPDATE SET references missing columns: $bad")
    val hit = coalesce(expr(predicate), lit(false))
    val hits = df.filter(hit)
      .groupBy(col("_metadata.file_path").as("f"))
      .count().collect()
    if (hits.isEmpty) return 0L
    val touched = hits
      .map(r => Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString)
      .toSet
    val updated = hits.map(_.getLong(1)).sum
    val touchedPaths = touched.toSeq.sorted.map(f => s"$cur/$f")
    commitCow(dir, cur, touched) { staging =>
      val touchedDf = readWith(spark, readSchema, touchedPaths: _*)
      val outCols = touchedDf.schema.fields.map { f =>
        sets.get(f.name) match {
          case Some(e) => when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None    => col(f.name)
        }
      }
      touchedDf.select(outCols.toIndexedSeq: _*)
        .write.mode("append").parquet(staging.toString)
    }
    updated
  }

  /** Generic MERGE INTO (the CDC-apply upsert for ANY table, not just
    * the SCD1 pipeline), copy-on-write at FILE granularity: `source`
    * carries the target's columns plus an optional `_deleted BOOLEAN`.
    * Per source row, keyed on `keys`:
    *   matched  + !_deleted → target row replaced by the source row;
    *   matched  +  _deleted → target row dropped;
    *   unmatched + !_deleted → inserted;
    *   unmatched +  _deleted → no-op.
    * Only files CONTAINING matched keys are rewritten (minus all matched
    * rows); untouched files hard-link forward; the surviving source rows
    * land as appended files. Source must be key-unique (dedup upstream —
    * the SCD1 path's window dedup does exactly this). Returns
    * (#upserts, #matched deletes). Pair with plain `read`; tables
    * carrying deletion vectors should [[purgeDV]] first. */
  def mergeInto(
      spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], readSchema: Option[StructType] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, expr, lit, not}
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "mergeInto")
    val target = readWith(spark, readSchema, cur.toString)
    val hasDel = source.columns.contains("_deleted")
    val src = (if (hasDel) source else source.withColumn("_deleted", lit(false)))
      .persist()
    try {
      if (src.isEmpty) return (0L, 0L)
      val dataCols = target.columns.toSeq
      val missing = dataCols.toSet -- src.columns.toSet
      require(missing.isEmpty, s"MERGE source missing target columns: $missing")
      val srcKeys = src.select(keys.map(col): _*).distinct()
      val tagged = target.withColumn("_file",
        expr("regexp_extract(_metadata.file_path, '([^/]+)$', 1)"))
      // Bounded by file count, never row count.
      val touched = tagged.join(srcKeys, keys, "left_semi")
        .select("_file").distinct().collect().map(_.getString(0)).toSet
      val upserts = src.filter(not(col("_deleted"))).select(dataCols.map(col): _*)
      val nUp = upserts.count()
      commitCow(dir, cur, touched) { staging =>
        if (touched.nonEmpty) {
          val touchedPaths = touched.toSeq.sorted.map(f => s"$cur/$f")
          readWith(spark, readSchema, touchedPaths: _*)
            .join(srcKeys, keys, "left_anti")
            .write.mode("append").parquet(staging.toString)
        }
        if (nUp > 0)
          upserts.write.mode("append").parquet(staging.toString)
      }
      val nDel =
        if (!hasDel) 0L
        else src.filter(col("_deleted")).select(keys.map(col): _*)
          .join(target.select(keys.map(col): _*), keys, "left_semi").count()
      (nUp, nDel)
    } finally { src.unpersist(); () }
  }

  /** INSERT INTO append commit: every current data file hard-links into
    * the next version, the batch lands as new part files beside them —
    * an O(new-data) commit like Delta's blind append, never a table
    * rewrite. Creates version 1 on a missing table. Tables carrying
    * deletion vectors must [[purgeDV]] first (same contract as the
    * other plain-file DML paths). */
  def append(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    if (!exists(dir)) { swap(spark, df, dir); return }
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "append")
    commitCow(dir, cur, Set.empty) { staging =>
      df.write.mode("append").parquet(staging.toString)
    }
    ()
  }

  /** COPY INTO — idempotent file ingestion (the Databricks/Delta
    * statement): load from `srcDir` ONLY the parquet files not already
    * ingested into this table, append them as one commit, and stamp the
    * loaded file paths INSIDE the staged version dir (`_COPY`,
    * underscore-hidden like `_TXN`) so data and bookkeeping publish in
    * the same atomic rename — a crash can never record a file it didn't
    * land, or land one it didn't record, which is exactly the
    * double-load window a root-level manifest would reopen. Each
    * version dir carries only ITS batch's stamp (only data files
    * hard-link forward), so the loaded set is reconstructed as the
    * union over retained versions — bounded by version count × file
    * count, never rows. Retention contract (same as the txn action):
    * vacuum must retain the ingest's replay window. Re-running the same
    * statement is a NO-OP (no new version). `transform` maps the raw
    * file read to table schema (alignment/validation hook). Returns
    * (#files loaded, #rows loaded, #files skipped). */
  def copyInto(
      spark: SparkSession, dir: String, srcDir: String,
      transform: DataFrame => DataFrame = identity): (Long, Long, Long) = {
    val src = Paths.get(srcDir)
    require(Files.isDirectory(src), s"COPY INTO source is not a directory: $srcDir")
    val candidates = Files.list(src).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
    val loaded: Set[String] = snapshots(dir).flatMap { v =>
      val p = Paths.get(dir, v, "_COPY")
      if (Files.exists(p)) Files.readAllLines(p).asScala.filter(_.nonEmpty)
      else Seq.empty
    }.toSet
    val fresh = candidates.filterNot(loaded)
    if (fresh.isEmpty) return (0L, 0L, candidates.size.toLong)
    val batch = transform(spark.read.parquet(fresh: _*)).persist()
    try {
      val rows = batch.count()
      val cur = Paths.get(currentPath(dir))
      requireNoDv(cur, "copyInto")
      commitCow(dir, cur, Set.empty) { staging =>
        batch.write.mode("append").parquet(staging.toString)
        // The _COPY stamp lands INSIDE the staging dir: data and
        // bookkeeping publish in the same atomic rename.
        Files.write(staging.resolve("_COPY"),
          fresh.asJava, java.nio.charset.StandardCharsets.UTF_8)
        ()
      }
      (fresh.size.toLong, rows, (candidates.size - fresh.size).toLong)
    } finally { batch.unpersist(); () }
  }

  /** DELETE WHERE via DELETION VECTORS — merge-on-read, the write-cheap
    * dual of [[deleteWhere]]'s copy-on-write: NO data file is rewritten,
    * ever. The new version hard-links every data file forward and adds
    * the matching (file, row_index) pairs to its `_dv` store (hidden
    * from plain scans by the underscore prefix, like `_spark_metadata`).
    * [[readMoR]] applies the vectors as a broadcast anti-join on the
    * scan's `_metadata` row position. At 100 TB this turns a selective
    * delete from "rewrite every touched 128 MB file" into "append a few
    * KB of positions" — the read pays one small anti-join until
    * [[purgeDV]] folds the vectors back into clean files. Repeated DV
    * deletes compose (the predicate sees only still-live rows). SQL
    * DELETE semantics: NULL predicate keeps the row. Returns #rows
    * newly deleted. */
  def deleteWhereDV(spark: SparkSession, dir: String, predicate: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val cur = Paths.get(currentPath(dir))
    val matches = liveRows(spark, cur)
      .filter(coalesce(expr(predicate), lit(false)))
      .select(col("_file").as("file"), col("_rid").as("row_index"))
    val deleted = matches.count()
    if (deleted == 0L) return 0L
    // Staged like every other commit: a half-built version missing its
    // _dv store would silently resurrect every vector-deleted row.
    commitCow(dir, cur, Set.empty) { staging =>
      val newDv = readDv(spark, cur) match {
        case Some(old) => old.unionByName(matches)
        case None      => matches
      }
      newDv.write.mode("overwrite").parquet(s"$staging/_dv")
    }
    deleted
  }

  /** Merge-on-read scan: the current snapshot minus its deletion
    * vectors (a broadcast anti-join on (file name, row position) — the
    * DV side is KBs). Plain [[read]] on a DV-carrying table would
    * resurrect deleted rows; use this wherever vectors may exist. */
  def readMoR(spark: SparkSession, dir: String): DataFrame =
    readMoR(spark, dir, None)

  /** [[readMoR]] with an explicit PHYSICAL read schema — required when
    * the snapshot's files carry mixed footer types (appends after a
    * column widen): single-footer inference could misread or fail on
    * the older files, while the caller's `_SCHEMA` ptype lines are
    * authoritative. */
  def readMoR(spark: SparkSession, dir: String,
      readSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val cur = Paths.get(currentPath(dir))
    readDv(spark, cur) match {
      case None => plainRead(spark, cur, readSchema)
      case Some(dv) =>
        liveRowsWith(spark, cur, dv, readSchema).drop("_file", "_rid")
    }
  }

  private def plainRead(spark: SparkSession, versionDir: java.nio.file.Path,
      readSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    readSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(versionDir.toString)
      case None      => spark.read.parquet(versionDir.toString)
    }

  /** Fold the deletion vectors back into clean data files: one rewrite
    * of the surviving rows as a fresh version with an empty DV store —
    * the maintenance step that caps read-side anti-join debt. */
  def purgeDV(spark: SparkSession, dir: String): Unit =
    swap(spark, readMoR(spark, dir), dir)

  /** The plain-file DML paths (deleteWhere / updateWhere / mergeInto)
    * hard-link data files forward WITHOUT the `_dv` store — running them
    * over a DV-carrying snapshot would silently RESURRECT every
    * vector-deleted row in the new version. Refuse loudly instead. */
  private[graft] def requireNoDv(versionDir: java.nio.file.Path, op: String): Unit =
    require(!Files.isDirectory(versionDir.resolve("_dv")),
      s"$op on a snapshot carrying deletion vectors would resurrect deleted rows — purgeDV first")

  /** The version's DV store, if present (underscore-hidden from data
    * scans). */
  private def readDv(
      spark: SparkSession, versionDir: java.nio.file.Path): Option[DataFrame] = {
    val dv = versionDir.resolve("_dv")
    if (Files.isDirectory(dv)) Some(spark.read.parquet(dv.toString)) else None
  }

  /** Snapshot rows tagged with (_file, _rid) scan positions, minus any
    * deletion vectors. */
  private def liveRows(spark: SparkSession, versionDir: java.nio.file.Path): DataFrame =
    readDv(spark, versionDir) match {
      case Some(dv) => liveRowsWith(spark, versionDir, dv)
      case None     => taggedRows(spark, versionDir)
    }

  private def liveRowsWith(
      spark: SparkSession, versionDir: java.nio.file.Path, dv: DataFrame,
      readSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val tagged = taggedRows(spark, versionDir, readSchema)
    tagged.join(broadcast(dv),
      tagged("_file") === dv("file") && tagged("_rid") === dv("row_index"),
      "left_anti")
  }

  /** Rows with their scan position: file NAME (stable across the
    * hard-link generations) + in-file row index. */
  private def taggedRows(spark: SparkSession, versionDir: java.nio.file.Path,
      readSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    plainRead(spark, versionDir, readSchema)
      .withColumn("_file", expr("regexp_extract(_metadata.file_path, '([^/]+)$', 1)"))
      .withColumn("_rid", col("_metadata.row_index"))
  }

  /** CHANGE DATA FEED between two snapshots (Delta's `table_changes`
    * equivalent, reconstructed by snapshot diff): a full-outer join on
    * the row key classifies every key as insert / delete / update, and
    * updates emit BOTH images (`update_preimage` + `update_postimage`),
    * exactly like Delta CDF. Unchanged rows (null-safe struct equality
    * over the non-key columns) emit nothing. Cost at any scale: one
    * co-partitioned shuffle join keyed on the row key.
    *
    * Output: keyCols ++ data columns ++ `_change_type`. */
  def changeFeed(
      spark: SparkSession, dir: String, fromN: Int, toN: Int,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val oldDf = readSnapshot(spark, dir, fromN)
    val newDf = readSnapshot(spark, dir, toN)
    val dataCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    def pack(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
    val j = pack(oldDf, "_old").join(pack(newDf, "_new"), keyCols, "full_outer")
    def tagged(t: String, img: String) =
      struct(lit(t).as("ct"), col(img).as("img"))
    val changes = j.withColumn("_c",
      when(col("_old").isNull, array(tagged("insert", "_new")))
        .when(col("_new").isNull, array(tagged("delete", "_old")))
        .when(!(col("_old") <=> col("_new")),
          array(tagged("update_preimage", "_old"), tagged("update_postimage", "_new")))
        .otherwise(lit(null))) // explode(null) emits nothing: unchanged keys vanish
    changes
      .select(keyCols.map(col) :+ explode(col("_c")).as("_e"): _*)
      .select(keyCols.map(col) ++ dataCols.map(c => col(s"_e.img.$c").as(c))
        :+ col("_e.ct").as("_change_type"): _*)
  }

  /** Drop superseded snapshots, keeping the newest `keep` (>=1).
    * Returns the version names actually deleted — callers reporting the
    * drop list must use this return, not a separate [[vacuumDryRun]]
    * call (a concurrent swap between the two would make the report
    * diverge from what was deleted). */
  def vacuum(dir: String, keep: Int = 1): Seq[String] = {
    val doomed = vacuumDryRun(dir, keep)
    doomed.foreach(v => VersionNames.deleteTree(Paths.get(dir, v)))
    ChangeFeedTable.onVersionsVacuumed(dir, doomed)
    doomed
  }

  /** VACUUM ... DRY RUN (reference db/table_maintenance.sql:13): the
    * version names [[vacuum]] WOULD delete, without touching anything. */
  def vacuumDryRun(dir: String, keep: Int = 1): Seq[String] = {
    val current = Files.readString(pointer(dir)).trim
    val pinned = graft.tables.Tags.protectedIds(dir)
    snapshots(dir).drop(math.max(keep, 1))
      .filter(v => v != current && !pinned(VersionNames.idOf(v)))
  }

  /** Time-based retention — VACUUM ... RETAIN n HOURS (reference
    * db/table_maintenance.sql:16, Delta's 168h default): drop superseded
    * snapshots whose publish time (from `_HISTORY`) is older than
    * `retainMillis` before `nowMillis`. The live version is always kept;
    * versions missing a history line (torn write) are kept conservatively. */
  def vacuumRetain(dir: String, retainMillis: Long, nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    val doomed = vacuumRetainDryRun(dir, retainMillis, nowMillis)
    doomed.foreach(v => VersionNames.deleteTree(Paths.get(dir, v)))
    ChangeFeedTable.onVersionsVacuumed(dir, doomed)
    doomed
  }

  /** VACUUM ... RETAIN n HOURS DRY RUN: the names [[vacuumRetain]]
    * would delete, without touching anything. */
  def vacuumRetainDryRun(
      dir: String, retainMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    val current = Files.readString(pointer(dir)).trim
    val published = publishedVersions(dir).toMap
    val cutoff = nowMillis - retainMillis
    val pinned = graft.tables.Tags.protectedIds(dir)
    snapshots(dir)
      .filter(v => v != current && !pinned(VersionNames.idOf(v)))
      .filter(v => published.get(v).exists(_ < cutoff))
  }

  /** Write a new snapshot version and atomically repoint `_CURRENT`.
    * The candidate is written to a writer-private staging dir OUTSIDE
    * the per-table lock; the slot claim (id assignment → move → publish)
    * runs INSIDE it via [[publishStagedLocked]], so a swap can never
    * publish between [[commitCow]]'s OCC check and its move — every
    * in-process publish path holds the same lock. Last-writer-wins by
    * design (no read-snapshot expectation); for optimistic validation
    * use [[swapIfCurrent]]. */
  def swap(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val staging = Paths.get(dir, s".staging-${java.util.UUID.randomUUID}")
    // Reclaim staging on ANY failure (write or publish): vacuum's
    // foreign-dir rule never touches dot-staging dirs, so an unclaimed
    // one would otherwise live forever (commitCow/adopt discipline).
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      publishStagedLocked(dir, staging)
      ()
    } catch {
      case e: Throwable =>
        try VersionNames.deleteTree(staging) catch { case _: Exception => () }
        throw e
    }
  }

  /** Thrown by [[swapIfCurrent]] when another writer published first. */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** Optimistic-concurrency swap: the caller names the version its
    * transformation READ (`expectedVersion`, from [[currentVersion]]);
    * the publish is abandoned if any other writer committed in between —
    * the lakehouse optimistic protocol (read snapshot → write files →
    * validate → commit or retry). The stale version dir is removed, the
    * caller re-reads and retries. Validation happens under a per-table
    * JVM lock so two LOCAL writers cannot both pass; cross-process
    * safety additionally rides on the atomic `_CURRENT` move. */
  def swapIfCurrent(
      spark: SparkSession, df: DataFrame, dir: String, expectedVersion: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    // Write the candidate OUTSIDE the lock (the expensive part — holding
    // it wouldn't lower conflict probability, only widen the window),
    // into a writer-private dot-staging dir: concurrent writers can
    // never collide on a version name they both computed early.
    val staging = s".staging-${java.util.UUID.randomUUID}"
    try {
      df.write.mode("overwrite").parquet(s"$dir/$staging")
      publishStagedLocked(dir, Paths.get(dir, staging), validate = () => {
        val cur = currentVersion(dir)
        if (cur != expectedVersion)
          throw new ConcurrentWriteException(
            s"$dir moved $expectedVersion -> $cur while writing; re-read and retry")
      })
      ()
    } catch {
      // Stale OCC loss or any write/publish failure: reclaim staging —
      // nothing else ever will (vacuum skips foreign dirs).
      case e: Throwable =>
        try VersionNames.deleteTree(Paths.get(dir, staging))
        catch { case _: Exception => () }
        throw e
    }
  }

  /** The live version name (what [[swapIfCurrent]] wants as its
    * expectation), or "" for a not-yet-created table. */
  def currentVersion(dir: String): String =
    if (exists(dir)) Files.readString(pointer(dir)).trim else ""

  private val occLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The ONE in-process door to a version slot: assign the next id, move
    * the caller's fully-written staging dir into it, and publish — all
    * under the per-table occLock. Every publisher (swap, swapIfCurrent,
    * swapWithTxn, truncate, adopt, commitCow) claims its slot through
    * this lock, which is what makes commitCow's OCC window sound: nothing
    * in-process can publish between its `_CURRENT` validation and its
    * move. `validate` runs inside the lock BEFORE the slot is claimed —
    * throw from it to abandon the publish (the caller owns staging
    * cleanup on abort). Returns the published version id. */
  private[graft] def publishStagedLocked(
      dir: String, staging: java.nio.file.Path,
      validate: () => Unit = () => ()): Long = {
    val lock = occLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
    lock.synchronized {
      validate()
      val nextId = snapshots(dir).headOption.map(VersionNames.idOf(_) + 1).getOrElse(1L)
      val next = VersionNames.format(nextId)
      Files.move(staging, Paths.get(dir, next))
      publish(dir, next)
      nextId
    }
  }

  /** Atomically repoint `_CURRENT` at a fully-written version dir, then
    * append the history line. private[graft]: GraftSql's scoped
    * OPTIMIZE commits through the same door as every other DML. */
  private[graft] def publish(dir: String, next: String): Unit = {
    val tmp = Paths.get(dir, "_CURRENT.tmp")
    Files.writeString(tmp, next)
    Files.move(tmp, pointer(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // Publish wall-clock AFTER the pointer flip: a crash in between loses
    // only the history line, never publishes an unreadable version.
    Files.writeString(history(dir), s"$next\t${System.currentTimeMillis()}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Highest writer-transaction version committed for `appId` — the read
    * side of [[swapWithTxn]] (Delta's `txn` action surface). Stamps live
    * INSIDE version dirs (underscore-prefixed, invisible to parquet
    * readers), so the scan is bounded by the retained version count.
    *
    * Only PUBLISHED versions' stamps count (r13, closing the same
    * unpublished-orphan class as versionNameOf/commitCow): a writer that
    * crashed between its version-dir move and its publish leaves an
    * on-disk dir whose `_TXN` stamp was never acknowledged — trusting it
    * would make the replayed batch a silent no-op against data no reader
    * can see (exactly-once broken the LOSSY way). The live pointer joins
    * the published set only as a local bare name (clone rule). */
  def lastTxnVersion(dir: String, appId: String): Option[Long] = {
    if (!Files.isDirectory(Paths.get(dir))) return None
    val published = {
      val fromHistory = publishedVersions(dir).map(_._1).toSet
      val cur = currentVersion(dir)
      if (cur.nonEmpty && !cur.contains("/")) fromHistory + cur else fromHistory
    }
    val stamps = snapshots(dir).filter(published).flatMap { v =>
      val p = Paths.get(dir, v, "_TXN")
      if (!Files.exists(p)) Seq.empty
      else Files.readAllLines(p).asScala.flatMap { line =>
        line.split("\t", 2) match {
          case Array(a, ver) if a == appId && ver.nonEmpty && ver.forall(_.isDigit) =>
            Some(ver.toLong)
          case _ => None
        }
      }
    }
    if (stamps.isEmpty) None else Some(stamps.max)
  }

  /** Idempotent [[swap]] — the Delta `txn`-action shape that makes a
    * `foreachBatch` sink into a versioned table EXACTLY-ONCE across
    * checkpoint replays: the writer names its stream (`appId`) and a
    * monotone version (the epoch/batch id); a commit whose version is
    * not beyond the last stamped one is a NO-OP (returns false). The
    * stamp file is written into the staged version dir BEFORE the
    * rename, so data and stamp publish in the same atomic move — a
    * crash can never commit one without the other, which is exactly the
    * window a root-level txn manifest would reopen. Same single-writer
    * contract as [[swap]] per (dir, appId). Retention contract (same as
    * Delta's): the stamp rides its version dir, so vacuum must retain
    * at least the writer's replay window — with per-commit stamping the
    * newest version always carries the newest stamp, which vacuum never
    * deletes. */
  def swapWithTxn(spark: SparkSession, df: DataFrame, dir: String,
      appId: String, txnVersion: Long): Boolean = {
    require(!appId.exists(c => c == '\t' || c == '\n' || c == '/'),
      s"txn appId may not contain tab/newline/slash: '$appId'")
    if (lastTxnVersion(dir, appId).exists(_ >= txnVersion)) return false
    Files.createDirectories(Paths.get(dir))
    val staging = s".staging-${java.util.UUID.randomUUID}"
    // Slot claim under the per-table occLock like every publisher; the
    // idempotency stamp is re-checked inside the lock so a replayed
    // commit racing itself cannot double-publish. Staging is reclaimed
    // on every non-publish outcome (lost race OR write/publish failure).
    try {
      df.write.mode("overwrite").parquet(s"$dir/$staging")
      Files.writeString(Paths.get(dir, staging, "_TXN"), s"$appId\t$txnVersion\n")
      publishStagedLocked(dir, Paths.get(dir, staging), validate = () => {
        if (lastTxnVersion(dir, appId).exists(_ >= txnVersion))
          throw new ConcurrentWriteException(
            s"$dir already carries $appId txn >= $txnVersion")
      })
      true
    } catch {
      case _: ConcurrentWriteException =>
        VersionNames.deleteTree(Paths.get(dir, staging))
        false
      case e: Throwable =>
        try VersionNames.deleteTree(Paths.get(dir, staging))
        catch { case _: Exception => () }
        throw e
    }
  }
}
