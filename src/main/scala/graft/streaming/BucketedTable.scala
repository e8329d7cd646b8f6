package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.scd.MergeExecutor

/** Hash-bucketed snapshot table: the 100 TB answer to "no Delta means the
  * merge rewrites the whole table".
  *
  * Layout: `dir/bucket=<i>/v<id>/part-*.parquet`, plus a `_MANIFEST` file
  * mapping every non-empty bucket to its live version. A merge:
  *  1. computes the affected buckets from the source keys
  *     (`pmod(hash(key), numBuckets)`);
  *  2. reads ONLY those buckets' current data (a bucket absent from the
  *     manifest simply has no rows), merges with clause-ordered
  *     MergeExecutor semantics, writes each as a new bucket version;
  *  3. rewrites `_MANIFEST` via tmp + atomic rename — the whole-table
  *     snapshot flips in one filesystem operation; unchanged buckets are
  *     reused by reference, no data copied.
  *
  * A micro-batch touching k of N buckets rewrites k/N of the table.
  * Readers load the manifest once and union the live bucket paths; a
  * point lookup on the merge key computes its bucket and reads one path.
  */
object BucketedTable {

  private def manifestPath(dir: String) = Paths.get(dir, "_MANIFEST")

  def exists(dir: String): Boolean = Files.exists(manifestPath(dir))

  /** bucket -> live version dir name (only non-empty buckets appear). */
  def manifest(dir: String): Map[Int, String] =
    Files.readAllLines(manifestPath(dir)).asScala
      .filter(_.nonEmpty)
      .map { line => val Array(b, v) = line.split(":", 2); b.toInt -> v }
      .toMap

  private def writeManifest(dir: String, m: Map[Int, String]): Unit =
    VersionNames.replaceFile(manifestPath(dir),
      m.toSeq.sortBy(_._1).map { case (b, v) => s"$b:$v" }.mkString("\n"))

  def bucketOf(keyCol: String, numBuckets: Int) =
    pmod(hash(col(keyCol)), lit(numBuckets))

  def read(spark: SparkSession, dir: String): DataFrame = {
    val paths = manifest(dir).toSeq.sortBy(_._1)
      .map { case (b, v) => s"$dir/bucket=$b/$v" }
    spark.read.parquet(paths: _*)
  }

  /** Union of the live data of `buckets`; None when none of them has data. */
  def readBuckets(spark: SparkSession, dir: String, buckets: Seq[Int]): Option[DataFrame] = {
    val m = manifest(dir)
    val paths = buckets.flatMap(b => m.get(b).map(v => s"$dir/bucket=$b/$v"))
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** All version dirs currently on disk for `bucket`, any liveness. */
  private def bucketVersions(dir: String, bucket: Int): Seq[String] =
    VersionNames.childNames(Paths.get(s"$dir/bucket=$bucket"))
      .filter(VersionNames.isVersionDir)

  /** Next monotonic version id: max over every bucket's on-disk versions
    * + 1, zero-padded (stable across restarts — same rationale as
    * ParquetTable). */
  private def nextVersion(dir: String, numBuckets: Int): String = {
    val maxId = (0 until numBuckets)
      .flatMap(b => bucketVersions(dir, b))
      .map(VersionNames.idOf)
      .foldLeft(0L)(math.max)
    VersionNames.format(maxId + 1)
  }

  /** Stage `df` partitioned by bucket under a fresh version id and move
    * each bucket dir into place; returns bucket -> version for the
    * buckets that actually contain data. */
  private def stage(df: DataFrame, dir: String, keyCol: String, numBuckets: Int): Map[Int, String] = {
    val ver = nextVersion(dir, numBuckets)
    val staging = s"$dir/staging-$ver"
    df.withColumn("bkt", bucketOf(keyCol, numBuckets))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(staging)
    val moved = (0 until numBuckets).flatMap { b =>
      val src = Paths.get(s"$staging/bkt=$b")
      if (Files.exists(src)) {
        val dst = Paths.get(s"$dir/bucket=$b/$ver")
        Files.createDirectories(dst.getParent)
        Files.move(src, dst)
        Some(b -> ver)
      } else None
    }.toMap
    // best-effort cleanup of the staging skeleton (_SUCCESS etc.)
    try VersionNames.deleteTree(Paths.get(staging)) catch { case _: Exception => () }
    moved
  }

  /** Full-table (re)write. */
  def bootstrap(spark: SparkSession, df: DataFrame, dir: String, keyCol: String, numBuckets: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    writeManifest(dir, stage(df, dir, keyCol, numBuckets))
  }

  /** Incremental merge: only buckets containing source keys are read,
    * merged and rewritten; the manifest flip publishes atomically. */
  def merge(spark: SparkSession, source: DataFrame, dir: String, keyCol: String, numBuckets: Int): Unit = {
    // The source plan is evaluated twice (affected-bucket discovery, then
    // the staged merge write) — persist it for the merge's duration so an
    // expensive upstream (e.g. the batch flattener's aggregate) runs once.
    // Micro-batch scale: bounded by the batch, not the table.
    val src = source.withColumn("bkt", bucketOf(keyCol, numBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affected = src.select("bkt").distinct().collect().map(_.getInt(0)).sorted.toSeq
      if (affected.isEmpty) return
      val target = readBuckets(spark, dir, affected).getOrElse(source.limit(0))
      val merged = MergeExecutor.merge(target, src.drop("bkt"))
      writeManifest(dir, manifest(dir) ++ stage(merged, dir, keyCol, numBuckets))
    } finally { src.unpersist(blocking = false); () }
  }

  /** Drop every bucket version the manifest no longer references — the
    * merge stream publishes a new version per touched bucket and this
    * reclaims the superseded ones (mirrors ParquetTable.vacuum; the
    * reference gets this from Delta VACUUM, db/table_maintenance.sql).
    * Single-writer table: run from the owning stream between batches.
    * In-flight readers that loaded the manifest before the last flip can
    * race a concurrent vacuum — same read-vs-vacuum window Delta has
    * with a zero retention interval. */
  def vacuum(dir: String, numBuckets: Int): Unit = {
    val live = manifest(dir)
    (0 until numBuckets).foreach { b =>
      bucketVersions(dir, b).filterNot(live.get(b).contains(_)).foreach { v =>
        VersionNames.deleteTree(Paths.get(s"$dir/bucket=$b/$v"))
      }
    }
  }
}
