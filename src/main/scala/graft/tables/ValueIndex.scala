package graft.tables

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.ParquetTable

/** Exact file-posting secondary index over one column of a versioned
  * table — the Hyperspace-flavored complement to the two existing
  * skipping structures: [[BloomSkipping]] answers POINT lookups
  * probabilistically (false positives open extra files), and
  * [[StatsSkipping]] answers RANGE scans only when the data is
  * CLUSTERED by the column. The value index answers point and range
  * lookups on an UNCLUSTERED column with zero false positives: only
  * files that truly contain a matching value are opened.
  *
  * Layout: `_VIDX_<col>/` beside the table's version dirs holds the
  * DISTINCT (v, f) postings as parquet, range-partitioned and sorted by
  * v — so a lookup's predicate prunes index row groups via parquet
  * min/max before any posting is read — plus a `_stamp` file naming the
  * indexed table version. Index size is bounded by distinct
  * (value, file) pairs: ≤ rows, and for a column with any repetition
  * far below (the secondary-index trade every warehouse makes; a
  * unique-key index degenerates to rows, which is what it costs
  * everywhere).
  *
  * Freshness (Hyperspace's contract): a lookup whose stamp no longer
  * names the table's LIVE version silently falls back to the full
  * filtered scan — correct, never stale — and [[build]] re-establishes
  * the fast path. Deletion-vector snapshots are refused at build AND
  * lookup (postings point at raw files; opening them without the
  * vectors would resurrect deleted rows).
  *
  * Scale: the build is one distinct + range-write over the snapshot
  * (shuffle bounded by posting count); a lookup reads the pruned index
  * slice, collects a FILE list (bounded by file count, never rows) and
  * opens only those files with the residual predicate pushed down.
  */
object ValueIndex {

  private def idxDir(dir: String, c: String): Path =
    Paths.get(dir, s"_VIDX_${c.toLowerCase}")

  private def requireNoDv(dir: String, op: String): Unit =
    require(!Files.isDirectory(
      Paths.get(ParquetTable.currentPath(dir)).resolve("_dv")),
      s"ValueIndex.$op: snapshot carries deletion vectors — purgeDV first " +
        "(raw-file postings would resurrect deleted rows)")

  /** Recursive delete, shared with GraftSql's DROP INDEX arm and the
    * CDC pipeline's staging cleanup. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Build (or rebuild) the index for `c` over the table's live
    * snapshot. Returns the number of postings written. */
  def build(spark: SparkSession, dir: String, c: String,
      indexPartitions: Int = 8): Long = {
    requireNoDv(dir, "build")
    val cur = ParquetTable.currentPath(dir)
    val out = idxDir(dir, c)
    deleteTree(out)
    val postings = spark.read.parquet(cur)
      .select(col(c).as("v"), col("_metadata.file_name").as("f"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      postings.repartitionByRange(indexPartitions, col("v"))
        .sortWithinPartitions("v")
        .write.mode("overwrite").parquet(out.toString)
      val n = postings.count() // served from the cached postings
      Files.writeString(out.resolve("_stamp"), ParquetTable.currentVersion(dir))
      n
    } finally { postings.unpersist(); () }
  }

  private def parquetNames(p: Path): Set[String] = {
    val ls = Files.list(p)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    finally ls.close()
  }

  /** Incremental maintenance after table commits — the steady-state
    * ingest path. ParquetTable.append hard-links current files (same
    * names) into the next version and lands the batch beside them, so
    * after an APPEND-ONLY delta every existing posting is still valid:
    * only the NEW files are indexed (cost ∝ batch, never table) and
    * their postings land as additional index files (read together;
    * delta row groups are unsorted until the next full [[build]], which
    * re-sorts — same trade StatsSkipping.appendWithStats makes). Any
    * non-append delta (rewrite, delete, vacuumed stamp version, clone
    * pointer) falls back to a full rebuild — correct either way.
    * Returns true iff the fast incremental path was taken. */
  def refreshIncremental(spark: SparkSession, dir: String, c: String): Boolean = {
    val out = idxDir(dir, c)
    val stampP = out.resolve("_stamp")
    if (!Files.exists(stampP)) { build(spark, dir, c); return false }
    val stamped = Files.readString(stampP)
    val liveV = ParquetTable.currentVersion(dir)
    if (stamped == liveV) return true
    requireNoDv(dir, "refreshIncremental")
    val stampedPath = Paths.get(dir, stamped)
    if (stamped.contains("/") || liveV.contains("/") ||
        !Files.isDirectory(stampedPath)) {
      build(spark, dir, c); return false
    }
    val oldFiles = parquetNames(stampedPath)
    val cur = ParquetTable.currentPath(dir)
    val curFiles = parquetNames(Paths.get(cur))
    if (!oldFiles.subsetOf(curFiles)) { build(spark, dir, c); return false }
    val delta = (curFiles -- oldFiles).toSeq.sorted
    if (delta.nonEmpty)
      spark.read.parquet(delta.map(f => s"$cur/$f"): _*)
        .select(col(c).as("v"), col("_metadata.file_name").as("f"))
        .distinct()
        .write.mode("append").parquet(out.toString)
    graft.streaming.VersionNames.replaceFile(stampP, liveV)
    true
  }

  /** True iff an index on `c` exists and names the live version. */
  def fresh(dir: String, c: String): Boolean = {
    val stamp = idxDir(dir, c).resolve("_stamp")
    Files.exists(stamp) &&
      Files.readString(stamp) == ParquetTable.currentVersion(dir)
  }

  /** The files posted for values in [lo, hi] — bounded by file count. */
  private def filesFor(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): Seq[String] =
    spark.read.parquet(idxDir(dir, c).toString)
      .filter(col("v") >= lo && col("v") <= hi)
      .select("f").distinct()
      .collect().map(_.getString(0)).toSeq

  /** All rows with c in [lo, hi]: index-pruned when fresh, full
    * filtered scan otherwise (correct either way). */
  def scanRange(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): DataFrame = {
    // DV refusal guards EVERY path — including the stale-fallback plain
    // read, which would otherwise resurrect deleted rows exactly like a
    // raw ParquetTable.read (whose callers are expected to pick readMoR
    // themselves; a lookup API must not leave that trap open).
    requireNoDv(dir, "scanRange")
    val pred = col(c) >= lo && col(c) <= hi
    if (!fresh(dir, c)) return ParquetTable.read(spark, dir).filter(pred)
    val cur = ParquetTable.currentPath(dir)
    val files = filesFor(spark, dir, c, lo, hi)
    if (files.isEmpty) spark.read.parquet(cur).filter(lit(false))
    else spark.read.parquet(files.map(f => s"$cur/$f"): _*).filter(pred)
  }

  /** Point lookup — the exact twin of BloomSkipping.scanKey. */
  def scanKey(spark: SparkSession, dir: String, c: String, v: Long): DataFrame =
    scanRange(spark, dir, c, v, v)

  /** Files the live snapshot holds (for specs asserting pruning). */
  def snapshotFileCount(dir: String): Int = {
    val ls = Files.list(Paths.get(ParquetTable.currentPath(dir)))
    try ls.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    finally ls.close()
  }

  /** Files a fresh index would open for [lo, hi] (spec hook). */
  def candidateFileCount(spark: SparkSession, dir: String, c: String,
      lo: Long, hi: Long): Int = filesFor(spark, dir, c, lo, hi).size
}
