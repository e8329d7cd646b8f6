package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.FooterSchemas

/** STREAMING change data feed for the versioned snapshot table — the
  * Delta `readChangeFeed` streaming-source semantics
  * (reference consumes this from Delta; db/query_scd1_table.sql:157-158
  * is the batch spelling, `ScdType1MergeApp.scala:48-50` the streaming
  * one) on the same commit protocol Delta itself uses: CHANGE FILES ARE
  * WRITTEN AT COMMIT, and a streaming reader discovers them as files.
  *
  *  - [[publish]] commits `df` as the table's next version (the normal
  *    `ParquetTable.swap`) and writes that version's key-wise diff vs
  *    the previous snapshot under `dir/_cdf/v<id>/` — staged to a
  *    scratch dir and MOVED into place, so the file-source listing
  *    never sees a half-written change set. The diff reuses the batch
  *    differ (`ParquetTable.changeFeed`), so the streamed rows are
  *    definitionally consistent with the batch `table_changes()`
  *    surface. The two directory operations cannot be one atomic
  *    commit without a Delta-style log, so the feed is SELF-HEALING
  *    instead: every publish first backfills change files for any
  *    already-committed version that lacks them (a crash between swap
  *    and move leaves a gap only until the next publish), and a failed
  *    change-file write cleans up its staging dir and raises rather
  *    than leaving junk beside the table.
  *  - [[changeFeedStream]] is just `spark.readStream.parquet` over the
  *    `_cdf` tree: Spark's file source gives exactly-once delivery per
  *    change file via the checkpoint's seen-files log — restart-safe,
  *    no custom Source implementation to maintain. At 100 TB this is
  *    the same shape Delta CDF runs: change files are a fraction of
  *    the table, readers never rescan snapshots, and the source's
  *    maxFilesPerTrigger paces backfill.
  *
  * The diff-at-publish cost is one full-outer join of adjacent
  * snapshots per commit — the price of CDF on a snapshot-per-swap
  * table without per-row commit logs. Tables that publish via
  * accumulating appends (the `order_stream` sink) don't need this:
  * their append IS the change feed.
  */
object ChangeFeedTable {

  private def cdfDir(dir: String) = Paths.get(dir, "_cdf")

  /** Commit `df` as the next version and write its change files. Also
    * backfills change files for any earlier committed version that
    * lacks them (the crash-window repair — see the object doc). */
  def publish(spark: SparkSession, df: DataFrame, dir: String,
      keyCols: Seq[String]): Long = {
    backfillMissing(spark, dir, keyCols)
    val id = ParquetTable.swap(spark, df, dir)
    val names = ParquetTable.snapshots(dir)
    writeChangeFiles(spark, dir, keyCols, names, names.indexOf(VersionNames.format(id)))
    id
  }

  /** Write `_cdf/v<name>` for `names(idx)`, where `names` is one read of
    * the table's version list (newest first), so the version and its
    * predecessor come from the same read: the diff vs the next older
    * version, or, for the oldest, the whole snapshot as inserts (Delta
    * CDF's convention for the feed's first version). */
  private def writeChangeFiles(spark: SparkSession, dir: String,
      keyCols: Seq[String], names: Seq[String], idx: Int): Unit = {
    val vName = names(idx)
    val changes =
      if (idx == names.size - 1)
        ParquetTable.readLive(spark, dir, vName).withColumn("_change_type", lit("insert"))
      else
        ParquetTable.changesBetween(spark, dir, names(idx + 1), vName, keyCols)
    val staged = Files.createTempDirectory(Paths.get(dir), "_cdf-stage-")
    try {
      val stagedOut = staged.resolve("out")
      changes.withColumn("_commit_version", lit(VersionNames.idOf(vName)))
        .write.parquet(stagedOut.toString)
      val target = cdfDir(dir).resolve(s"v$vName")
      Files.createDirectories(cdfDir(dir))
      // One rename publishes the whole change set: the streaming file
      // source lists `_cdf/*/*.parquet`, so nothing under the staging
      // path (a sibling of `_cdf`, not inside it) is ever visible early.
      Files.move(stagedOut, target, StandardCopyOption.ATOMIC_MOVE)
    } finally {
      // Success leaves an empty scratch dir; failure leaves partial
      // parquet — delete the tree either way, then rethrow naturally.
      VersionNames.deleteTree(staged)
    }
  }

  /** Backfill change files for committed versions that lack them —
    * repairs the swap-vs-move crash window so the feed never carries a
    * permanent silent gap. Oldest-first so a reader that starts midway
    * still sees commits in order. The version list holds only published
    * versions: an orphan (moved, never published) is invisible, and the
    * next commit reclaims its slot. */
  private def backfillMissing(spark: SparkSession, dir: String,
      keyCols: Seq[String]): Unit = {
    val names = ParquetTable.snapshots(dir) // newest first
    names.indices.reverse.foreach { idx =>
      if (!Files.isDirectory(cdfDir(dir).resolve(s"v${names(idx)}")))
        writeChangeFiles(spark, dir, keyCols, names, idx)
    }
  }

  /** The streaming change feed: every change file ever committed, then
    * new ones as [[publish]] commits them. Schema = table columns +
    * `_change_type` + `_commit_version`. Exactly-once per file via the
    * checkpoint's file log; resume after restart picks up only unseen
    * commits (ChangeFeedStreamSpec).
    *
    * A feed whose head was RETIRED by vacuum (`_TRUNCATED` marker) no
    * longer replays a consistent full history — a fresh reader starting
    * here would see diffs with no base. Refuse loudly and point at
    * [[changeFeedStreamFromSnapshot]], which is how Delta's streaming
    * CDF default handles the same situation (initial snapshot as
    * inserts, then the tail). ALREADY-RUNNING readers are unaffected by
    * retirement: the file source never re-lists files its checkpoint
    * has seen, so deleting consumed change files is invisible to them. */
  def changeFeedStream(spark: SparkSession, dir: String,
      resume: Boolean = false): DataFrame = {
    val p = cdfDir(dir)
    require(Files.isDirectory(p),
      s"no change feed at $dir — publish through ChangeFeedTable.publish")
    // `resume = true` is the caller's assertion that an existing
    // checkpoint has already consumed past the truncation point — the
    // plan is built before any checkpoint is visible, so the reader has
    // to say which case it is. A fresh reader must not silently start
    // mid-history.
    require(resume || !Files.exists(truncatedMarker(dir)),
      s"change feed at $dir was truncated by vacuum — a fresh reader cannot " +
        "replay full history; start with changeFeedStreamFromSnapshot " +
        "(current snapshot as inserts + tail), or pass resume=true when " +
        "restarting on a checkpoint that predates the truncation")
    // `_cdf`'s children are vNNN dirs (not key=value partitions), so the
    // schema probe must glob into them — a read of the root finds no
    // footers.
    val schema = FooterSchemas.read(spark, s"${p.toString}/*").schema
    spark.readStream.schema(schema).parquet(s"${p.toString}/*")
  }

  /** Fresh-reader start over a (possibly truncated) feed — Delta's
    * streaming-CDF default semantics: the CURRENT snapshot arrives as
    * one batch of `insert` rows stamped with its commit version, then
    * only commits AFTER it stream from the change files. Union of two
    * file sources: the pinned snapshot dir (immutable — emitted once,
    * never again) and the `_cdf` tree filtered to later commits; the
    * pin means no overlap and no gap even if a publish races the start.
    * Contract (same as Delta): the bootstrap snapshot dir must stay
    * within the vacuum retention window while this stream runs. */
  def changeFeedStreamFromSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val p = cdfDir(dir)
    require(Files.isDirectory(p),
      s"no change feed at $dir — publish through ChangeFeedTable.publish")
    val curPath = ParquetTable.currentPath(dir)
    val curId = VersionNames.idOf(
      Paths.get(curPath).getFileName.toString)
    val snapSchema = FooterSchemas.read(spark, curPath).schema
    val boot = spark.readStream.schema(snapSchema).parquet(curPath)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(curId))
    val feedSchema = FooterSchemas.read(spark, s"${p.toString}/*").schema
    val tail = spark.readStream.schema(feedSchema).parquet(s"${p.toString}/*")
      .filter(col("_commit_version") > curId)
    boot.unionByName(tail)
  }

  /** Batch view of the same change files (the `table_changes` dual over
    * the at-commit feed — no snapshot diffing at read time). */
  def changeFeedBatch(spark: SparkSession, dir: String): DataFrame =
    FooterSchemas.read(spark, s"${cdfDir(dir).toString}/*")

  private def truncatedMarker(dir: String) = cdfDir(dir).resolve("_TRUNCATED")

  /** Retention hook, called by `ParquetTable.vacuum*` with the snapshot
    * version names it deleted: retire those versions' change dirs and
    * drop the `_TRUNCATED` marker recording the highest retired id.
    * Underscore-prefixed, so neither the streaming glob nor the batch
    * read ever lists it as data. No feed → no-op. */
  def onVersionsVacuumed(dir: String, droppedVersionNames: Seq[String]): Unit = {
    if (!Files.isDirectory(cdfDir(dir))) return
    val retired = droppedVersionNames
      .map(v => cdfDir(dir).resolve(s"v$v"))
      .filter(Files.isDirectory(_))
    if (retired.isEmpty) return
    retired.foreach(VersionNames.deleteTree)
    val highest = droppedVersionNames.map(VersionNames.idOf).max
    val prior = if (Files.exists(truncatedMarker(dir)))
      scala.util.Try(Files.readString(truncatedMarker(dir)).trim.toLong).getOrElse(0L)
    else 0L
    VersionNames.replaceFile(truncatedMarker(dir), math.max(prior, highest).toString)
  }

  /** Bin-pack each retained change dir toward the file-health target
    * (streaming writers leave one file set per trigger/partition; the
    * feed's read cost at 100 TB is open/seek per file, same as any
    * table). Reuses the crash-recoverable `Compaction.compact` rewrite
    * per commit dir — commit boundaries are never merged. Contract
    * (same as vacuum's): run it for change sets all live readers have
    * already passed — a rewritten dir presents NEW file names, which a
    * checkpoint that had consumed the old ones would re-emit. */
  def compactFeed(spark: SparkSession, dir: String,
      targetBytes: Long = Compaction.DefaultTargetBytes): Seq[(String, Compaction.CompactionStats)] = {
    val p = cdfDir(dir)
    if (!Files.isDirectory(p)) return Seq.empty
    val st = Files.list(p)
    val dirs = try st.iterator().asScala.toSeq finally st.close()
    dirs.filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("v"))
      .sortBy(_.getFileName.toString)
      .map(d => d.getFileName.toString ->
        Compaction.compact(spark, d.toString, targetBytes))
  }
}
