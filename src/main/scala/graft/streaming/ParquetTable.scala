package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.tables.FooterSchemas

/** Shared snapshot-version naming: zero-padded monotonic ids, parsed and
  * ordered numerically (immune to digit-count differences between naming
  * epochs). One definition for ParquetTable and BucketedTable — the two
  * must never disagree on what a version dir is called. */
private[graft] object VersionNames {
  def isVersionDir(name: String): Boolean =
    name.startsWith("v") && name.length > 1 && name.drop(1).forall(_.isDigit)
  def idOf(name: String): Long = name.drop(1).toLong
  def format(id: Long): String = f"v$id%020d"

  /** Direct child names of `dir` (empty if absent) — closes the stream. */
  def childNames(dir: java.nio.file.Path): Seq[String] = {
    if (!Files.exists(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Recursive delete — closes the walk stream. */
  def deleteTree(root: java.nio.file.Path): Unit = {
    val s = Files.walk(root)
    val paths = try s.iterator().asScala.toSeq finally s.close()
    paths.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Replace the small file `path` with `text` in one atomic move. The
    * temp file's name is private to the writer: two unlocked writers
    * sharing one temp name could publish each other's half-written
    * file, or find it already moved away. */
  def replaceFile(path: java.nio.file.Path, text: String): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp-${java.util.UUID.randomUUID}")
    try {
      Files.writeString(tmp, text)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally { Files.deleteIfExists(tmp); () }
  }
}

/** Atomic snapshot table over a parquet directory: write to a tmp dir,
  * then swap via rename (readers resolve the `current` symlink-style
  * pointer — here a versioned subdir named by a monotonically increasing
  * id, with a marker file designating the live one).
  *
  * Version ids are a PERSISTED monotonic counter (the slot rule of
  * [[commit]], the one door every version passes through), zero-padded
  * so lexical and numeric order agree — stable across JVM restarts (a
  * nanoTime-style name would reset to an arbitrary per-JVM origin and
  * reorder history). A `_HISTORY` manifest records the publish
  * wall-clock per version.
  *
  * Every superseded version stays on disk until `vacuum`, which gives
  * time travel for free (the reference gets it from Delta,
  * db/query_table.sql:173-178). Every reader of that history takes its
  * versions from one list, [[publishedVersions]]; a version dir outside
  * it is a crashed writer's orphan, seen only by the door and vacuum. */
object ParquetTable {

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

  /** The live snapshot's files, read plainly: deletion vectors are not
    * applied (see [[readMoR]]). The schema comes from memoized footers
    * ([[graft.tables.FooterSchemas]]), with no Spark job. */
  def read(spark: SparkSession, dir: String): DataFrame =
    FooterSchemas.read(spark, currentPath(dir))

  /** The published version names, newest first: [[publishedVersions]]
    * without the timestamps. */
  def snapshots(dir: String): Seq[String] = publishedVersions(dir).map(_._1)

  /** Time travel: read the nth-newest snapshot (0 == current). */
  def readSnapshot(spark: SparkSession, dir: String, n: Int): DataFrame =
    FooterSchemas.read(spark, s"$dir/${snapshots(dir)(n)}")

  /** The one version list: (version name, publish epoch-millis), newest
    * first by numeric id. It holds the `_HISTORY` lines whose dirs are
    * on disk, plus the live local version when its line is missing (the
    * pointer flip precedes the append), stamped with `_CURRENT`'s mtime.
    * A shallow clone's pointer is a path into its source and never
    * listed. Torn lines are skipped, never thrown on. */
  def publishedVersions(dir: String): Seq[(String, Long)] = versionList(dir)._1

  /** [[publishedVersions]], and the live version in it whose line is missing. */
  private def versionList(dir: String): (Seq[(String, Long)], Option[(String, Long)]) = {
    val onDisk = versionDirs(dir).toSet
    val logged =
      if (!Files.exists(history(dir))) Seq.empty
      else Files.readAllLines(history(dir)).asScala.toSeq
        .flatMap { line =>
          line.split("\t", 2) match {
            case Array(v, ts) if onDisk(v) && ts.nonEmpty && ts.forall(_.isDigit) => Some(v -> ts.toLong)
            case _ => None // torn/garbage line, or a vacuumed version: skip, never throw
          }
        }
    val cur = currentVersion(dir)
    val unlogged =
      if (!onDisk(cur) || logged.exists(_._1 == cur)) None
      else Some(cur -> Files.getLastModifiedTime(pointer(dir)).toMillis)
    ((logged ++ unlogged).sortBy { case (v, _) => -VersionNames.idOf(v) }, unlogged)
  }

  /** Every version dir on disk, published or not: the list's on-disk
    * check and vacuum's drop list. No reader looks past the list. */
  private def versionDirs(dir: String): Seq[String] =
    VersionNames.childNames(Paths.get(dir)).filter(VersionNames.isVersionDir)

  /** TIMESTAMP AS OF: read the newest snapshot published at or before
    * `tsMillis`. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    FooterSchemas.read(spark, s"$dir/${versionAsOf(dir, tsMillis)}")

  /** The name of the newest version published at or before `tsMillis`. */
  private[graft] def versionAsOf(dir: String, tsMillis: Long): String =
    publishedVersions(dir).find(_._2 <= tsMillis).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no snapshot in $dir at or before epoch-millis $tsMillis"))

  /** RESTORE: republish the nth-newest snapshot as a NEW version (like
    * Delta RESTORE, which commits the rollback rather than rewriting
    * history — `snapshots` keeps the bad version for forensics until
    * vacuum). */
  def restore(spark: SparkSession, dir: String, n: Int): Long =
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
    VersionNames.replaceFile(pointer(dstDir), src.toString)
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
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val cur = Paths.get(currentPath(dir))
    requireNoDv(cur, "deleteWhere")
    val hit = coalesce(expr(predicate), lit(false))
    val (touched, deleted) = filesMatching(readWith(spark, readSchema, cur.toString), hit)
    if (touched.isEmpty) return 0L
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

  /** The data files of `df`, a read of one version dir, that hold rows
    * where `hit` is true (by file name), and how many such rows there
    * are. One pass; the collect is bounded by the file count, never the
    * row count. */
  private[graft] def filesMatching(df: DataFrame, hit: Column): (Set[String], Long) = {
    import org.apache.spark.sql.functions.col
    val hits = df.filter(hit).groupBy(col("_metadata.file_path").as("f")).count().collect()
    (hits.map(r => Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString).toSet,
      hits.map(_.getLong(1)).sum)
  }

  /** The one commit door: every version of a table is published here.
    *
    *  1. Create a writer-private `.staging-*` dir in the table root.
    *  2. Hard-link `linkFrom`'s data files into it, minus `excluded`
    *     (copy across filesystems).
    *  3. Run the caller's `write` into it, outside the lock: holding the
    *     lock over the expensive part would only widen the window.
    *  4. Under the per-table lock: run `validate` (throw to abandon),
    *     log the live version if its `_HISTORY` line is missing, claim
    *     the next version slot, move staging into it, publish.
    *  5. On any failure, reclaim the staging dir (vacuum never touches
    *     dot-dirs) and rethrow. Only a process crash leaves an orphan,
    *     and readers never see it (CommitDoorSpec).
    *
    * Slot rule: next id = 1 + max(the ids of [[publishedVersions]] and
    * `base`'s id when given). An unpublished
    * occupant of that slot is a crashed writer's orphan (moved, never
    * published), unreachable forever: it is reclaimed, or the table
    * would be stuck on that id. A published occupant can only be a
    * writer outside this JVM: the commit fails and deletes nothing.
    *
    * `base` is the caller's OCC expectation, the version dir its write
    * was derived from. If the live pointer no longer resolves to it, or
    * a version past it was published, the commit fails with
    * [[ConcurrentWriteException]] and publishes nothing: publishing the
    * linked file set over a table that moved would silently drop the
    * interleaved writer's commit. Resolved paths are compared, so an
    * undiverged shallow clone (whose pointer is a path into its source)
    * does not conflict with itself, and its first commit continues the
    * source's numbering locally. Returns the published id. */
  private def commit(
      dir: String,
      base: Option[Path] = None,
      linkFrom: Option[Path] = None,
      excluded: Set[String] = Set.empty,
      validate: () => Unit = () => ())(write: Path => Unit): Long = {
    val staging = Paths.get(dir, s".staging-${java.util.UUID.randomUUID}")
    try {
      Files.createDirectories(staging)
      linkFrom.foreach { from =>
        VersionNames.childNames(from).filter(n => n.endsWith(".parquet") && !excluded(n))
          .foreach { n =>
            val (src, dst) = (from.resolve(n), staging.resolve(n))
            try { Files.createLink(dst, src); () }
            catch { case _: Exception => Files.copy(src, dst); () }
          }
      }
      write(staging)
      locked(dir) {
        validate()
        val (listed, unlogged) = versionList(dir)
        unlogged.foreach { case (v, ts) => appendHistory(dir, v, ts) }
        val published = listed.map { case (v, _) => VersionNames.idOf(v) }
        val baseId = base.map(b => VersionNames.idOf(b.getFileName.toString))
        base.foreach { b =>
          val live = Paths.get(currentPath(dir)).toAbsolutePath.normalize
          if (live != b.toAbsolutePath.normalize || published.exists(_ > baseId.get))
            throw new ConcurrentWriteException(
              s"$dir moved ${b.getFileName} -> ${live.getFileName} during the write; " +
                "the statement was NOT applied — re-read and retry")
        }
        val next = VersionNames.format((published ++ baseId).maxOption.getOrElse(0L) + 1)
        val target = Paths.get(dir, next)
        if (Files.exists(target)) {
          if (published.contains(VersionNames.idOf(next)))
            throw new ConcurrentWriteException(
              s"$dir version slot $next was published concurrently " +
                "(out-of-process writer?); the statement was NOT applied — re-read and retry")
          VersionNames.deleteTree(target)
        }
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        publish(dir, next)
        VersionNames.idOf(next)
      }
    } catch {
      case e: Throwable =>
        try VersionNames.deleteTree(staging) catch { case _: Exception => () }
        throw e
    }
  }

  /** Copy-on-write commit of a row-level rewrite: every data file of
    * `cur` except `excluded` links forward, `write` adds the rewritten
    * and new files, and `cur` is the OCC base (ConcurrentDmlSpec).
    * Returns the published version id. */
  private[graft] def commitCow(dir: String, cur: Path,
      excluded: Set[String])(write: Path => Unit): Long =
    commit(dir, base = Some(cur), linkFrom = Some(cur), excluded = excluded)(write)

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
    // `exists` is checked again under the lock: two concurrent adopts
    // race on it, never on a half-linked version dir.
    commit(dir, linkFrom = Some(root), validate = () =>
      require(!exists(dir), s"adopt: $dir is already a versioned table"))(_ => ())
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
    val df = FooterSchemas.read(spark, cur.toString)
    val n = df.count() // answered from parquet footers, not a data scan
    // limit(0) keeps the schema; the single empty partition still emits
    // one footer-only part file, so readers of the new snapshot resolve
    // the schema without any special empty-table casing.
    commit(dir)(staging =>
      df.limit(0).repartition(1).write.mode("overwrite").parquet(staging.toString))
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
      val (touched, deleted) = filesMatching(df, hit)
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
    val (touched, updated) = filesMatching(df, hit)
    if (touched.isEmpty) return 0L
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
    val loaded = stampLines(dir, "_COPY").filter(_.nonEmpty).toSet
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
    withoutDeleted(spark, cur, plainRead(spark, cur, readSchema))
  }

  private def plainRead(spark: SparkSession, versionDir: java.nio.file.Path,
      readSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    readSchema match {
      case Some(sch) => spark.read.schema(sch).parquet(versionDir.toString)
      case None      => FooterSchemas.read(spark, versionDir.toString)
    }

  /** `scan`, a plain read of the files of `versionDir`, minus the rows
    * its deletion vectors name. A dir without a `_dv` store costs one
    * directory check, and `scan` comes back as it was. */
  private[graft] def withoutDeleted(spark: SparkSession, versionDir: java.nio.file.Path,
      scan: DataFrame): DataFrame =
    readDv(spark, versionDir) match {
      case None => scan
      case Some(dv) => minusDv(tagged(scan), dv).drop("_file", "_rid")
    }

  /** Version dir `v` of the table at `dir`, minus its deletion vectors. */
  private[graft] def readLive(spark: SparkSession, dir: String, v: String): DataFrame = {
    val versionDir = Paths.get(dir, v)
    withoutDeleted(spark, versionDir, FooterSchemas.read(spark, versionDir.toString))
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
    if (Files.isDirectory(dv)) Some(FooterSchemas.read(spark, dv.toString)) else None
  }

  /** Snapshot rows tagged with (_file, _rid) scan positions, minus any
    * deletion vectors. */
  private def liveRows(spark: SparkSession, versionDir: java.nio.file.Path): DataFrame = {
    val rows = tagged(plainRead(spark, versionDir, None))
    readDv(spark, versionDir).fold(rows)(minusDv(rows, _))
  }

  private def minusDv(tagged: DataFrame, dv: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    tagged.join(broadcast(dv),
      tagged("_file") === dv("file") && tagged("_rid") === dv("row_index"),
      "left_anti")
  }

  /** A scan's rows with their position: file NAME (stable across the
    * hard-link generations) + in-file row index. */
  private def tagged(scan: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    scan
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
    val names = snapshots(dir)
    changesBetween(spark, dir, names(fromN), names(toN), keyCols)
  }

  /** [[changeFeed]] between the version dirs named `from` and `to`, each
    * read minus its deletion vectors.
    * Callers resolve both names from one read of the version list: two
    * listings could straddle a publish and diff the wrong pair. */
  private[graft] def changesBetween(
      spark: SparkSession, dir: String, from: String, to: String,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct, when}
    val oldDf = readLive(spark, dir, from)
    val newDf = readLive(spark, dir, to)
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
  def vacuum(dir: String, keep: Int = 1): Seq[String] =
    drop(dir)(vacuumDryRun(dir, keep))

  /** VACUUM ... DRY RUN (reference db/table_maintenance.sql:13): the
    * version names [[vacuum]] WOULD delete, without touching anything.
    * Counts every version dir on disk, so an unpublished orphan is
    * reclaimed like a superseded version. */
  def vacuumDryRun(dir: String, keep: Int = 1): Seq[String] =
    droppable(dir, versionDirs(dir).sortBy(v => -VersionNames.idOf(v)).drop(math.max(keep, 1)))

  /** Time-based retention — VACUUM ... RETAIN n HOURS (reference
    * db/table_maintenance.sql:16, Delta's 168h default): drop superseded
    * snapshots whose publish time (from `_HISTORY`) is older than
    * `retainMillis` before `nowMillis`. The live version is always kept;
    * versions missing a history line (torn write) are kept conservatively. */
  def vacuumRetain(dir: String, retainMillis: Long, nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    drop(dir)(vacuumRetainDryRun(dir, retainMillis, nowMillis))

  /** VACUUM ... RETAIN n HOURS DRY RUN: the names [[vacuumRetain]]
    * would delete, without touching anything. */
  def vacuumRetainDryRun(
      dir: String, retainMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    droppable(dir, publishedVersions(dir).collect { case (v, ts) if ts < nowMillis - retainMillis => v })

  /** `versions` minus the live one and the ones a tag pins. */
  private def droppable(dir: String, versions: Seq[String]): Seq[String] = {
    val current = currentVersion(dir)
    val pinned = graft.tables.Tags.protectedIds(dir)
    versions.filter(v => v != current && !pinned(VersionNames.idOf(v)))
  }

  /** Vacuum's one drop step, under the per-table lock. Each doomed
    * version is unpublished by one atomic rename to a `.vacuum-*` dir,
    * which no reader lists, before it is deleted file by file: a crash
    * mid-delete must not leave a partial version that `_HISTORY` still
    * names. Leftover `.vacuum-*` dirs of a crashed vacuum go too. */
  private def drop(dir: String)(doomed: => Seq[String]): Seq[String] = locked(dir) {
    val gone = doomed
    gone.foreach(v => Files.move(Paths.get(dir, v),
      Paths.get(dir, s".vacuum-$v-${java.util.UUID.randomUUID}"), StandardCopyOption.ATOMIC_MOVE))
    VersionNames.childNames(Paths.get(dir)).filter(_.startsWith(".vacuum-"))
      .foreach(n => VersionNames.deleteTree(Paths.get(dir, n)))
    ChangeFeedTable.onVersionsVacuumed(dir, gone)
    FooterSchemas.forget(gone.map(v => s"$dir/$v"))
    gone
  }

  /** Write a new snapshot version and atomically repoint `_CURRENT`,
    * through [[commit]]. Last-writer-wins by design (no read-snapshot
    * expectation); for optimistic validation use [[swapIfCurrent]].
    * Returns the published version id. */
  def swap(spark: SparkSession, df: DataFrame, dir: String): Long =
    commit(dir)(staging => df.write.mode("overwrite").parquet(staging.toString))

  /** Thrown by [[swapIfCurrent]] when another writer published first. */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** Optimistic-concurrency swap: the caller names the version its
    * transformation READ (`expectedVersion`, from [[currentVersion]]);
    * the publish is abandoned if any other writer committed in between —
    * the lakehouse optimistic protocol (read snapshot → write files →
    * validate → commit or retry). The staged candidate is reclaimed, the
    * caller re-reads and retries. Validation happens under the per-table
    * JVM lock so two LOCAL writers cannot both pass; cross-process
    * safety additionally rides on the atomic `_CURRENT` move. */
  def swapIfCurrent(
      spark: SparkSession, df: DataFrame, dir: String, expectedVersion: String): Unit = {
    commit(dir, validate = () => {
      val cur = currentVersion(dir)
      if (cur != expectedVersion)
        throw new ConcurrentWriteException(
          s"$dir moved $expectedVersion -> $cur while writing; re-read and retry")
    })(staging => df.write.mode("overwrite").parquet(staging.toString))
    ()
  }

  /** The live version name (what [[swapIfCurrent]] wants as its
    * expectation), or "" for a not-yet-created table. */
  def currentVersion(dir: String): String =
    if (exists(dir)) Files.readString(pointer(dir)).trim else ""

  private val occLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` under the per-table JVM lock (the door's and vacuum's). */
  private def locked[T](dir: String)(body: => T): T =
    occLocks.computeIfAbsent(Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
      .synchronized(body)

  /** Atomically repoint `_CURRENT` at a fully-written version dir, then
    * append the history line. */
  private def publish(dir: String, next: String): Unit = {
    VersionNames.replaceFile(pointer(dir), next)
    // Publish wall-clock AFTER the pointer flip: a crash in between loses
    // only the history line (the next commit logs it from `_CURRENT`'s
    // mtime), never publishes an unreadable version.
    appendHistory(dir, next, System.currentTimeMillis())
  }

  /** Append one `_HISTORY` line. A crash mid-append leaves a torn last
    * line without its newline: end it first, or this line fuses with it
    * and both are skipped as garbage. */
  private def appendHistory(dir: String, v: String, tsMillis: Long): Unit = {
    val torn = Files.exists(history(dir)) && {
      val f = new java.io.RandomAccessFile(history(dir).toFile, "r")
      try f.length > 0 && { f.seek(f.length - 1); f.read() != '\n' } finally f.close()
    }
    Files.writeString(history(dir), (if (torn) "\n" else "") + s"$v\t$tsMillis\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** Highest writer-transaction version committed for `appId` — the read
    * side of [[swapWithTxn]] (Delta's `txn` action surface). Stamps live
    * INSIDE version dirs (underscore-prefixed, invisible to parquet
    * readers), so the scan is bounded by the retained version count. */
  def lastTxnVersion(dir: String, appId: String): Option[Long] =
    stampLines(dir, "_TXN").flatMap { line =>
      line.split("\t", 2) match {
        case Array(`appId`, ver) if ver.nonEmpty && ver.forall(_.isDigit) => Some(ver.toLong)
        case _ => None
      }
    }.maxOption

  /** The lines of the bookkeeping file `name` (`_TXN`, `_COPY`) across the
    * published versions only: a crashed writer's orphan carries a stamp
    * that was never acknowledged, and trusting it would make a replayed
    * batch or file a silent no-op against data no reader can see. */
  private def stampLines(dir: String, name: String): Seq[String] =
    snapshots(dir).map(v => Paths.get(dir, v, name)).filter(Files.exists(_))
      .flatMap(p => Files.readAllLines(p).asScala)

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
    // The stamp is checked again under the lock, so a replayed commit
    // racing itself cannot publish twice.
    try {
      commit(dir, validate = () =>
        if (lastTxnVersion(dir, appId).exists(_ >= txnVersion))
          throw new ConcurrentWriteException(s"$dir already carries $appId txn >= $txnVersion")
      ) { staging =>
        df.write.mode("overwrite").parquet(staging.toString)
        Files.writeString(staging.resolve("_TXN"), s"$appId\t$txnVersion\n")
      }
      true
    } catch { case _: ConcurrentWriteException => false }
  }
}
