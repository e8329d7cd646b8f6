package graft.tables

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{ParquetTable, VersionNames}

/** `ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]` for graft
  * path tables (reference db/table_maintenance.sql:38-41) — the catalog
  * statistics layer the reference gets from its warehouse.
  *
  * Two halves, mirroring how a real lakehouse splits the job:
  *
  *  1. COMPUTE — one distributed aggregation pass over the CURRENT
  *     snapshot (read through the evolved `_SCHEMA` manifest, so stats
  *     are keyed by logical column names). Row count, per-column NDV /
  *     null count / min / max / string lengths, all in a single wide
  *     `agg` (Spark plans multi-column exact distinct via Expand — one
  *     shuffle round, map-side partials). At 100 TB flip
  *     `spark.graft.analyze.approxNdv=true` to swap exact
  *     `count_distinct` for HyperLogLog `approx_count_distinct` —
  *     the same trade Spark's own ANALYZE makes by default. The result
  *     is persisted to a `_TABLE_STATS` manifest (tiny TSV, atomic
  *     replace, same discipline as `_PROPS`) stamped with the snapshot
  *     version it measured.
  *
  *  2. CONSUME — [[planRowBytes]] turns the stats into a CBO-style
  *     in-memory size estimate (per-row width from column avg lengths /
  *     type widths — the arithmetic of Catalyst's EstimationUtils), and
  *     [[broadcastWorthy]] makes the join-side decision the file-size
  *     proxy cannot: a footer-heavy or uncompressed layout can be 50×
  *     its logical bytes on disk (so Spark's scan estimate refuses to
  *     broadcast a dimension that trivially fits), while a heavily
  *     compressed one can be 10× bigger in memory (so the proxy
  *     broadcasts something that OOMs the executors). ANALYZE pins the
  *     truth. Decisions are FRESHNESS-GATED: stats measured at version
  *     v feed no plan once the table moves past v — a stale "small"
  *     verdict broadcasting today's 2 TB table is exactly the failure
  *     mode the version stamp exists to prevent.
  *
  * GraftSql's fallback wires this in: registered tables referenced in
  * plain SQL materialize as temp views, wrapped in `broadcast()` when
  * [[broadcastWorthy]] says so — the statement-level spelling of
  * Delta/Hive `ANALYZE` feeding CBO. The catalog-native path (real
  * `spark_catalog` tables, Spark's own ANALYZE + CBO join reorder) is
  * pinned by CboSpec; this component brings the same signal to path
  * tables that live outside the catalog.
  */
object TableStats {

  final case class ColStats(
      ndv: Long,
      nullCount: Long,
      min: String,
      max: String,
      avgLen: Double,
      maxLen: Long)

  final case class Stats(
      stamp: String,
      rowCount: Long,
      sizeBytes: Long,
      cols: Map[String, ColStats])

  /** Atomic (ANALYZE-able) column types — Spark's own ANALYZE rejects
    * the rest, and so do we: min/max over arrays or structs has no
    * cross-engine total order worth persisting. */
  private def atomic(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType | BinaryType => true
    case _ => false
  }

  /** The columns FOR ALL COLUMNS expands to. */
  def atomicColumns(schema: StructType): Seq[String] =
    schema.fields.filter(f => atomic(f.dataType)).map(_.name).toSeq

  /** The CURRENT logical view of either table layout: swap-versioned
    * (`_CURRENT` pointer, data in version dirs) reads the live snapshot
    * through the root `_SCHEMA` manifest; append-layout (SchemaEvolution
    * tables, data at the root) reads the root directly. */
  def readCurrent(s: SparkSession, dir: String): DataFrame =
    if (ParquetTable.exists(dir))
      SchemaEvolution.readEvolvedAt(s, dir, ParquetTable.currentPath(dir))
    else SchemaEvolution.readEvolved(s, dir)

  private def dataFiles(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) return (0L, 0L)
    val st = Files.list(p)
    try {
      val fs = st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally st.close()
  }

  /** Freshness stamp of the current data: the live version id for a
    * swap-versioned table; (file count, total bytes) of the root for an
    * append-layout table — any publish/append moves the stamp, which is
    * what gates plan decisions on stats staleness. */
  private[tables] def currentStamp(dir: String): String =
    if (ParquetTable.exists(dir))
      "v" + graft.streaming.VersionNames.idOf(
        Paths.get(ParquetTable.currentPath(dir)).getFileName.toString)
    else {
      val (n, bytes) = dataFiles(dir)
      s"f$n:$bytes"
    }

  private def snapshotBytes(dir: String): Long =
    dataFiles(
      if (ParquetTable.exists(dir)) ParquetTable.currentPath(dir) else dir)._2

  /** Run the ANALYZE pass over the current snapshot of the table at
    * `dir`; `columns` = Nil analyzes table-level stats only, Some list
    * analyzes those columns, FOR ALL COLUMNS passes every atomic one.
    * Persists `_TABLE_STATS` and returns the computed [[Stats]]. */
  def analyze(s: SparkSession, dir: String, columns: Seq[String],
      pre: Option[DataFrame] = None): Stats = {
    // Stamp captured BEFORE the scan: a commit landing mid-aggregation
    // would otherwise get OLD-snapshot counts stamped with the NEW
    // version and serve as fresh — for broadcast sizing a perf nit, but
    // the metadata-only COUNT(*) path promotes the stamp to answer
    // correctness. Pre-scan capture makes a mid-scan move read as
    // stale, which is safely conservative.
    val preStamp = currentStamp(dir)
    val df = pre.getOrElse(readCurrent(s, dir))
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    columns.foreach { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"ANALYZE: no such column '$c' (have: ${df.columns.mkString(", ")})"))
      require(atomic(f.dataType),
        s"ANALYZE: column '$c' has non-atomic type ${f.dataType.simpleString}")
    }
    val approxNdv =
      s.conf.getOption("spark.graft.analyze.approxNdv").contains("true")
    def ndvAgg(c: String) =
      if (approxNdv) approx_count_distinct(col(c))
      else count_distinct(col(c))
    val colAggs = columns.flatMap { c =>
      val isStr = byName(c).dataType == StringType
      Seq(
        ndvAgg(c).as(s"__ndv_$c"),
        count(col(c)).as(s"__nn_$c"),
        min(col(c)).cast(StringType).as(s"__mn_$c"),
        max(col(c)).cast(StringType).as(s"__mx_$c"),
        (if (isStr) avg(length(col(c))) else lit(null).cast(DoubleType))
          .as(s"__al_$c"),
        (if (isStr) max(length(col(c))).cast(LongType)
         else lit(null).cast(LongType)).as(s"__ml_$c"))
    }
    val row = df.agg(count(lit(1)).as("__n"), colAggs: _*).head()
    val rowCount = row.getAs[Long]("__n")
    val cols = columns.map { c =>
      c -> ColStats(
        ndv = row.getAs[Long](s"__ndv_$c"),
        nullCount = rowCount - row.getAs[Long](s"__nn_$c"),
        min = Option(row.getAs[String](s"__mn_$c")).getOrElse(""),
        max = Option(row.getAs[String](s"__mx_$c")).getOrElse(""),
        avgLen = Option(row.getAs[java.lang.Double](s"__al_$c"))
          .fold(-1.0)(_.doubleValue()),
        maxLen = Option(row.getAs[java.lang.Long](s"__ml_$c"))
          .fold(-1L)(_.longValue()))
    }.toMap
    val merged = read(dir) match {
      // Re-ANALYZE of a subset at the same version keeps the other
      // columns' stats; any version move drops them (they measured old
      // data).
      case Some(prev) if prev.stamp == preStamp => prev.cols ++ cols
      case _ => cols
    }
    val st = Stats(preStamp, rowCount, snapshotBytes(dir), merged)
    write(dir, st)
    st
  }

  /** Persist as `_TABLE_STATS`: line-oriented TSV, atomic replace. Min/
    * max strings are URL-encoded so tabs/newlines in DATA (a string
    * column's extreme values are arbitrary user bytes) cannot corrupt
    * the manifest framing. */
  def write(dir: String, st: Stats): Unit = {
    def enc(v: String): String =
      java.net.URLEncoder.encode(v, "UTF-8")
    val lines = Seq(
      s"table\tstamp\t${enc(st.stamp)}",
      s"table\trow_count\t${st.rowCount}",
      s"table\tsize_bytes\t${st.sizeBytes}") ++
      st.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        s"col\t${enc(c)}\t${cs.ndv}\t${cs.nullCount}\t${enc(cs.min)}\t${enc(cs.max)}\t${cs.avgLen}\t${cs.maxLen}"
      }
    VersionNames.replaceFile(Paths.get(dir, "_TABLE_STATS"), lines.mkString("\n"))
  }

  def read(dir: String): Option[Stats] = {
    val p = Paths.get(dir, "_TABLE_STATS")
    if (!Files.exists(p)) return None
    def dec(v: String): String = java.net.URLDecoder.decode(v, "UTF-8")
    val lines = Files.readAllLines(p).asScala.toSeq
    val tbl = lines.collect {
      case l if l.startsWith("table\t") =>
        l.split("\t", 3) match {
          case Array(_, k, v) => k -> v
          case _ => throw new IllegalStateException(
            s"malformed _TABLE_STATS table line in $p: ${l.take(80)}")
        }
    }.toMap
    def req(k: String): String = tbl.getOrElse(k,
      throw new IllegalStateException(s"_TABLE_STATS at $p missing '$k'"))
    val cols = lines.collect {
      case l if l.startsWith("col\t") =>
        l.split("\t", -1) match {
          case Array(_, c, ndv, nulls, mn, mx, al, ml) =>
            dec(c) -> ColStats(ndv.toLong, nulls.toLong, dec(mn), dec(mx),
              al.toDouble, ml.toLong)
          case other => throw new IllegalStateException(
            s"malformed _TABLE_STATS col line (${other.length} fields): ${l.take(80)}")
        }
    }.toMap
    Some(Stats(
      dec(req("stamp")), req("row_count").toLong,
      req("size_bytes").toLong, cols))
  }

  /** Stats only if they measured the CURRENT snapshot — any OPTIMIZE /
    * RESTORE / INSERT moves the version and invalidates them for plan
    * decisions (a stale "small" verdict must never broadcast a table
    * that has since grown). */
  def fresh(dir: String): Option[Stats] =
    read(dir).filter(_.stamp == currentStamp(dir))

  /** Opt-in ANALYZE auto-refresh (`spark.graft.analyze.onPublish=true`):
    * after a version-moving statement (OPTIMIZE / RESTORE / REORG /
    * INSERT INTO), re-run the analysis over the SAME column set the
    * table was last ANALYZE'd with, so the staleness gate never leaves
    * a maintained table without plan stats. Off by default — the
    * re-analysis is a full aggregation pass, and maintenance windows at
    * 100 TB should schedule it, not pay it inline by surprise. A table
    * never ANALYZE'd (no `_TABLE_STATS`) is untouched, and still-fresh
    * stats (publish that didn't move the stamp) are not recomputed. */
  def reanalyzeOnPublish(s: SparkSession, dir: String): Unit =
    if (s.conf.getOption("spark.graft.analyze.onPublish").contains("true"))
      read(dir).foreach { prev =>
        if (prev.stamp != currentStamp(dir)) {
          analyze(s, dir, prev.cols.keys.toSeq.sorted)
          ()
        }
      }

  /** CBO-style logical size estimate: rowCount × (8B row overhead +
    * per-column width), widths from analyzed avg string lengths where
    * present, type default sizes otherwise (Catalyst EstimationUtils'
    * arithmetic). This is the number comparable to
    * `autoBroadcastJoinThreshold` — on-disk bytes are not. */
  def planRowBytes(st: Stats, schema: StructType): Long = {
    val perRow = 8L + schema.fields.map { f =>
      st.cols.get(f.name) match {
        case Some(cs) if cs.avgLen >= 0 => math.ceil(cs.avgLen).toLong + 8L
        case _ => f.dataType match {
          case StringType | BinaryType => 20L
          case dt => dt.defaultSize.toLong
        }
      }
    }.sum
    st.rowCount * perRow
  }

  /** The stats-driven broadcast decision for a registered table: fresh
    * ANALYZE'd stats, logical bytes within the session broadcast
    * threshold, row count within `spark.graft.stats.broadcastRowLimit`
    * (hash-table entry bound, default 500k). No fresh stats → no
    * opinion (Spark's own file-size estimate decides). */
  def broadcastWorthy(s: SparkSession, dir: String, schema: StructType): Boolean =
    fresh(dir).exists { st =>
      val raw = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      val threshold = scala.util.Try(raw.trim.toLong).getOrElse(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
      val rowLimit = s.conf.get("spark.graft.stats.broadcastRowLimit",
        "500000").toLong
      threshold >= 0 && st.rowCount <= rowLimit &&
        planRowBytes(st, schema) <= threshold
    }

  /** The ANALYZE statement's result set. Table-only form: one row of
    * table-level tallies. FOR COLUMNS form: one row per analyzed column
    * (stringly min/max — the cross-engine-comparable rendering). */
  def resultFrame(s: SparkSession, name: String, st: Stats,
      columns: Seq[String]): DataFrame = {
    if (columns.isEmpty) {
      s.createDataFrame(
        java.util.Collections.singletonList(
          Row(name, st.stamp, st.rowCount, st.sizeBytes)),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("stamp", StringType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false))))
    } else {
      val rows = columns.map { c =>
        val cs = st.cols(c)
        Row(c, st.rowCount, cs.ndv, cs.nullCount, cs.min, cs.max)
      }
      s.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava),
        StructType(Seq(
          StructField("col_name", StringType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("ndv", LongType, nullable = false),
          StructField("null_count", LongType, nullable = false),
          StructField("min_val", StringType, nullable = false),
          StructField("max_val", StringType, nullable = false))))
    }
  }
}
