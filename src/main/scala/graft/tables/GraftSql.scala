package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.ParquetTable

/** SQL-statement spellings for the versioned-table utilities — the lines
  * a `spark-sql` user of the reference pastes verbatim
  * (reference: db/query_table.sql:4-9 `DESCRIBE HISTORY` /
  * `DESCRIBE DETAIL`, db/query_scd1_table.sql:157-158 `table_changes`).
  *
  * `DESCRIBE HISTORY` / `DESCRIBE DETAIL` are whole statements (as in
  * Delta); `table_changes('t', v1, v2)` is a table-valued call that can
  * appear anywhere in a query's FROM — the shim materializes each call
  * as a temp view and hands the rewritten statement to `spark.sql`, so
  * the full SQL surface (projections, filters, aggregates, joins)
  * composes for free instead of this object growing a parser.
  *
  * Tables are name→directory registrations per session; `keyCols` is
  * required for `table_changes` (the change feed diffs snapshots by
  * key — CdcStreaming.changeFeed).
  */
object GraftSql {

  final case class TableRef(dir: String, keyCols: Seq[String])

  private val registry =
    new SessionMemo[String, TableRef]

  /** Graft-managed views: name → stored SQL text (see CreateView). */
  private val viewRegistry =
    new SessionMemo[String, String]

  /** Re-entrant view-expansion depth (cycle guard). */
  private val viewDepth = new ThreadLocal[Int] { override def initialValue = 0 }

  /** Canonical registry key for an identifier as a user may spell it:
    * backquotes stripped, whitespace around dots dropped, parts joined
    * with '.'. `db.t`, `` `db`.`t` `` and `` db.`t` `` all key the same
    * table. The registry is a FLAT namespace: a backquoted single-part
    * name containing a literal dot (`` `db.t` ``) canonicalizes to the
    * same key as the qualified two-part spelling — same trade Delta
    * path tables make (the path, not the catalog, is the identity). */
  private[tables] def normalizeIdent(raw: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inBq = false
    raw.trim.foreach {
      case '`' => inBq = !inBq
      case '.' if !inBq => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    parts.map(_.trim).mkString(".")
  }

  def register(s: SparkSession, name: String, dir: String,
      keyCols: Seq[String] = Nil): Unit = {
    registry.of(s).put(normalizeIdent(name), TableRef(dir, keyCols))
    ()
  }

  private def resolve(s: SparkSession, name: String): TableRef = {
    val key = normalizeIdent(name)
    registry.of(s).getOrElse(key,
      throw new IllegalArgumentException(
        s"table '$key' is not registered with GraftSql.register"))
  }

  /** Table identifier as a SQL user spells it: bare, backquoted, or a
    * dotted chain of either (`db.t`, `` `db`.`t` ``, `catalog.db.t`) —
    * Delta users coming from a catalog write qualified names habitually.
    * Matched names canonicalize through [[normalizeIdent]] before any
    * registry lookup. */
  private val IdPat =
    """(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)(?:\s*\.\s*(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))*"""
  private val DescribeHistory =
    ("""(?is)^\s*DESCRIBE\s+HISTORY\s+(""" + IdPat + """)(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""").r
  private val DescribeDetail =
    ("""(?is)^\s*DESCRIBE\s+DETAIL\s+(""" + IdPat + """)\s*;?\s*$""").r
  // DESCRIBE EXTENDED t / DESCRIBE t (reference db/table_maintenance
  // .sql:49,52, create_scd1_table.deltalake.sql:111). Matched AFTER the
  // HISTORY/DETAIL arms; a multi-word tail can't match the single
  // dotted-identifier IdPat, so these never swallow those spellings.
  private val DescribeExtended =
    ("""(?is)^\s*DESC(?:RIBE)?\s+EXTENDED\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val DescribePlain =
    ("""(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(""" + IdPat + """)\s*;?\s*$""").r
  private val Optimize =
    ("""(?is)^\s*OPTIMIZE\s+(""" + IdPat + """)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$""").r
  private val Vacuum =
    ("""(?is)^\s*VACUUM\s+(""" + IdPat + """)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  private val Restore =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(""" + IdPat + """)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val RestoreTs =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(""" + IdPat + """)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r
  private val AddColumns =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ADD\s+COLUMNS?\s*\((.*)\)\s*;?\s*$""").r
  private val RenameCol =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+RENAME\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TO\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
  private val DropCol =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+DROP\s+COLUMNS?\s*\(?\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)?\s*;?\s*$""").r
  private val AlterColType =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TYPE\s+(.+?)\s*;?\s*$""").r
  private val AlterColComment =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+COMMENT\s+'((?:[^']|'')*)'\s*;?\s*$""").r
  private val CloneTable =
    ("""(?is)^\s*CREATE\s+TABLE\s+(""" + IdPat + """)\s+(SHALLOW|DEEP)\s+CLONE\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val CreateTable =
    ("""(?is)^\s*CREATE\s+TABLE\s+(""" + IdPat + """)\s*\((.*)\)\s*;?\s*$""").r
  private val InsertInto =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + IdPat + """)\s+(SELECT\b.*)$""").r
  private val InsertIntoByName =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + IdPat + """)\s+BY\s+NAME\s+(SELECT\b.*)$""").r
  private val InsertIntoCols =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + IdPat + """)\s*\(([^)]*)\)\s+((?:SELECT|VALUES)\b.*)$""").r
  private val InsertIntoValues =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + IdPat + """)\s+(VALUES\b.*)$""").r
  private val CreateTableLike =
    ("""(?is)^\s*CREATE\s+TABLE\s+(""" + IdPat + """)\s+LIKE\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val ShowIndexesStmt =
    ("""(?is)^\s*SHOW\s+INDEXES\s+(?:ON|IN|FROM)\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val CountStarStmt =
    ("""(?is)^\s*SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?\s+FROM\s+(""" + IdPat + """)\s*;?\s*$""").r
  // Graft-managed views: stored SQL TEXT re-executed through sql() at
  // reference time, so AS-OF phrases / table_changes / QUALIFY / mounts
  // compose INSIDE a view body — a plain Spark temp view can hold none
  // of those. MATERIALIZED has its own statements; the (?!MATERIALIZED)
  // guard keeps them disjoint.
  private val CreateView =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?!MATERIALIZED\b)(""" + IdPat +
      """)\s+AS\s+(SELECT\b.*|WITH\b.*)$""").r
  private val DropView =
    ("""(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(""" + IdPat + """)\s*;?\s*$""").r
  private val ShowViews =
    """(?is)^\s*SHOW\s+VIEWS\s*;?\s*$""".r
  // CONVERT TO DELTA's move under this engine's spelling: adopt a plain
  // parquet directory as a versioned table IN PLACE (hard-linked v1,
  // zero bytes copied) and register it.
  private val ConvertStmt =
    ("""(?is)^\s*CONVERT\s+TO\s+TABLE\s+(""" + IdPat +
      """)\s+FROM\s+'([^']+)'(?:\s+KEY\s*\(([^)]*)\))?\s*;?\s*$""").r
  private val InsertOverwrite =
    ("""(?is)^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(""" + IdPat + """)\s+(SELECT\b.*)$""").r
  // Delta's predicate-scoped overwrite spelling. Same clause-boundary
  // caveat as the other DML regexes: a string literal containing the
  // bare word SELECT inside the predicate would split early.
  private val InsertReplaceWhere =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + IdPat + """)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\b.*)$""").r
  private val CopyInto =
    ("""(?is)^\s*COPY\s+INTO\s+(""" + IdPat + """)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*PARQUET\s*;?\s*$""").r
  private val CreateTableAs =
    ("""(?is)^\s*CREATE\s+TABLE\s+(""" + IdPat + """)\s+AS\s+(SELECT\b.*)$""").r
  private val Reorg =
    ("""(?is)^\s*REORG\s+TABLE\s+(""" + IdPat + """)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""").r
  private val ShowPartitions =
    ("""(?is)^\s*SHOW\s+PARTITIONS\s+(""" + IdPat + """)\s*;?\s*$""").r
  // SHOW TABLES [LIKE 'pat'] over the session's registrations (the
  // catalog-browse spelling; '%' and '_' LIKE wildcards).
  private val ShowTables =
    """(?is)^\s*SHOW\s+TABLES(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val CacheTable =
    ("""(?is)^\s*CACHE\s+(LAZY\s+)?TABLE\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val UncacheTable =
    ("""(?is)^\s*UNCACHE\s+TABLE\s+(IF\s+EXISTS\s+)?(""" + IdPat + """)\s*;?\s*$""").r
  private val CommentOnTable =
    ("""(?is)^\s*COMMENT\s+ON\s+TABLE\s+(""" + IdPat + """)\s+IS\s+'((?:[^']|'')*)'\s*;?\s*$""").r
  private val ShowCreateTable =
    ("""(?is)^\s*SHOW\s+CREATE\s+TABLE\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val DropTable =
    ("""(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(""" + IdPat + """)\s*;?\s*$""").r
  private val TruncateTable =
    ("""(?is)^\s*TRUNCATE\s+TABLE\s+(""" + IdPat + """)\s*;?\s*$""").r
  // ALTER TABLE t RENAME TO t2 — cannot collide with RenameCol: COLUMN
  // follows RENAME there, TO follows RENAME here.
  private val RenameTable =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+RENAME\s+TO\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val ShowColumns =
    ("""(?is)^\s*SHOW\s+COLUMNS\s+(?:IN|FROM)\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val CreateMv =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(""" + IdPat + """)\s+AS\s+(SELECT\b.*)$""").r
  private val RefreshMv =
    ("""(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(""" + IdPat + """)\s*;?\s*$""").r
  // The maintainable-MV SELECT shape: bare group columns plus COUNT(*)
  // and SUM(col) aggregates over ONE registered table. Anything richer
  // is rejected loudly (incremental maintenance is only exact for this
  // class — see MaterializedView).
  private val MvSelect =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s+(""" + IdPat + """)\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""").r
  private val MvCountItem =
    """(?i)^COUNT\s*\(\s*\*\s*\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
  private val MvSumItem =
    """(?i)^SUM\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
  private val MvColItem = """^[A-Za-z_][A-Za-z0-9_]*$""".r
  // Row-level DML on registered versioned tables (Delta's DELETE /
  // UPDATE / MERGE INTO statement surface). The WHERE / SET bodies are
  // handed to Catalyst as expression strings — the regexes only find the
  // clause boundaries. Caveat (documented, matches the shim's style
  // elsewhere): a string LITERAL containing the bare word WHERE inside a
  // SET expression would split early — parenthesize or rephrase.
  private val DeleteFrom =
    ("""(?is)^\s*DELETE\s+FROM\s+(""" + IdPat + """)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  private val UpdateTable =
    ("""(?is)^\s*UPDATE\s+(""" + IdPat + """)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  private val MergeIntoHead =
    ("""(?is)^\s*MERGE\s+INTO\s+(""" + IdPat +
      """)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_][A-Za-z0-9_]*))?\s+USING\s+(.*?)\s*;?\s*$""").r
  // Delta's `MERGE WITH SCHEMA EVOLUTION INTO ...` spelling: source-only
  // columns are added to the target schema before the merge runs.
  private val MergeEvolveHead =
    ("""(?is)^\s*MERGE\s+WITH\s+SCHEMA\s+EVOLUTION\s+INTO\s+(""" + IdPat +
      """)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_][A-Za-z0-9_]*))?\s+USING\s+(.*?)\s*;?\s*$""").r
  private val AddConstraint =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ADD\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val AddUniqueConstraint =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ADD\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s+UNIQUE\s*\(([^)]+)\)\s*;?\s*$""").r
  private val SetNotNull =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+SET\s+NOT\s+NULL\s*;?\s*$""").r
  // Delta's column-default surface (ALTER ... SET DEFAULT only; a
  // DEFAULT inside ADD COLUMNS stays rejected — Delta refuses it too,
  // because existing rows can't tell "null because absent" from "null
  // because written" without per-file lineage).
  private val SetDefault =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*$""").r
  private val DropDefault =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+DROP\s+DEFAULT\s*;?\s*$""").r
  private val ExplainStmt =
    """(?is)^\s*EXPLAIN(?:\s+(EXTENDED|FORMATTED))?\s+(.+)$""".r
  // Secondary index spellings (reference db/oracle-ddl.sql:56 — the
  // source schema's own `CREATE INDEX ix ON t(col)`). VECTOR INDEX has
  // its own statements; the mandatory word INDEX directly after CREATE
  // keeps these disjoint.
  private val CreateIndexStmt =
    ("""(?is)^\s*CREATE\s+INDEX\s+([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+(""" + IdPat +
      """)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*;?\s*$""").r
  private val DropIndexStmt =
    ("""(?is)^\s*DROP\s+INDEX\s+([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+(""" + IdPat +
      """)\s*;?\s*$""").r
  private val IndexLookup =
    """(?i)index_lookup\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*,\s*(-?\d+)\s*,\s*(-?\d+)\s*\)""".r
  private val DropConstraint =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+DROP\s+CONSTRAINT\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""").r
  private val AnalyzeTable =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+(""" + IdPat + """)\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+(.+?)))?\s*;?\s*$""").r
  private val SetProps =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+SET\s+TBLPROPERTIES\s*\((.*)\)\s*;?\s*$""").r
  private val ShowProps =
    ("""(?is)^\s*SHOW\s+TBLPROPERTIES\s+(""" + IdPat + """)\s*;?\s*$""").r
  private val PropPair = """'([^']+)'\s*=\s*'([^']*)'""".r
  private val TableChanges =
    """(?i)table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""".r
  private val TableFiles =
    """(?i)table_files\s*\(\s*'([^']+)'\s*\)""".r
  // table_history('t') — DESCRIBE HISTORY as a composable table-valued
  // phrase (filter/join/aggregate over the version log in plain SQL).
  private val TableHistory =
    """(?i)table_history\s*\(\s*'([^']+)'\s*\)""".r
  // Vector-index surface (Databricks Vector Search / pgvector-shaped
  // spellings over the persisted IVF layout): CREATE/DROP as statements,
  // search as a table-valued phrase. Index and probe sources resolve
  // through sql(), so registered tables and temp views both work.
  private val CreateVectorIndex =
    ("""(?is)^\s*CREATE\s+VECTOR\s+INDEX\s+([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+(""" + IdPat +
      """)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+KEY\s+([A-Za-z_][A-Za-z0-9_]*)(?:\s+CELLS\s+(\d+))?\s*;?\s*$""").r
  private val DropVectorIndex =
    """(?is)^\s*DROP\s+VECTOR\s+INDEX\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val VectorSearch =
    """(?i)vector_search\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*,\s*(\d+)\s*\)""".r

  private val vectorIndexes =
    new SessionMemo[String, String]
  // Time-travel FROM phrases inside an otherwise-plain query (reference
  // db/query_table.sql:173-178). Statement-level RESTORE spellings never
  // reach these (their cases match first), so "TO VERSION AS OF" cannot
  // false-positive on the "TO" token. The lookbehind excludes '.' and
  // '`' so the trailing part of a qualified name someone ELSE owns
  // (`other_db.t` when only bare `t` is registered) can never match as
  // the bare name — the full dotted spelling matches, or nothing does.
  private val VersionAsOf =
    ("""(?i)(?<![A-Za-z0-9_`.])(""" + IdPat + """)\s+VERSION\s+AS\s+OF\s+(\d+)""").r
  // Tag spelling: VERSION AS OF 'name' (quoted, non-numeric) resolves
  // through the table's _TAGS bindings.
  private val VersionAsOfTag =
    ("""(?i)(?<![A-Za-z0-9_`.])(""" + IdPat + """)\s+VERSION\s+AS\s+OF\s+'([A-Za-z_][A-Za-z0-9_.-]*)'""").r
  private val CreateTag =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+CREATE\s+(OR\s+REPLACE\s+)?TAG\s+""" +
      """([A-Za-z_][A-Za-z0-9_.-]*)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""").r
  private val DropTagStmt =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + IdPat + """)\s+DROP\s+TAG\s+([A-Za-z_][A-Za-z0-9_.-]*)\s*;?\s*$""").r
  private val ShowTags =
    ("""(?is)^\s*SHOW\s+TAGS\s+(?:ON\s+|IN\s+|FROM\s+)?(""" + IdPat + """)\s*;?\s*$""").r
  private val TimestampAsOf =
    ("""(?i)(?<![A-Za-z0-9_`.])(""" + IdPat + """)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""").r

  /** Run one statement: the DESCRIBE / OPTIMIZE / VACUUM / RESTORE
    * maintenance spellings directly (reference db/table_maintenance.sql
    * lines a spark-sql user pastes), anything else through `spark.sql`
    * with `table_changes(...)` calls rewritten to materialized temp
    * views. */
  def sql(s: SparkSession, statement: String): DataFrame = statement match {
    // EXPLAIN [EXTENDED|FORMATTED] <query> — the plan of the query AS
    // THIS SHIM WOULD RUN IT (registered-table mounts, AS-OF phrases,
    // TVFs, QUALIFY all applied first), so users can see broadcast
    // decisions / pruning on graft tables, not on the raw identifiers.
    // Restricted to query statements: EXPLAIN over DML would have to
    // EXECUTE the statement to plan it here — rejected loudly instead.
    case ExplainStmt(mode, query) =>
      require("""(?is)^\s*(SELECT|WITH|VALUES)\b""".r.findFirstIn(query).isDefined,
        "EXPLAIN supports query statements only (SELECT/WITH/VALUES) — " +
          "DML/DDL statements execute for real and cannot be explained here")
      val df = sql(s, query)
      val planMode = Option(mode).map(_.trim.toUpperCase).getOrElse("") match {
        case "EXTENDED"  => org.apache.spark.sql.execution.ExtendedMode
        case "FORMATTED" => org.apache.spark.sql.execution.FormattedMode
        case _           => org.apache.spark.sql.execution.SimpleMode
      }
      singleRow(s, Seq("plan" ->
        df.queryExecution.explainString(planMode)))
    case DescribeHistory(name, limit) =>
      describeHistory(s, resolve(s, name).dir, Option(limit).map(_.toInt))
    case DescribeDetail(name) =>
      describeDetail(s, name, resolve(s, name).dir)
    case q if WithRecursive.findPrefixMatchOf(q.trim).isDefined =>
      runRecursiveCte(s, q)
    // CACHE [LAZY] TABLE t / UNCACHE TABLE [IF EXISTS] t — pin the
    // current snapshot in executor memory for repeated reads. The cache
    // is STAMP-validated, not hook-invalidated: mountFrame serves the
    // cached frame only while the table's freshness stamp (live version
    // id / root file census — the same gate plan stats use) still
    // matches, so any INSERT/MERGE/OPTIMIZE/RESTORE silently retires it
    // on the next mount and no write path needs to know caches exist.
    case CacheTable(lzy, rawName) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      cachedTables.of(s).remove(name).foreach(_._2.unpersist())
      val df = TableStats.readCurrent(s, ref.dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = if (lzy == null) df.count() else -1L // Spark's CACHE is eager unless LAZY
      cachedTables.of(s).put(name, (TableStats.currentStamp(ref.dir), df))
      singleRow(s, Seq("name" -> name,
        "cached_rows" -> (if (n >= 0) n.toString else "lazy")))
    case UncacheTable(ifExists, rawName) =>
      val name = normalizeIdent(rawName)
      val removed = cachedTables.of(s).remove(name)
      removed.foreach(_._2.unpersist())
      require(removed.isDefined || ifExists != null,
        s"UNCACHE TABLE: '$name' is not cached (use IF EXISTS for a no-op)")
      singleRow(s, Seq("name" -> name,
        "uncached" -> (if (removed.isDefined) "true" else "false")))
    // CREATE [OR REPLACE] VIEW v AS <query> — the body is stored as
    // TEXT and re-executed through sql() wherever v is referenced, so
    // AS-OF phrases, table_changes/table_files/index_lookup, QUALIFY
    // and registered-table mounts all compose INSIDE the view (a Spark
    // temp view can hold none of those — its plan freezes at creation
    // and graft phrases never reach its parser anyway). Validated at
    // CREATE by resolving `SELECT * FROM v`; a broken body never
    // registers.
    case CreateView(orReplace, rawName, body) =>
      val name = normalizeIdent(rawName)
      require(!name.contains("."), s"CREATE VIEW: qualified view names are not supported: $name")
      require(orReplace != null || !viewRegistry.of(s).contains(name),
        s"CREATE VIEW: '$name' already exists — use CREATE OR REPLACE VIEW")
      require(!registry.of(s).contains(name),
        s"CREATE VIEW: '$name' is a registered table")
      val text = body.trim.replaceAll(";\\s*$", "")
      val prior = viewRegistry.of(s).put(name, text)
      try sql(s, s"SELECT * FROM $name").queryExecution.analyzed
      catch { case e: Exception =>
        prior match {
          case Some(p) => viewRegistry.of(s).put(name, p)
          case None => viewRegistry.of(s).remove(name)
        }
        throw new IllegalArgumentException(
          s"CREATE VIEW $name: body does not resolve: ${e.getMessage}")
      }
      singleRow(s, Seq("name" -> name,
        "replaced" -> (if (prior.isDefined) "true" else "false")))
    // CONVERT TO TABLE t FROM '<dir>' [KEY (cols)] — adopt a plain
    // parquet directory as a versioned table in place: the root's data
    // files hard-link into v1 (O(file count) at any volume, the CONVERT
    // TO DELTA contract) and the name registers; the whole statement
    // surface (time travel, OPTIMIZE, DML with KEY columns) applies
    // from the next second on.
    case ConvertStmt(rawName, path, keysBody) =>
      val name = normalizeIdent(rawName)
      require(!registry.of(s).contains(name),
        s"CONVERT TO TABLE: '$name' is already registered — DROP it first")
      val keys = Option(keysBody)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      val n = ParquetTable.adopt(s, path)
      register(s, name, path, keys)
      singleRow(s, Seq("name" -> name, "location" -> path, "n_files" -> n))
    case DropView(ifExists, rawName) =>
      val name = normalizeIdent(rawName)
      val removed = viewRegistry.of(s).remove(name)
      require(removed.isDefined || ifExists != null,
        s"DROP VIEW: '$name' does not exist (use IF EXISTS for a no-op)")
      singleRow(s, Seq("name" -> name,
        "dropped" -> (if (removed.isDefined) "true" else "false")))
    case ShowViews() =>
      import scala.jdk.CollectionConverters._
      val rows = viewRegistry.of(s).keysIterator.toSeq.sorted
        .map(n => Row(n, viewRegistry.of(s)(n)))
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("definition", StringType, nullable = false))))
    case ShowTables(pat) =>
      // Registered names for THIS session, name-sorted; LIKE filters with
      // SQL wildcards. Bounded by the registration count by definition.
      val names = registry.of(s).keys.toSeq
      val rx = Option(pat).map(p =>
        ("(?i)^" + java.util.regex.Pattern.quote(p)
          .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r)
      val rows = names.filter(n => rx.forall(_.matches(n))).sorted
        .map(n => Row(n, resolve(s, n).dir))
      s.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(
          StructField("table_name", StringType, nullable = false),
          StructField("location", StringType, nullable = false))))
    case DescribeExtended(rawName) =>
      describeDispatch(s, statement, rawName, extended = true)
    case DescribePlain(rawName) =>
      describeDispatch(s, statement, rawName, extended = false)
    // Version tags (Iceberg parity): durable name → version bindings.
    // A tag PINS its version against VACUUM (the reproducible-run
    // primitive: a tagged corpus snapshot outlives retention policy).
    case CreateTag(rawName, orRepl, tag, ver) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      val curId = graft.streaming.VersionNames.idOf(
        java.nio.file.Paths.get(ParquetTable.currentPath(ref.dir)).getFileName.toString)
      val v = Option(ver).map(_.toLong).getOrElse(curId)
      require(ParquetTable.snapshots(ref.dir)
          .exists(graft.streaming.VersionNames.idOf(_) == v),
        s"CREATE TAG: table '$name' has no version $v")
      Tags.set(ref.dir, tag, v, orRepl != null)
      singleRow(s, Seq("name" -> name, "tag" -> tag.toLowerCase, "version" -> v))
    case DropTagStmt(rawName, tag) =>
      val name = normalizeIdent(rawName)
      Tags.drop(resolve(s, name).dir, tag)
      singleRow(s, Seq("name" -> name, "tag" -> tag.toLowerCase, "dropped" -> "true"))
    case ShowTags(rawName) =>
      val name = normalizeIdent(rawName)
      val rows = Tags.tagsOf(resolve(s, name).dir).sortBy(_._1)
        .map { case (t, v) => Row(t, v) }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("version", LongType, nullable = false))))
    case Optimize(name, wpred, zcols) =>
      val zc = Option(zcols).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
      Option(wpred).map(_.trim).filter(_.nonEmpty) match {
        case Some(pred) => optimizeWhere(s, name, pred, zc)
        case None       => optimize(s, name, zc)
      }
    case Vacuum(name, hours, dry) =>
      vacuum(s, name, Option(hours).map(_.toLong), dry != null)
    case Restore(name, version) =>
      restoreTo(s, name, version.toLong)
    case RestoreTs(name, ts) =>
      restoreToTimestamp(s, name, ts)
    case DropTable(ifExists, rawName) =>
      // EXTERNAL-table semantics (the registry is a name→path map, not
      // ownership): unregister the name, never touch files — the
      // CREATE TABLE / CLONE re-run guards say "DROP it first", and
      // this is that spelling. IF EXISTS makes a missing name a no-op.
      val name = normalizeIdent(rawName)
      val existed = registry.of(s).remove(name).isDefined
      require(existed || ifExists != null,
        s"DROP TABLE: '$name' is not registered (use IF EXISTS for a no-op)")
      singleRow(s, Seq("name" -> name,
        "dropped" -> (if (existed) "true" else "false")))
    // TRUNCATE TABLE t — the predicate-free delete at metadata price:
    // ParquetTable.truncate publishes a schema-only snapshot without the
    // hit-count scan DELETE runs, so the cost is O(file count) at any
    // data volume; prior versions stay time-travel-readable until VACUUM.
    case TruncateTable(rawName) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      require(ParquetTable.exists(ref.dir),
        s"TRUNCATE TABLE '$name': not a versioned table")
      val n = ParquetTable.truncate(s, ref.dir)
      TableStats.reanalyzeOnPublish(s, ref.dir)
      singleRow(s, Seq("name" -> name, "n_deleted" -> n))
    // ALTER TABLE t RENAME TO t2 — EXTERNAL-table semantics like DROP:
    // the registry entry moves, no file is touched, and a pinned cache
    // follows the name (its stamp still guards freshness).
    case RenameTable(rawFrom, rawTo) =>
      val from = normalizeIdent(rawFrom)
      val to = normalizeIdent(rawTo)
      val ref = registry.of(s).getOrElse(from, throw new IllegalArgumentException(
        s"ALTER TABLE RENAME: '$from' is not registered"))
      require(!registry.of(s).contains(to),
        s"ALTER TABLE RENAME: '$to' is already registered — DROP it first")
      registry.of(s).put(to, ref)
      registry.of(s).remove(from)
      cachedTables.of(s).remove(from).foreach(e => cachedTables.of(s).put(to, e))
      singleRow(s, Seq("name" -> to, "renamed_from" -> from,
        "location" -> ref.dir))
    // SHOW COLUMNS IN|FROM t — the column names of the EVOLVED logical
    // schema (same metadata layers DESCRIBE reads; manifest-bounded).
    case ShowColumns(rawName) =>
      val name = normalizeIdent(rawName)
      registry.of(s).get(name) match {
        case Some(ref) =>
          describeTable(s, name, ref.dir, ref.keyCols, extended = false)
            .select("col_name")
        case None => s.sql(statement)
      }
    case CreateMv(rawName, select) =>
      // CREATE MATERIALIZED VIEW mv AS SELECT g1, g2, COUNT(*) AS n,
      // SUM(c) AS s FROM base GROUP BY g1, g2 — the exactly-maintainable
      // aggregate class. The view registers like any table (SELECTs
      // mount it; the hidden _nn_* maintenance counters stay invisible —
      // mountFrame drops them). REFRESH is incremental when the base
      // publishes change files (ChangeFeedTable.publish); bases mutated
      // through the DML statements fall back to a full recompute —
      // correct either way, the cost model differs.
      val name = normalizeIdent(rawName)
      require(!registry.of(s).contains(name),
        s"CREATE MATERIALIZED VIEW: '$name' is already registered — DROP it first")
      val (baseName, groups, countName, sums) = parseMvSelect(select)
      val baseDir = resolve(s, baseName).dir
      require(ParquetTable.exists(baseDir),
        s"CREATE MATERIALIZED VIEW: base '$baseName' is not a versioned table")
      val mvDir = graft.tables.TmpDirs.create("graft-mv")
        .resolve(dirNameFor(name)).toString
      MaterializedView.create(s, mvDir, baseDir, groups, countName, sums)
      register(s, name, mvDir)
      singleRow(s, Seq("name" -> name, "base" -> normalizeIdent(baseName),
        "location" -> mvDir))
    case RefreshMv(rawName) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_MV")),
        s"REFRESH MATERIALIZED VIEW: '$name' is not a materialized view")
      val committed = MaterializedView.refresh(s, dir)
      singleRow(s, Seq("name" -> name,
        "refreshed" -> (if (committed) "true" else "false"),
        "base_version" -> MaterializedView.readDef(dir).refreshedVersion))
    case AnalyzeTable(name, all, colList) =>
      // Reference db/table_maintenance.sql:38-41. The pass runs over the
      // current snapshot; results persist to `_TABLE_STATS` and feed the
      // fallback's broadcast decision (TableStats.broadcastWorthy) until
      // the next version move invalidates them.
      val ref = resolve(s, name)
      val current = TableStats.readCurrent(s, ref.dir)
      val cols: Seq[String] =
        if (all != null) TableStats.atomicColumns(current.schema)
        else if (colList != null)
          colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        else Nil
      require(all == null || cols.nonEmpty,
        s"ANALYZE $name FOR ALL COLUMNS: table has no atomic columns")
      // A FOR COLUMNS list that trims to nothing is a typo, not a
      // request for table-only stats — degrade loudly, not silently.
      require(colList == null || cols.nonEmpty,
        s"ANALYZE $name FOR COLUMNS: empty column list")
      val st = TableStats.analyze(s, ref.dir, cols, Some(current))
      TableStats.resultFrame(s, name, st, cols)
    case SetProps(name, body) =>
      val pairs = PropPair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
      require(pairs.nonEmpty, s"no 'k' = 'v' pairs in TBLPROPERTIES: $body")
      setProperties(s, name, pairs)
    case ShowProps(name) =>
      showProperties(s, name)
    case AddColumns(name, body) =>
      val cols = parseColumnDefs(body)
      val dir = resolve(s, name).dir
      // Validate EVERYTHING before the first mutation — a comment
      // rejected after addColumns would leave the table half-altered
      // (and the user's retry failing with "column already exists").
      cols.foreach { case (n, _, c, g) =>
        // A generated column added post-hoc would need existing rows
        // COMPUTED (the metadata-only null-fill would violate the
        // generation invariant on every pre-DDL row) — rewrite via CTAS.
        require(g.isEmpty,
          s"ADD COLUMNS with GENERATED ALWAYS AS is not supported (column $n): " +
            "existing rows would need computing — define it at CREATE TABLE or rewrite via CTAS")
        c.foreach(text => require(!text.exists(ch => ch == '\n' || ch == '\r'),
          s"column comment may not contain newlines (column $n)"))
      }
      SchemaEvolution.addColumns(s, dir, cols.map { case (n, t, _, _) => n -> t })
      cols.foreach { case (n, _, c, _) =>
        c.foreach(SchemaEvolution.setColumnComment(s, dir, n, _))
      }
      singleRow(s, Seq("name" -> name,
        "added" -> cols.map { case (n, t, _, _) => s"$n ${t.simpleString}" }.mkString(", ")))
    case RenameCol(name, from, to) =>
      SchemaEvolution.renameColumn(s, resolve(s, name).dir, from, to)
      singleRow(s, Seq("name" -> name, "renamed" -> s"$from -> $to"))
    case DropCol(name, colName) =>
      SchemaEvolution.dropColumn(s, resolve(s, name).dir, colName)
      singleRow(s, Seq("name" -> name, "dropped" -> colName))
    case AlterColComment(name, colName, rawText) =>
      // SQL literal rules: a doubled '' inside the comment is one quote.
      val text = rawText.replace("''", "'")
      SchemaEvolution.setColumnComment(s, resolve(s, name).dir, colName, text)
      singleRow(s, Seq("name" -> name, "column" -> colName, "comment" -> text))
    case AlterColType(name, colName, ddl) =>
      SchemaEvolution.widenColumn(s, resolve(s, name).dir, colName, DataType.fromDDL(ddl))
      singleRow(s, Seq("name" -> name, "widened" -> s"$colName -> ${ddl.trim}"))
    case CloneTable(newName, kind, srcName) =>
      cloneTable(s, newName, kind.equalsIgnoreCase("SHALLOW"), srcName)
    case CreateTable(rawName, body) =>
      // The reference's type-change recipe, step 1 (db/schema_evolution
      // .sql:52-72): declare the target schema before any data exists.
      // A re-run must fail loudly — an unconditional re-register would
      // shadow the existing table with a fresh empty dir and orphan its
      // data.
      val name = normalizeIdent(rawName)
      require(!registry.of(s).contains(name),
        s"CREATE TABLE: '$name' is already registered — DROP/unregister it first")
      val cols = parseColumnDefs(body)
      val dir = graft.tables.TmpDirs.create("graft-ct")
        .resolve(dirNameFor(name)).toString
      SchemaEvolution.createTable(s, dir, cols.map { case (n, t, _, _) => n -> t })
      cols.foreach { case (n, _, c, _) =>
        c.foreach(SchemaEvolution.setColumnComment(s, dir, n, _))
      }
      // Generated columns (Delta's GENERATED ALWAYS AS): the expression
      // is stored as a reserved table property — the write paths read
      // the prefix and compute/validate. Resolution is checked NOW
      // against the declared NON-generated columns, so a typo (or a
      // generated column referencing another generated column) fails at
      // CREATE, not at first INSERT. ALL validation runs BEFORE
      // register(): a failing CREATE must not leave a registered
      // empty-shell table that blocks the corrected retry (the same
      // invariant the CTAS arm holds for a failing SELECT).
      val allGens = cols.collect { case (n, _, _, Some(g)) => n -> g }
      val (idents, gens) = allGens.partition(_._2 == IdentityMarker)
      // Identity columns (Delta's GENERATED ALWAYS AS IDENTITY): the
      // engine assigns values on INSERT (gaps allowed — per-partition
      // allocation, exactly Delta's contract); BIGINT only, and the
      // write paths reject provided values.
      idents.foreach { case (n, _) =>
        require(cols.find(_._1 == n).exists(_._2 == LongType),
          s"GENERATED ALWAYS AS IDENTITY column $n must be BIGINT")
      }
      if (gens.nonEmpty) {
        val genNames = allGens.map(_._1.toLowerCase).toSet
        val probe = SchemaEvolution.readEvolved(s, dir)
          .select(cols.collect { case (n, _, _, None) => col(n) }: _*)
        gens.foreach { case (n, g) =>
          require(!genNames.exists(other =>
              other != n.toLowerCase && exprMentions(g, other)),
            s"GENERATED column $n may not reference another generated column")
          try probe.select(expr(g)).schema
          catch { case e: Exception => throw new IllegalArgumentException(
            s"GENERATED ALWAYS AS for $n does not resolve against the table's columns: ${e.getMessage}") }
        }
      }
      register(s, name, dir)
      if (idents.nonEmpty)
        setProperties(s, name, idents.map { case (n, _) => s"graft.identity.$n" -> "true" })
      if (gens.nonEmpty)
        setProperties(s, name, gens.map { case (n, g) => s"graft.generated.$n" -> g })
      singleRow(s, Seq("name" -> name, "location" -> dir,
        "columns" -> cols.map { case (n, t, _, _) => s"$n ${t.simpleString}" }.mkString(", ")))
    case CopyInto(rawName, srcDir) =>
      // Idempotent file ingestion: only never-loaded source files land,
      // as one commit with the bookkeeping stamped inside the version
      // (ParquetTable.copyInto); re-running is a no-op. The transform
      // hook aligns to the table schema and gates CHECK constraints
      // BEFORE the commit.
      val name = normalizeIdent(rawName)
      val (dir, df) = dmlTable(s, name)
      val (nf, nr, ns) = ParquetTable.copyInto(s, dir, srcDir, batch => {
        val aligned = alignToTable(name, dir, df.schema, batch)
        Constraints.validate(aligned, Constraints.checks(dir)).foreach(m =>
          throw new IllegalStateException(
            s"COPY INTO $name rejected by CHECK constraint: $m"))
        Constraints.validateUniqueAppend(s, dir, aligned)
        aligned
      })
      if (nf > 0) { autoCompactOnPublish(s, name); TableStats.reanalyzeOnPublish(s, dir) }
      singleRow(s, Seq("name" -> name, "n_files_loaded" -> nf,
        "n_rows_loaded" -> nr, "n_files_skipped" -> ns))
    case InsertReplaceWhere(rawName, pred, select) =>
      // Atomic predicate-scoped overwrite (Delta's REPLACE WHERE): one
      // commit drops the window and lands the batch; the batch must
      // live inside the window (ParquetTable.replaceWhere enforces it),
      // CHECK constraints validate it before any file moves.
      val name = normalizeIdent(rawName)
      val (dir, df) = dmlTable(s, name)
      val result = sql(s, select)
      val aligned = alignToTable(name, dir, df.schema, result)
      Constraints.validate(aligned, Constraints.checks(dir)).foreach(m =>
        throw new IllegalStateException(
          s"INSERT INTO $name REPLACE WHERE rejected by CHECK constraint: $m"))
      val (nDel, nIns) = ParquetTable.replaceWhere(s, dir, pred.trim, aligned, dmlReadSchema(df))
      TableStats.reanalyzeOnPublish(s, dir)
      singleRow(s, Seq("name" -> name, "n_deleted" -> nDel, "n_inserted" -> nIns))
    case InsertOverwrite(rawName, select) =>
      // Full-table overwrite COMMIT: the new version holds exactly the
      // SELECT result; prior versions stay readable (time travel) until
      // vacuum — Delta's INSERT OVERWRITE semantics.
      val name = normalizeIdent(rawName)
      val (dir, df) = dmlTable(s, name)
      val result = sql(s, select).persist()
      try {
        val aligned = alignToTable(name, dir, df.schema, result)
        Constraints.validate(aligned, Constraints.checks(dir)).foreach(m =>
          throw new IllegalStateException(
            s"INSERT OVERWRITE $name rejected by CHECK constraint: $m"))
        Constraints.validateUniqueSnapshot(aligned, dir)
        val n = aligned.count()
        ParquetTable.swap(s, aligned, dir)
        TableStats.reanalyzeOnPublish(s, dir)
        singleRow(s, Seq("name" -> name, "n_inserted" -> n))
      } finally { result.unpersist(); () }
    // INSERT INTO t BY NAME SELECT ... — the Spark 3.5/DuckDB spelling
    // that matches source columns to target columns BY NAME regardless
    // of SELECT order. insertFrame is by-name by construction, so the
    // arm is pure spelling parity — but having it means statements
    // written for either engine run here verbatim.
    case InsertIntoByName(name, select) =>
      insertFrame(s, name, sql(s, select))
    case InsertInto(name, select) =>
      // Step 2: INSERT INTO ... SELECT — the SELECT goes back through
      // sql() so table_changes()/AS-OF rewrites compose; the append is
      // schema-enforced against the declared (or evolved) columns.
      insertFrame(s, name, sql(s, select))
    // INSERT INTO t (a, b, ...) SELECT ... | VALUES (...), (...) — the
    // column-list spelling: the source's outputs rename POSITIONALLY to
    // the listed columns, then the by-name path applies (omitted
    // generated/DEFAULT columns compute; anything else missing fails
    // the arity rule loudly).
    case InsertIntoCols(rawName, colsBody, rest) =>
      val cols = colsBody.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSeq
      require(cols.nonEmpty && cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
        s"INSERT INTO $rawName (...): the column list must name bare columns, got: $colsBody")
      require(cols.map(_.toLowerCase).distinct.size == cols.size,
        s"INSERT INTO $rawName (...): duplicate column in the list")
      val src =
        if (rest.trim.toUpperCase.startsWith("VALUES"))
          s.sql(s"SELECT * FROM ${rest.trim}")
        else sql(s, rest)
      require(src.columns.length == cols.size,
        s"INSERT INTO $rawName (${cols.mkString(", ")}): the source produces " +
          s"${src.columns.length} columns for ${cols.size} targets")
      insertFrame(s, rawName, src.toDF(cols: _*))
    // INSERT INTO t VALUES (...), (...) — positional against the FULL
    // table schema (use the column-list form to omit DEFAULT columns).
    case InsertIntoValues(rawName, valuesRest) =>
      val dir = resolve(s, rawName).dir
      val schema =
        if (ParquetTable.exists(dir)) ParquetTable.read(s, dir).schema
        else SchemaEvolution.readEvolved(s, dir).schema
      val src = s.sql(s"SELECT * FROM ${valuesRest.trim}")
      require(src.columns.length == schema.fields.length,
        s"INSERT INTO $rawName VALUES: ${src.columns.length} values per row for " +
          s"${schema.fields.length} columns — use INSERT INTO $rawName (cols...) " +
          "VALUES ... to omit DEFAULT columns")
      insertFrame(s, rawName, src.toDF(schema.fields.map(_.name).toIndexedSeq: _*))
    // CREATE TABLE t2 LIKE t — an empty manifest-only table with the
    // source's EVOLVED schema (renames/widens applied) and key columns;
    // no data, no properties (constraints/defaults are deliberate
    // choices, not copied silently).
    case CreateTableLike(rawNew, rawSrc) =>
      val nn = normalizeIdent(rawNew)
      require(!registry.of(s).contains(nn),
        s"CREATE TABLE LIKE: '$nn' is already registered — DROP it first")
      val srcRef = resolve(s, normalizeIdent(rawSrc))
      val schema =
        if (ParquetTable.exists(srcRef.dir)) ParquetTable.read(s, srcRef.dir).schema
        else SchemaEvolution.readEvolved(s, srcRef.dir).schema
      val likeDir = graft.tables.TmpDirs.create("graft-like")
        .resolve(dirNameFor(nn)).toString
      SchemaEvolution.createTable(s, likeDir,
        schema.fields.map(f => f.name -> f.dataType).toSeq)
      register(s, nn, likeDir, srcRef.keyCols)
      singleRow(s, Seq("name" -> nn, "like" -> normalizeIdent(rawSrc),
        "location" -> likeDir))
    // SHOW INDEXES ON|IN|FROM t — the posting indexes recorded by
    // CREATE INDEX, with per-index freshness (stale = a table commit
    // since the last build; lookups fall back to full scans until
    // CREATE INDEX re-runs or refreshIncremental catches up).
    case ShowIndexesStmt(rawName) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      import scala.jdk.CollectionConverters._
      val rows = properties(ref.dir).toSeq.collect {
        case (k, c) if k.startsWith("graft.index.") =>
          Row(k.stripPrefix("graft.index."), c,
            ValueIndex.fresh(ref.dir, c).toString)
      }.sortBy(_.getString(0))
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("index_name", StringType, nullable = false),
        StructField("column", StringType, nullable = false),
        StructField("fresh", StringType, nullable = false))))
    case CreateTableAs(rawName, select) =>
      // CTAS = CREATE TABLE (schema from the SELECT) + INSERT INTO in
      // one statement. Mirrors both arms' guards: re-run fails loudly
      // instead of shadowing, and the SELECT goes back through sql() so
      // table_changes()/AS-OF phrases compose.
      val name = normalizeIdent(rawName)
      require(!registry.of(s).contains(name),
        s"CREATE TABLE AS: '$name' is already registered — DROP/unregister it first")
      val result = sql(s, select).persist()
      try {
        val dir = graft.tables.TmpDirs.create("graft-ctas")
          .resolve(dirNameFor(name)).toString
        SchemaEvolution.createTable(s, dir,
          result.schema.fields.map(f => f.name -> f.dataType).toSeq)
        val n = result.count()
        SchemaEvolution.appendEvolved(s, result, dir)
        // Register only after data landed: a failing SELECT/write must
        // not leave a registered empty shell behind.
        register(s, name, dir)
        singleRow(s, Seq("name" -> name, "location" -> dir, "n_rows" -> n))
      } finally { result.unpersist(); () }
    case Reorg(rawName) =>
      reorgPurge(s, normalizeIdent(rawName))
    case ShowPartitions(rawName) =>
      showPartitions(s, normalizeIdent(rawName))
    case CommentOnTable(rawName, rawText) =>
      // Stored under the reserved 'comment' table property (where Delta
      // keeps it; SHOW TBLPROPERTIES surfaces it). Doubled '' is one
      // literal quote, per SQL string rules.
      val name = normalizeIdent(rawName)
      val text = rawText.replace("''", "'")
      setProperties(s, name, Seq("comment" -> text))
      singleRow(s, Seq("name" -> name, "comment" -> text))
    case DeleteFrom(rawName, pred) =>
      deleteFromSql(s, normalizeIdent(rawName), Option(pred))
    case UpdateTable(rawName, setBody, pred) =>
      updateSql(s, normalizeIdent(rawName), setBody, Option(pred))
    case MergeEvolveHead(rawName, tgtAlias, tail) =>
      mergeIntoSql(s, normalizeIdent(rawName), Option(tgtAlias), tail, evolve = true)
    case MergeIntoHead(rawName, tgtAlias, tail) =>
      mergeIntoSql(s, normalizeIdent(rawName), Option(tgtAlias), tail)
    case AddConstraint(rawName, cname, checkExpr) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      Constraints.addCheck(s, dir, cname, checkExpr.trim)
      // Mirrored into TBLPROPERTIES under the reserved prefix (where
      // Delta surfaces constraints), so SHOW TBLPROPERTIES lists it.
      setProperties(s, name, Seq(s"graft.constraints.$cname" -> checkExpr.trim))
      singleRow(s, Seq("name" -> name, "constraint" -> cname,
        "check" -> checkExpr.trim))
    // ADD CONSTRAINT ... UNIQUE (cols): table-level key enforcement —
    // validated over the live snapshot at ADD, then on every append /
    // overwrite (see Constraints' enforcement-boundary note).
    case AddUniqueConstraint(rawName, cname, colsBody) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      val cols = colsBody.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      Constraints.addUnique(s, dir, cname, cols)
      setProperties(s, name,
        Seq(s"graft.constraints.$cname" -> s"UNIQUE(${cols.mkString(",")})"))
      singleRow(s, Seq("name" -> name, "constraint" -> cname,
        "unique" -> cols.mkString(",")))
    // ALTER COLUMN c SET NOT NULL: spelled as the equivalent CHECK
    // (`c IS NOT NULL` is never UNKNOWN, so CHECK's null-passes rule
    // can't weaken it) — one manifest, one fused validation pass.
    case SetNotNull(rawName, colName) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      Constraints.addCheck(s, dir, s"nn_$colName", s"$colName IS NOT NULL")
      setProperties(s, name,
        Seq(s"graft.constraints.nn_$colName" -> s"$colName IS NOT NULL"))
      singleRow(s, Seq("name" -> name, "not_null" -> colName))
    // ALTER COLUMN c SET DEFAULT expr — write-time default (Delta
    // semantics): INSERT-class statements that OMIT the column compute
    // the stored expression instead of failing the arity rule; existing
    // rows are untouched (no silent backfill). The expression must be a
    // CONSTANT castable to the column's type — validated HERE, not at
    // first INSERT, by resolving it with no input columns.
    case SetDefault(rawName, colName, defExpr0) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      val defExpr = defExpr0.trim
      val schema =
        if (ParquetTable.exists(dir)) ParquetTable.read(s, dir).schema
        else SchemaEvolution.readEvolved(s, dir).schema
      val field = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
        throw new IllegalArgumentException(
          s"SET DEFAULT: no column '$colName' in '$name'"))
      val lc = colName.toLowerCase
      val props = properties(dir)
      require(!props.contains(s"graft.generated.$lc") &&
          !props.contains(s"graft.identity.$lc"),
        s"SET DEFAULT: column '$colName' is GENERATED — a generated column " +
          "computes its value, a default would never apply")
      try s.sql(s"SELECT CAST(($defExpr) AS ${field.dataType.sql})").collect()
      catch { case e: Exception => throw new IllegalArgumentException(
        s"SET DEFAULT: expression ($defExpr) must be a constant castable to " +
          s"${field.dataType.sql}: ${e.getMessage}") }
      setProperties(s, name, Seq(s"graft.default.$lc" -> defExpr))
      singleRow(s, Seq("name" -> name, "column" -> lc, "default" -> defExpr))
    case DropDefault(rawName, colName) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      val lc = colName.toLowerCase
      require(properties(dir).contains(s"graft.default.$lc"),
        s"DROP DEFAULT: column '$colName' of '$name' has no default")
      unsetProperty(s, name, s"graft.default.$lc")
      singleRow(s, Seq("name" -> name, "column" -> lc, "default_dropped" -> "true"))
    case DropConstraint(rawName, cname) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      if (Constraints.checks(dir).exists(_._1 == cname)) Constraints.dropCheck(dir, cname)
      else require(Constraints.dropUnique(dir, cname), s"no such check: $cname")
      unsetProperty(s, name, s"graft.constraints.$cname")
      singleRow(s, Seq("name" -> name, "dropped_constraint" -> cname))
    // SHOW CREATE TABLE — reconstruct runnable DDL from the metadata
    // layers (logical schema incl. renames/widens, column comments,
    // GENERATED/IDENTITY clauses, user TBLPROPERTIES, and the
    // constraints as trailing ALTER statements — the spelling that
    // round-trips through this same shim). Reserved graft.* properties
    // stay out of TBLPROPERTIES: their DDL clauses carry them.
    case ShowCreateTable(rawName) =>
      val name = normalizeIdent(rawName)
      val dir = resolve(s, name).dir
      val schema =
        if (ParquetTable.exists(dir)) ParquetTable.read(s, dir).schema
        else SchemaEvolution.readEvolved(s, dir).schema
      val comments = SchemaEvolution.manifestOf(dir).map(mf =>
          mf.comments.map { case (p, c) =>
            mf.mapping.logicalOf(p).getOrElse(p).toLowerCase -> c })
        .getOrElse(Map.empty[String, String])
      val props = properties(dir)
      def esc(t: String) = t.replace("'", "''")
      val genOf = props.collect { case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.").toLowerCase -> v }
      val identCols = props.keys.filter(_.startsWith("graft.identity."))
        .map(_.stripPrefix("graft.identity.").toLowerCase).toSet
      val defOf = props.collect { case (k, v) if k.startsWith("graft.default.") =>
        k.stripPrefix("graft.default.").toLowerCase -> v }
      val colDefs = schema.fields.map { f =>
        val lc = f.name.toLowerCase
        s"  ${f.name} ${f.dataType.sql}" +
          genOf.get(lc).map(g => s" GENERATED ALWAYS AS ($g)")
            .getOrElse(if (identCols(lc)) " GENERATED ALWAYS AS IDENTITY" else "") +
          comments.get(lc).map(c => s" COMMENT '${esc(c)}'").getOrElse("")
      }
      val userProps = props.filterNot { case (k, _) =>
        k.startsWith("graft.generated.") || k.startsWith("graft.identity.") ||
          k.startsWith("graft.constraints.") || k.startsWith("graft.default.")
      }.toSeq.sortBy(_._1)
      // DEFAULTs round-trip as trailing ALTER statements (the spelling
      // this shim executes — a DEFAULT in the column def is rejected).
      val defAlters = defOf.toSeq.sortBy(_._1).map { case (c, d) =>
        s"\nALTER TABLE $name ALTER COLUMN $c SET DEFAULT $d;" }
      val tblProps =
        if (userProps.isEmpty) ""
        else "\nTBLPROPERTIES (" +
          userProps.map { case (k, v) => s"'${esc(k)}' = '${esc(v)}'" }.mkString(", ") + ")"
      val alters = defAlters ++
        Constraints.checks(dir).map { case (cn, ce) =>
          s"\nALTER TABLE $name ADD CONSTRAINT $cn CHECK ($ce);" } ++
        Constraints.uniques(dir).map { case (cn, cs) =>
          s"\nALTER TABLE $name ADD CONSTRAINT $cn UNIQUE (${cs.mkString(", ")});" }
      singleRow(s, Seq("createtab_stmt" ->
        (s"CREATE TABLE $name (\n${colDefs.mkString(",\n")}\n)$tblProps;" + alters.mkString)))
    // CREATE VECTOR INDEX vi ON src (embCol) KEY idCol [CELLS n] — one
    // IVF build (centroid seed + hive cell partitioning, IvfIndex's
    // documented layout) into an index-managed dir; n defaults to the
    // corpus-scaled autoCells bound so cell SIZE stays fixed as the
    // table grows. Re-CREATE of a live name is rejected (DROP first),
    // mirroring CREATE TABLE's re-run guard.
    case CreateVectorIndex(idxName, srcName, embCol, keyCol, cellsOpt) =>
      val key = idxName.toLowerCase
      require(!vectorIndexes.of(s).contains(key),
        s"vector index '$idxName' already exists — DROP VECTOR INDEX $idxName first")
      val src = sql(s, s"SELECT $keyCol AS vec_id, $embCol AS embedding FROM $srcName")
      val n = src.count()
      val cells = Option(cellsOpt).map(_.toInt)
        .getOrElse(graft.sim.IvfIndex.autoCells(n))
      val dir = graft.tables.TmpDirs.create("graft-vidx")
        .resolve(key).toString
      graft.sim.IvfIndex.build(s, src, cells, dir)
      vectorIndexes.of(s).put(key, dir)
      singleRow(s, Seq("name" -> key, "n_vectors" -> n, "cells" -> cells))
    // CREATE INDEX ix ON t (col) — the reference source schema's own
    // secondary-index spelling (db/oracle-ddl.sql:56), here backed by
    // the exact file-posting ValueIndex: postings beside the version
    // dirs, version-stamped, rebuilt by re-running CREATE. Lookups
    // compose in SQL via index_lookup('t','col',lo,hi).
    case CreateIndexStmt(ixName, rawName, colName) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      require(ParquetTable.exists(ref.dir),
        s"CREATE INDEX: '$name' is not a versioned table")
      val schema = ParquetTable.read(s, ref.dir).schema
      val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE INDEX: no column '$colName' in '$name'"))
      require(Seq("tinyint", "smallint", "int", "bigint")
          .contains(f.dataType.simpleString),
        s"CREATE INDEX: column '$colName' is ${f.dataType.simpleString} — " +
          "the posting index supports integral columns")
      // One index per column, unique names: the layout lives at
      // _VIDX_<col>, so a second index on the same column would share
      // (and on DROP destroy) the first one's postings; a reused name
      // would orphan its old column's layout.
      val priorIdx = properties(ref.dir).collect {
        case (k, c) if k.startsWith("graft.index.") =>
          k.stripPrefix("graft.index.") -> c }
      require(!priorIdx.contains(ixName.toLowerCase) ||
          priorIdx(ixName.toLowerCase) == colName.toLowerCase,
        s"CREATE INDEX: '$ixName' already indexes column " +
          s"'${priorIdx(ixName.toLowerCase)}' — DROP INDEX first")
      priorIdx.find { case (n0, c) =>
        c == colName.toLowerCase && n0 != ixName.toLowerCase }.foreach { case (n0, _) =>
        throw new IllegalArgumentException(
          s"CREATE INDEX: column '$colName' is already indexed by '$n0' " +
            "(one posting layout per column) — DROP INDEX $n0 first or re-run CREATE INDEX $n0 to rebuild")
      }
      val n = ValueIndex.build(s, ref.dir, colName)
      setProperties(s, name,
        Seq(s"graft.index.${ixName.toLowerCase}" -> colName.toLowerCase))
      singleRow(s, Seq("name" -> ixName.toLowerCase, "table" -> name,
        "column" -> colName.toLowerCase, "n_postings" -> n))
    case DropIndexStmt(ixName, rawName) =>
      val name = normalizeIdent(rawName)
      val ref = resolve(s, name)
      val key = s"graft.index.${ixName.toLowerCase}"
      val colOpt = properties(ref.dir).get(key)
      require(colOpt.isDefined,
        s"DROP INDEX: no index '${ixName.toLowerCase}' on '$name'")
      ValueIndex.deleteTree(java.nio.file.Paths.get(ref.dir, s"_VIDX_${colOpt.get}"))
      unsetProperty(s, name, key)
      singleRow(s, Seq("name" -> ixName.toLowerCase, "table" -> name,
        "dropped" -> "true"))
    case DropVectorIndex(idxName) =>
      val removed = vectorIndexes.of(s).remove(idxName.toLowerCase)
      require(removed.isDefined, s"vector index '$idxName' does not exist")
      // Delete the IVF layout on disk (CREATE built it under a private
      // temp dir); without this, CREATE/DROP cycles accumulate disk.
      // The registry entry removal above also unpins the dir string —
      // the map holds no layout objects, just paths, so removing the
      // entry is the full in-memory cleanup.
      removed.foreach { dir =>
        val root = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
          finally walk.close()
        }
        // the temp parent created by CREATE holds only this index
        val parent = root.getParent
        if (parent != null && parent.getFileName.toString.startsWith("graft-vidx"))
          java.nio.file.Files.deleteIfExists(parent)
      }
      singleRow(s, Seq("name" -> idxName.toLowerCase, "dropped" -> "true"))
    // ASOF [LEFT] JOIN — the DuckDB/QuestDB point-in-time join spelling
    // (OSS Spark has no ASOF syntax). Rewritten onto the engine's
    // union-window as-of plan (TemporalJoins): ONE shuffle of both
    // sides on the key, never a per-row range probe. Top-level only,
    // aliases required, qualified column refs required downstream.
    // Guarded on BOTH the top-level word and the full FROM..JOIN shape:
    // `asof` as an ordinary identifier (SELECT asof FROM t) must fall
    // through to Spark untouched.
    case q if topLevelWordIndices(q.trim.replaceAll(";\\s*$", ""), "ASOF").nonEmpty &&
        AsofFrom.findFirstMatchIn(q).isDefined =>
      rewriteAsofJoin(s, q.trim.replaceAll(";\\s*$", ""))
    // TABLESAMPLE (p PERCENT) [REPEATABLE (seed)] — defined here as
    // CONTENT-STABLE hash sampling on the table's registered key
    // columns, NOT an RNG: the same rows are kept on any run, any
    // partitioning, any cluster size (the reproducibility a training
    // pipeline needs when the corpus is resampled incrementally). The
    // predicate is a codegen'd hash compare pushed into the scan — no
    // sampling operator, no row numbering, no shuffle.
    // Guarded on the full `name TABLESAMPLE (p PERCENT)` shape so other
    // TABLESAMPLE spellings (ROWS, BUCKET) and identifier uses fail in
    // Spark's parser with its own message, never loop back here.
    case q if topLevelWordIndices(q.trim.replaceAll(";\\s*$", ""), "TABLESAMPLE").nonEmpty &&
        Tablesample.findFirstMatchIn(q).isDefined =>
      rewriteTablesample(s, q.trim.replaceAll(";\\s*$", ""))
    // QUALIFY — filter on window-function results without the manual
    // subquery (the DuckDB/Snowflake/Databricks spelling; OSS Spark has
    // no QUALIFY clause). Top-level only: a QUALIFY inside a subquery
    // passes through to spark.sql and fails in its parser, loudly,
    // rather than being silently half-rewritten.
    case q if topLevelWordIndices(q.trim.replaceAll(";\\s*$", ""), "QUALIFY").nonEmpty =>
      rewriteQualify(s, q.trim.replaceAll(";\\s*$", ""))
    case _ =>
      // Metadata-only COUNT(*) (the Delta/Iceberg "answer from the
      // snapshot's stats" path, and Spark's OptimizeMetadataOnlyQuery
      // analog): a bare `SELECT count(*) FROM t` over a registered
      // versioned table with FRESH ANALYZE stats returns the stamped
      // row_count with ZERO file IO — at 100 TB the difference between
      // a dashboard millisecond and a full scan. Exactness is the
      // stamp's contract: ANY version-moving commit invalidates it, so
      // a stale count can never serve (the same gate broadcast
      // decisions use). Then the transparent MV rewrite (mvRewriteOf);
      // both evaluated ONCE — a pattern guard would re-run their
      // registry scans and temp-view mounts in the body.
      metadataCountOf(s, statement).orElse(mvRewriteOf(s, statement)).getOrElse {
      // table_files('t') — the Delta/Iceberg "files metadata table" as a
      // table-valued phrase: per-file path, byte size, and row count of
      // the LIVE snapshot, materialized as a temp view (same rewrite
      // mechanics as table_changes).
      // vector_search('idx', 'probes', k) — ANN top-k per probe row as
      // a table-valued phrase: probes (a view/table with vec_id +
      // embedding) search the named persisted IVF index; only the
      // probed cell directories are read (partition pruning does the
      // inverted-file part), scoring is the codegen'd cosine.
      val statementV = VectorSearch.replaceAllIn(statement, m => {
        if (inLiteral(statement, m.start))
          scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val (idx, probeSrc, k) = (m.group(1).toLowerCase, m.group(2), m.group(3).toInt)
          val dir = vectorIndexes.of(s).getOrElse(idx,
            throw new IllegalArgumentException(
              s"vector index '$idx' does not exist — CREATE VECTOR INDEX first"))
          val view = s"__graft_vs_${idx}_${probeSrc.replaceAll("[^A-Za-z0-9_]", "_")}_$k"
          graft.sim.IvfIndex.search(s, dir, sql(s, s"SELECT * FROM $probeSrc"), k)
            .createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        }
      })
      // index_lookup('t','col',lo,hi) — the posting-index range lookup
      // as a table-valued phrase: only files truly containing matching
      // values open (ValueIndex; full-scan fallback when stale).
      val statementI = IndexLookup.replaceAllIn(statementV, m => {
        if (inLiteral(statementV, m.start))
          scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val (t, c) = (normalizeIdent(m.group(1)), m.group(2))
          val (lo, hi) = (m.group(3).toLong, m.group(4).toLong)
          val view = (s"__graft_il_${viewToken(t)}_${c}_${lo}_$hi")
            .replace("-", "m")
          ValueIndex.scanRange(s, resolve(s, t).dir, c, lo, hi)
            .createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        }
      })
      val statementF = TableFiles.replaceAllIn(statementI, m => {
        if (inLiteral(statementI, m.start))
          scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val name = m.group(1)
          val view = s"__graft_tf_${name.replaceAll("[^A-Za-z0-9_]", "_")}"
          tableFiles(s, name).createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        }
      })
      val statement0 = TableHistory.replaceAllIn(statementF, m => {
        if (inLiteral(statementF, m.start))
          scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val name = m.group(1)
          val view = s"__graft_th_${name.replaceAll("[^A-Za-z0-9_]", "_")}"
          describeHistory(s, resolve(s, name).dir, None)
            .createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        }
      })
      var rewritten = TableChanges.replaceAllIn(statement0, m => {
        if (inLiteral(statement0, m.start))
          scala.util.matching.Regex.quoteReplacement(m.matched)
        else {
          val (name, v1, v2) = (m.group(1), m.group(2).toLong, m.group(3).toLong)
          // View names must be valid identifiers whatever the registered
          // name contains; quoteReplacement guards the Matcher's $/\
          // substitution rules on the returned string.
          val view = s"__graft_tc_${name.replaceAll("[^A-Za-z0-9_]", "_")}_${v1}_$v2"
          tableChanges(s, name, v1, v2).createOrReplaceTempView(view)
          scala.util.matching.Regex.quoteReplacement(view)
        }
      })
      // Time-travel FROM phrases: each `t VERSION AS OF n` /
      // `t TIMESTAMP AS OF 'ts'` over a REGISTERED table materializes the
      // selected snapshot as a temp view; unregistered identifiers (SQL
      // that happens to shape-match) pass through untouched. Full SQL
      // around the phrase composes via spark.sql, same as table_changes.
      // quoteReplacement on BOTH arms: the pass-through literal may
      // contain '$'/'\' (e.g. inside a TIMESTAMP AS OF string), which
      // Matcher.appendReplacement would otherwise interpret.
      val afterTc = rewritten
      rewritten = VersionAsOf.replaceAllIn(afterTc, m => {
        val (key, v) = (normalizeIdent(m.group(1)), m.group(2).toLong)
        scala.util.matching.Regex.quoteReplacement(
          if (inLiteral(afterTc, m.start) || !registry.of(s).contains(key)) m.matched
          else {
            val view = s"__graft_v_${viewToken(key)}_$v"
            snapshotAt(s, key, v).createOrReplaceTempView(view)
            view
          })
      })
      // Tag spelling AFTER the numeric pass (disjoint patterns: quoted
      // vs bare digits). Resolves through _TAGS; a registered table
      // without the tag fails loudly — a silently-current read of a
      // misspelled tag would defeat the reproducibility contract.
      val afterVTag = rewritten
      rewritten = VersionAsOfTag.replaceAllIn(afterVTag, m => {
        val (key, tag) = (normalizeIdent(m.group(1)), m.group(2))
        scala.util.matching.Regex.quoteReplacement(
          if (inLiteral(afterVTag, m.start) || !registry.of(s).contains(key)) m.matched
          else {
            val v = Tags.versionOf(resolve(s, key).dir, tag).getOrElse(
              throw new IllegalArgumentException(s"table '$key' has no tag '$tag'"))
            val view = s"__graft_vt_${viewToken(key)}_$v"
            snapshotAt(s, key, v).createOrReplaceTempView(view)
            view
          })
      })
      val afterV = rewritten
      rewritten = TimestampAsOf.replaceAllIn(afterV, m => {
        val (key, ts) = (normalizeIdent(m.group(1)), m.group(2))
        scala.util.matching.Regex.quoteReplacement(
          if (inLiteral(afterV, m.start) || !registry.of(s).contains(key)) m.matched
          else {
            val millis = parseTsUtc(ts)
            val view = s"__graft_t_${viewToken(key)}_$millis"
            snapshotAsOf(s, key, millis).createOrReplaceTempView(view)
            view
          })
      })
      // Dotted registered names cannot mount under their own spelling
      // (a temp view name is single-part): every occurrence — bare,
      // backquoted, or mixed per part — rewrites to a sanitized mount
      // token first. Longest names first, so `a.b.c` never half-matches
      // as `a.b`. Runs BEFORE the plain mounts below: once `db.t` has
      // become a token, a plain registered `t` can no longer word-match
      // inside it.
      withNameLocks(s, mountedNames(s, rewritten)) {
      val dottedRestores = registry.of(s).keysIterator
        .filter(_.contains(".")).toSeq.sortBy(-_.length)
        .flatMap { name =>
          val before = rewritten
          var found = false
          val token = s"__graft_n_${viewToken(name)}"
          rewritten = dottedIdentRegex(name).replaceAllIn(before, m =>
            scala.util.matching.Regex.quoteReplacement(
              if (inLiteral(before, m.start)) m.matched
              else { found = true; token }))
          if (!found) None
          else {
            mountFrame(s, name).createOrReplaceTempView(token)
            Some(() => { s.catalog.dropTempView(token); () })
          }
        }
      // Plain references to REGISTERED tables: each name mentioned in the
      // (rewritten) statement materializes as a temp view of its current
      // evolved snapshot, so `SELECT ... FROM t JOIN u ...` works through
      // the shim without the caller pre-creating views. A table with
      // FRESH ANALYZE stats that clear the broadcast bar mounts with a
      // `broadcast()` hint — the stats-driven plan change, made where a
      // catalog would make it (CBO over pinned row counts, not the
      // file-size proxy). Mounts are STATEMENT-SCOPED: registered names
      // win inside GraftSql.sql, but a pre-existing same-named user temp
      // view is restored afterwards (and a mount that shadowed nothing
      // is dropped), so the session catalog is left as found. The AS-OF
      // / table_changes rewrites above produced `__graft_*` view tokens,
      // which cannot word-match a registered name.
      // Graft-managed VIEWS expand first: each referenced view's stored
      // SQL re-enters sql() (phrases/mounts/nested views compose) and
      // the resulting lazy frame mounts under the view's name —
      // statement-scoped and restored like the table mounts below. The
      // depth counter turns a view cycle into a loud error instead of
      // a stack overflow.
      val viewRestores = viewRegistry.of(s).keysIterator
        .filter(wordOutsideQuotes(rewritten, _))
        .map { n =>
          val priorTemp = scala.util.Try(s.catalog.getTable(n)).toOption
            .filter(_.isTemporary).map(_ => s.table(n))
          viewDepth.set(viewDepth.get + 1)
          try {
            require(viewDepth.get <= 10,
              s"view expansion exceeds depth 10 at '$n' — circular view definitions?")
            sql(s, viewRegistry.of(s)(n)).createOrReplaceTempView(n)
          } finally viewDepth.set(viewDepth.get - 1)
          () => priorTemp match {
            case Some(saved) => saved.createOrReplaceTempView(n)
            case None => s.catalog.dropTempView(n); ()
          }
        }.toSeq
      val restores = registry.of(s).keysIterator
        .filter(!_.contains("."))
        .filter(wordOutsideQuotes(rewritten, _))
        .map { name =>
          val priorTemp = scala.util.Try(s.catalog.getTable(name)).toOption
            .filter(_.isTemporary).map(_ => s.table(name))
          mountFrame(s, name).createOrReplaceTempView(name)
          () => priorTemp match {
            case Some(saved) => saved.createOrReplaceTempView(name)
            case None => s.catalog.dropTempView(name); ()
          }
        }.toSeq
      // s.sql analyzes eagerly, so the returned frame's plan has already
      // captured the mounted views — restoring afterwards cannot change
      // its meaning.
      try s.sql(rewritten)
      finally (dottedRestores ++ viewRestores ++ restores).foreach(_())
      }
      }
  }

  /** One lock per registered table or view name and session. The
    * fall-through arm of [[sql]] mounts each name it mentions as a
    * session temp view, analyzes, and puts back whatever temp view the
    * name had before; two statements on the same name at once would
    * otherwise analyze against each other's mounts and restore each
    * other's mount in place of the user's view. */
  private val nameLocks =
    new SessionMemo[String, java.util.concurrent.locks.ReentrantLock]

  /** Registered table and view names `text` mentions outside literals,
    * closed over the stored SQL of the views among them: every name the
    * statement's mounts and nested view expansions will mount. */
  private def mountedNames(s: SparkSession, text: String): Set[String] = {
    val views = viewRegistry.of(s)
    def mentioned(t: String): Set[String] =
      (registry.of(s).keysIterator ++ views.keysIterator).filter { n =>
        if (n.contains("."))
          dottedIdentRegex(n).findAllMatchIn(t).exists(m => !inLiteral(t, m.start))
        else wordOutsideQuotes(t, n)
      }.toSet
    var found = Set.empty[String]
    var next = mentioned(text)
    while (next.nonEmpty) {
      found ++= next
      next = next.flatMap(n => views.get(n).toSeq.flatMap(mentioned)) -- found
    }
    found
  }

  /** Runs `body` holding the locks of `names`, taken in sorted order.
    * They are reentrant and a statement takes its whole closure up
    * front, so a nested view expansion only re-enters locks its thread
    * already holds and two statements cannot wait on each other. */
  private def withNameLocks[T](s: SparkSession, names: Set[String])(body: => T): T = {
    val locks = names.toSeq.sorted.map(n =>
      nameLocks.of(s).getOrElseUpdate(n, new java.util.concurrent.locks.ReentrantLock))
    locks.foreach(_.lock())
    try body
    finally locks.reverseIterator.foreach(_.unlock())
  }

  /** Metadata-only COUNT(*): `SELECT count(*) [AS a] FROM t` answered
    * from the fresh-stamped `_TABLE_STATS` row count (see the sql()
    * fall-through comment). Column name matches the passthrough plan's
    * (`count(1)` unless aliased) so the fast path is schema-invisible.
    * Conf default-ON: `spark.graft.metadataCount.enabled=false`. */
  private def metadataCountOf(s: SparkSession, statement: String): Option[DataFrame] = {
    if (!scala.util.Try(
        s.conf.get("spark.graft.metadataCount.enabled", "true").toBoolean).getOrElse(true))
      return None
    statement.trim match {
      case CountStarStmt(alias, rawName) =>
        registry.of(s).get(normalizeIdent(rawName)).flatMap { ref =>
          if (!ParquetTable.exists(ref.dir)) None
          // Deletion-vector snapshots: ANALYZE counted the RAW files
          // (DV-deleted rows included), so a stamped count would
          // overcount — same refusal convention as ValueIndex, routed
          // to the real plan instead of a loud error here.
          else if (java.nio.file.Files.isDirectory(java.nio.file.Paths
              .get(ParquetTable.currentPath(ref.dir)).resolve("_dv"))) None
          else TableStats.fresh(ref.dir).map { st =>
            singleRow(s, Seq(Option(alias).getOrElse("count(1)") -> st.rowCount))
          }
        }
      case _ => None
    }
  }

  /** Transparent materialized-view rewrite — the classic warehouse
    * optimizer feature (Oracle query rewrite / Databricks MV routing):
    * a statement of the maintainable shape `SELECT <group cols>,
    * COUNT(*) AS a[, SUM(col) AS b...] FROM <base> GROUP BY <group
    * cols>` over a registered versioned table is answered from a
    * registered materialized view instead WHEN one exactly covers it:
    *
    *  - the MV's base IS the query's table, and its `_MV` stamp names
    *    the base's LIVE version (staleness → no rewrite, the base is
    *    read — never stale answers);
    *  - the query's GROUP BY is a SUBSET of the MV's (re-aggregation:
    *    COUNT(*) → SUM(n), SUM(c) → SUM(s_c); the MV's NULL-sum
    *    group-death semantics make this exact, including all-NULL
    *    groups);
    *  - every queried SUM column is maintained by the MV.
    *
    * Result TYPES are pinned to what the direct query would produce
    * (SUM over DECIMAL(p,s) re-casts to DECIMAL(min(p+10,38),s), the
    * rest to BIGINT), so the rewrite is schema-invisible. At 100 TB the
    * win is the point of MVs: the scan drops from the fact table to a
    * rollup bounded by group cardinality. Exact-only and conf-gated
    * default-ON (`spark.graft.mvRewrite.enabled=false` to disable). */
  private def mvRewriteOf(s: SparkSession, statement: String): Option[DataFrame] = {
    if (!scala.util.Try(
        s.conf.get("spark.graft.mvRewrite.enabled", "true").toBoolean).getOrElse(true))
      return None
    statement.trim match {
      case MvSelect(items, rawBase, groupBody) =>
        val baseName = normalizeIdent(rawBase)
        val baseRef = registry.of(s).get(baseName).getOrElse(return None)
        if (!graft.streaming.ParquetTable.exists(baseRef.dir)) return None
        val its = items.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val groups = groupBody.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (groups.isEmpty || !groups.forall(MvColItem.matches(_))) return None
        val bare = its.filter(MvColItem.matches(_))
        if (bare.sorted != groups.sorted) return None
        val counts = its.collect { case MvCountItem(a) => a }
        val sums = its.collect { case MvSumItem(c, a) => (c, a) }
        if (bare.size + counts.size + sums.size != its.size) return None
        // Aggregate-free GROUP BY (the dedup spelling) is valid SQL but
        // not this rewrite's shape — agg() below needs >= 1 aggregate.
        if (counts.isEmpty && sums.isEmpty) return None
        val liveBaseV = scala.util.Try(graft.streaming.VersionNames.idOf(
          graft.streaming.ParquetTable.currentVersion(baseRef.dir)))
          .getOrElse(return None)
        val cand = registry.of(s).keysIterator.toSeq.sorted
          .flatMap { n =>
            val d = registry.of(s)(n).dir
            if (!java.nio.file.Files.exists(java.nio.file.Paths.get(d, "_MV"))) None
            else scala.util.Try(MaterializedView.readDef(d)).toOption
              .filter(mv => mv.base == baseRef.dir &&
                mv.refreshedVersion == liveBaseV &&
                groups.forall(g => mv.groupCols.exists(_.equalsIgnoreCase(g))) &&
                sums.forall { case (c, _) =>
                  mv.sums.exists(_._2.equalsIgnoreCase(c)) })
              .map(n -> _)
          }.headOption
        cand.map { case (mvName, mvDef) =>
          val mv = mountFrame(s, mvName)
          val baseSchema = TableStats.readCurrent(s, baseRef.dir).schema
          def directSumType(c: String): DataType =
            baseSchema.find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
              case Some(d: DecimalType) =>
                DecimalType(math.min(d.precision + 10, 38), d.scale)
              case _ => LongType
            }
          val aggExprs =
            counts.map(a => sum(col(mvDef.countName)).cast(LongType).as(a)) ++
            sums.map { case (c, a) =>
              val mvCol = mvDef.sums.find(_._2.equalsIgnoreCase(c)).get._1
              sum(col(mvCol)).cast(directSumType(c)).as(a)
            }
          val agg = mv.groupBy(groups.map(col): _*)
            .agg(aggExprs.head, aggExprs.tail: _*)
          val outNames = its.map {
            case MvCountItem(a) => a
            case MvSumItem(_, a) => a
            case g => g
          }
          agg.select(outNames.map(col): _*)
        }
      case _ => None
    }
  }

  /** Parse the restricted CREATE MATERIALIZED VIEW select shape into
    * (base, groupCols, countName, sums) — see [[MaterializedView]] for
    * why only this class is accepted. */
  private def parseMvSelect(select: String)
      : (String, Seq[String], String, Seq[(String, String)]) = select match {
    case MvSelect(items, base, groupBody) =>
      val parsed = items.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map {
        case MvCountItem(n) => Left(n)
        case MvSumItem(c, n) => Right(n -> c)
        case MvColItem() => null // group column — validated against GROUP BY below
        case other => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW: unsupported select item '$other' — " +
            "only group columns, COUNT(*) AS n, and SUM(col) AS s are maintainable")
      }
      val groupItems = items.split(",").map(_.trim).filter(MvColItem.matches(_)).toSeq
      val counts = parsed.collect { case Left(n) => n }
      val sums = parsed.collect { case Right(p) => p }
      require(counts.size == 1,
        s"CREATE MATERIALIZED VIEW: exactly one COUNT(*) AS ... is required " +
          s"(it decides group liveness); got ${counts.size}")
      val groups = groupBody.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      groups.foreach(g => require(MvColItem.matches(g),
        s"CREATE MATERIALIZED VIEW: GROUP BY must list bare columns, got '$g'"))
      require(groupItems.sorted == groups.sorted,
        s"CREATE MATERIALIZED VIEW: select's bare columns ${groupItems.mkString(",")} " +
          s"must equal GROUP BY ${groups.mkString(",")}")
      (base, groups, counts.head, sums)
    case _ => throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW: the definition must be " +
        "SELECT <group cols>, COUNT(*) AS n[, SUM(col) AS s...] FROM <table> GROUP BY <group cols>")
  }

  /** A registered table's current evolved snapshot, wrapped in a
    * `broadcast()` hint when FRESH ANALYZE stats clear the bar — the
    * one mount frame both the plain and dotted paths share. A
    * materialized view mounts its DECLARED columns only (the `_nn_*`
    * maintenance counters stay internal). */
  /** CACHE TABLE entries: (session, name) → (freshness stamp at cache
    * time, persisted frame). Validated per mount; see the CACHE arm. */
  private val cachedTables =
    new SessionMemo[String, (String, DataFrame)]

  private def mountFrame(s: SparkSession, name: String): DataFrame = {
    val dir = resolve(s, name).dir
    try {
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_MV")))
        return MaterializedView.read(s, dir)
      // no non-local return here: a lambda `return` inside this try
      // would surface as NonLocalReturnControl and be eaten by the
      // catch-all below
      val hit = cachedTables.of(s).get(name) match {
        case Some((stamp, cached)) if stamp == TableStats.currentStamp(dir) =>
          Some(cached)
        case Some((_, cached)) =>
          // the table moved under the cache — retire it, mount fresh
          cached.unpersist()
          cachedTables.of(s).remove(name)
          None
        case None => None
      }
      hit.getOrElse {
        val df = TableStats.readCurrent(s, dir)
        if (TableStats.broadcastWorthy(s, dir, df.schema)) broadcast(df) else df
      }
    } catch {
      case e: Throwable => throw new IllegalStateException(
        s"GraftSql: failed to mount registered table '$name' at $dir", e)
    }
  }

  /** Temp-view-safe token for a canonical name: word chars pass, dots
    * (and anything else) become '_', with a hash tail so distinct
    * canonical names can never collide after sanitization (`a.b` vs
    * `a_b`). */
  private def viewToken(key: String): String = {
    val clean = key.replaceAll("[^A-Za-z0-9_]", "_")
    if (clean == key) key else s"${clean}_${key.hashCode & 0x7fffffff}"
  }

  /** Filesystem dir segment for a (possibly dotted) canonical name. */
  private def dirNameFor(name: String): String = viewToken(name)

  /** Regex matching every SQL spelling of the canonical dotted `name`:
    * each part bare or backquoted, optional whitespace around dots,
    * case-insensitive, not touching a longer identifier on either side. */
  private def dottedIdentRegex(name: String): scala.util.matching.Regex = {
    val q = java.util.regex.Pattern.quote _
    val body = name.split('.')
      .map(p => s"(?:${q(p)}|`${q(p)}`)")
      .mkString("""\s*\.\s*""")
    ("(?i)(?<![A-Za-z0-9_`.])" + body + "(?![A-Za-z0-9_`.])").r
  }

  /** Case-insensitive whole-word occurrence of `word` outside
    * single-quoted literals, at ANY nesting depth (unlike
    * [[topLevelWord]], which is depth-0 only) — a registered table name
    * inside a subquery still counts; one inside a string literal is
    * data. */
  private def wordOutsideQuotes(text: String, word: String): Boolean = {
    var inQuote = false
    var i = 0
    val n = text.length
    val w = word.length
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote && text.regionMatches(true, i, word, 0, w) &&
          (i == 0 || !isWordChar(text.charAt(i - 1))) &&
          (i + w >= n || !isWordChar(text.charAt(i + w))))
        return true
      i += 1
    }
    false
  }

  /** True when `pos` falls inside a single-quoted SQL literal of `text`,
    * tracked by quote parity up to `pos` (a doubled '' escape toggles
    * twice and nets out). The in-query rewrites (table_changes, VERSION/
    * TIMESTAMP AS OF) must skip such matches: a registered table name
    * followed by an AS-OF phrase INSIDE a string literal is data, and
    * rewriting it would corrupt the literal. */
  private def inLiteral(text: String, pos: Int): Boolean = {
    var q = false
    var i = 0
    while (i < pos) {
      if (text.charAt(i) == '\'') q = !q
      i += 1
    }
    q
  }

  /** Resolve ABSOLUTE version ids to their version directory names from
    * one read of the version list (a second read could see a concurrent
    * publish). Only published versions are in the list: a writer that
    * crashed between its version-dir move and its publish leaves a
    * complete-looking dir that was never acknowledged — resolving it
    * would read a PHANTOM commit through `VERSION AS OF` (and RESTORE
    * could resurrect it). */
  private def versionNamesOf(name: String, dir: String, vs: Long*): Seq[String] = {
    val names = ParquetTable.snapshots(dir)
    vs.map { v =>
      names.find(graft.streaming.VersionNames.idOf(_) == v).getOrElse(
        throw new IllegalArgumentException(s"table '$name' has no published version $v " +
          s"(have: ${names.map(graft.streaming.VersionNames.idOf)})"))
    }
  }

  /** Snapshot with ABSOLUTE version id `v` of a registered table —
    * through the table's CURRENT `_SCHEMA` manifest when one exists, so
    * a renamed/widened table time-travels under its logical column
    * names and types (Delta column-mapping semantics), not the physical
    * parquet names of the old snapshot. */
  private def snapshotAt(s: SparkSession, name: String, v: Long): DataFrame = {
    val ref = resolve(s, name)
    SchemaEvolution.readEvolvedAt(
      s, ref.dir, s"${ref.dir}/${versionNamesOf(name, ref.dir, v).head}")
  }

  /** TIMESTAMP AS OF twin of [[snapshotAt]]: newest snapshot published
    * at or before `millis`, read through the current manifest. */
  private def snapshotAsOf(s: SparkSession, name: String, millis: Long): DataFrame = {
    val ref = resolve(s, name)
    SchemaEvolution.readEvolvedAt(s, ref.dir, s"${ref.dir}/${ParquetTable.versionAsOf(ref.dir, millis)}")
  }

  /** 'yyyy-MM-dd[ HH:mm:ss[.fraction]]' (or ISO 'T' form) as UTC epoch
    * millis — the session timezone is pinned to UTC, so AS OF literals
    * are too. java.time's ISO parser handles 0-9 fraction digits with
    * correct place value (SimpleDateFormat's 'SSS' would read '.5' as
    * 5 ms and reject microsecond literals outright). */
  private def parseTsUtc(ts: String): Long = {
    val t = ts.trim.replace(' ', 'T')
    val ldt =
      if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
      else java.time.LocalDateTime.parse(t)
    ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  /** RESTORE ... TO TIMESTAMP AS OF: roll back to the newest snapshot
    * published at or before the literal, committed as a NEW version
    * (reference db/table_maintenance.sql:101). */
  def restoreToTimestamp(s: SparkSession, name: String, ts: String): DataFrame = {
    val ref = resolve(s, name)
    restoreTo(s, name,
      graft.streaming.VersionNames.idOf(ParquetTable.versionAsOf(ref.dir, parseTsUtc(ts))))
  }

  /** CREATE TABLE new SHALLOW|DEEP CLONE src (reference
    * db/table_maintenance.sql:81-90): the clone lands as a sibling
    * directory of the source table and is registered under its new name
    * with the source's key columns. */
  def cloneTable(s: SparkSession, newName: String, shallow: Boolean, srcName: String): DataFrame = {
    val name = normalizeIdent(newName)
    val src = resolve(s, srcName)
    val dst = java.nio.file.Paths.get(src.dir).toAbsolutePath.normalize
      .resolveSibling(dirNameFor(name)).toString
    // Mirror the CREATE TABLE re-run guard: without these, a re-run (or
    // a same-named unrelated sibling dir) of DEEP CLONE would silently
    // swap() a new version ONTO the existing table instead of failing
    // the way CREATE TABLE and shallowClone's !exists guard do.
    require(!registry.of(s).contains(name),
      s"CREATE TABLE ... CLONE: '$name' is already registered — DROP/unregister it first")
    require(!ParquetTable.exists(dst),
      s"CREATE TABLE ... CLONE: destination already holds a table: $dst")
    if (shallow) ParquetTable.shallowClone(src.dir, dst)
    else ParquetTable.deepClone(s, src.dir, dst)
    register(s, name, dst, src.keyCols)
    singleRow(s, Seq(
      "name" -> name, "kind" -> (if (shallow) "shallow" else "deep"),
      "source" -> normalizeIdent(srcName), "location" -> dst))
  }

  /** REORG TABLE t APPLY (PURGE) — the physical-purge maintenance
    * statement (Delta's spelling): rewrite the live snapshot so
    * soft-deleted state is physically gone. Deletion-vector rows fold
    * in (the rewrite reads merge-on-read) and tombstoned dropped
    * columns' DATA stops being carried; the result commits bin-packed
    * to the file-health target as a NEW version. The `_SCHEMA` manifest
    * is deliberately untouched: physical names stay stable (earlier
    * snapshots still time-travel through the current manifest) and drop
    * tombstones keep reserving their names — same contract as Delta
    * REORG, which purges files but never resets column mapping. */
  def reorgPurge(s: SparkSession, name: String): DataFrame = {
    val ref = resolve(s, name)
    require(ParquetTable.exists(ref.dir),
      s"REORG TABLE: '$name' is not a versioned table")
    val curPath = ParquetTable.currentPath(ref.dir)
    val (nFilesBefore, bytes) = snapshotFiles(curPath)
    val hadDv = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(curPath, "_dv"))
    val mf = SchemaEvolution.manifestOf(ref.dir)
    // Widened tables carry mixed footer types; the manifest's ptype
    // lines are the authoritative physical read schema — without them a
    // single-footer inference could misread (or fail on) older files.
    var df = ParquetTable.readMoR(s, ref.dir, mf.flatMap(_.physicalReadSchema))
    val purgedCols = mf.toSeq.flatMap(_.mapping.dropped)
      .filter(p => df.columns.exists(_.equalsIgnoreCase(p)))
    if (purgedCols.nonEmpty) df = df.drop(purgedCols: _*)
    val target = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    val cv = ParquetTable.swap(s, df.coalesce(target), ref.dir)
    TableStats.reanalyzeOnPublish(s, ref.dir)
    val (nFilesAfter, _) = snapshotFiles(s"${ref.dir}/${graft.streaming.VersionNames.format(cv)}")
    singleRow(s, Seq(
      "name" -> name, "new_version" -> cv,
      "n_files_before" -> nFilesBefore, "n_files_after" -> nFilesAfter,
      "purged_dv" -> (if (hadDv) "true" else "false"),
      "purged_columns" -> purgedCols.mkString(",")))
  }

  /** SHOW PARTITIONS t: one row per hive-style leaf partition of the
    * table's data tree (the CURRENT snapshot for a versioned table),
    * sorted. Listing-only — no data IO. A non-partitioned table is an
    * error, matching Spark's own statement. */
  def showPartitions(s: SparkSession, name: String): DataFrame = {
    val ref = resolve(s, name)
    val dataDir =
      if (ParquetTable.exists(ref.dir)) ParquetTable.currentPath(ref.dir) else ref.dir
    val root = java.nio.file.Paths.get(dataDir)
    val parts = graft.streaming.Compaction.partitionDirs(dataDir)
      .map(p => root.relativize(p).toString).sorted
    require(parts.nonEmpty,
      s"SHOW PARTITIONS: table '$name' is not partitioned")
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      new java.util.ArrayList[Row](parts.map(Row(_)).asJava),
      StructType(Seq(StructField("partition", StringType, nullable = false))))
  }

  /** Sentinel for `GENERATED ALWAYS AS IDENTITY` in [[parseColumnDefs]]
    * results: NUL-prefixed so no parenthesized generation expression
    * (SQL text) can ever equal it. */
  private val IdentityMarker = "\u0000identity"

  /** Top-level split of `name TYPE [GENERATED ALWAYS AS (expr)]
    * [COMMENT '...']` defs — commas inside DECIMAL(p,s) / STRUCT<...> /
    * quoted comments don't split. Returns (name, type, optional
    * comment, optional generation expression). */
  private def parseColumnDefs(
      body: String): Seq[(String, DataType, Option[String], Option[String])] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    body.foreach { c =>
      c match {
        case '\'' => inQuote = !inQuote; cur += c
        case '(' | '<' if !inQuote => depth += 1; cur += c
        case ')' | '>' if !inQuote => depth -= 1; cur += c
        case ',' if depth == 0 && !inQuote => parts += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) parts += cur.toString
    val CommentClause = """(?is)\s+COMMENT\s+'([^']*)'\s*$""".r
    val GeneratedClause = """(?is)\s+GENERATED\s+ALWAYS\s+AS\s+\((.*)\)\s*$""".r
    val IdentityClause = """(?is)\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY\s*$""".r
    parts.toSeq.map(_.trim).filter(_.nonEmpty).map { defn =>
      val comment = CommentClause.findFirstMatchIn(defn).map(_.group(1))
      val noComment = CommentClause.replaceAllIn(defn, "")
      // Delta's generated-column spelling: `name TYPE GENERATED ALWAYS
      // AS (expr)` — greedy capture to the LAST close paren, so nested
      // parens in the expression survive. IDENTITY (no parens) encodes
      // as the NUL-prefixed marker — unreachable from the paren capture
      // (SQL text cannot contain NUL), so the two can never collide.
      val isIdentity = IdentityClause.findFirstMatchIn(noComment).isDefined
      val gen =
        if (isIdentity) Some(IdentityMarker)
        else GeneratedClause.findFirstMatchIn(noComment).map(_.group(1).trim)
      val noGen =
        if (isIdentity) IdentityClause.replaceAllIn(noComment, "")
        else GeneratedClause.replaceAllIn(noComment, "")
      val sp = noGen.indexWhere(_.isWhitespace)
      require(sp > 0, s"expected 'name TYPE' in ADD COLUMNS: $defn")
      // Checked AFTER the comment strip, and only at TOP LEVEL (outside
      // <...>/(...) nesting): a COMMENT mentioning "default" or a struct
      // FIELD named 'default' (meta STRUCT<default: INT>) is valid DDL;
      // only a DEFAULT clause in the def itself is unsupported.
      require(!topLevelWord(noGen, "DEFAULT"),
        s"a DEFAULT clause in a column definition is not supported: $defn — " +
          "add the column first, then ALTER TABLE t ALTER COLUMN c SET DEFAULT " +
          "(Delta refuses in-definition defaults for the same reason: existing " +
          "rows cannot be distinguished from written nulls)")
      val (n, ddl) = (noGen.substring(0, sp), noGen.substring(sp + 1).trim)
      (n, DataType.fromDDL(ddl), comment, gen)
    }
  }

  /** Whole-word, case-insensitive occurrence of `word` in `text` at
    * NESTING DEPTH ZERO — outside every '<...>'/'(...)' pair and outside
    * quoted strings. The DEFAULT-clause rejection anchors here so a
    * nested struct field or parenthesized type named like the keyword
    * cannot false-positive. */
  private def topLevelWord(text: String, word: String): Boolean = {
    var depth = 0
    var inQuote = false
    var i = 0
    val n = text.length
    val w = word.length
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote && (c == '(' || c == '<')) depth += 1
      else if (!inQuote && (c == ')' || c == '>')) depth -= 1
      else if (!inQuote && depth == 0 && text.regionMatches(true, i, word, 0, w) &&
          (i == 0 || !isWordChar(text.charAt(i - 1))) &&
          (i + w >= n || !isWordChar(text.charAt(i + w))))
        return true
      i += 1
    }
    false
  }

  /** OPTIMIZE [ZORDER BY (...)]: republish the live snapshot bin-packed
    * toward the 128 MB file-health target (optionally Z-order-clustered)
    * as a NEW version — Delta's OPTIMIZE commits, it never rewrites
    * history, so concurrent time-travel readers are untouched. Returns
    * the one-row metrics Delta users expect. */
  def optimize(s: SparkSession, name: String, zorderCols: Option[Seq[String]]): DataFrame = {
    val ref = resolve(s, name)
    val (nFilesBefore, bytes) = snapshotFiles(ParquetTable.currentPath(ref.dir))
    val target = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    val cur = ParquetTable.read(s, ref.dir)
    val packed = zorderCols match {
      case Some(cols) => graft.tables.ZOrder.cluster(cur, cols, target)
      case None => cur.coalesce(target)
    }
    val cv = ParquetTable.swap(s, packed, ref.dir)
    TableStats.reanalyzeOnPublish(s, ref.dir)
    val (nFilesAfter, _) = snapshotFiles(s"${ref.dir}/${graft.streaming.VersionNames.format(cv)}")
    singleRow(s, Seq(
      "name" -> name, "new_version" -> cv,
      "n_files_before" -> nFilesBefore, "n_files_after" -> nFilesAfter,
      "zorder_by" -> zorderCols.map(_.mkString(",")).getOrElse("")))
  }

  private val TargetFileBytes = 128L * 1024 * 1024

  /** OPTIMIZE t WHERE <pred> [ZORDER BY (...)] — PREDICATE-SCOPED
    * compaction (Delta's partition-scoped OPTIMIZE, generalized): only
    * files holding at least one matching row are rewritten bin-packed
    * (optionally Z-ordered); every other file hard-links forward
    * untouched. No row is dropped or changed — the predicate selects
    * FILES, the rewrite keeps all their rows — so the op is always
    * data-preserving. This is the 100 TB maintenance shape: a daily job
    * compacts yesterday's trickle-appended window without touching the
    * petabytes of cold files, and the commit cost is proportional to
    * the window, not the table. */
  def optimizeWhere(s: SparkSession, name: String, pred: String,
      zorderCols: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => cls, col, expr, lit}
    val ref = resolve(s, name)
    val cur = java.nio.file.Paths.get(ParquetTable.currentPath(ref.dir))
    // Same safety idioms as every other file-rewriting path: deletion
    // vectors refuse (a raw-file rewrite would resurrect vector-deleted
    // rows), and reads use the LOGICAL schema explicitly so a
    // mixed-schema directory (post additive evolution) can never drop
    // an evolved column from the compacted rewrite.
    graft.streaming.ParquetTable.requireNoDv(cur, "OPTIMIZE WHERE")
    // Same divergence guard as row-level DML (and for the same reason):
    // this path rewrites files through the LOGICAL schema. The unscoped
    // OPTIMIZE stays available on diverged tables — it compacts via the
    // physical read path.
    requireUndiverged(ref.dir, s"OPTIMIZE WHERE on '$name'")
    val readSchema = dmlReadSchema(TableStats.readCurrent(s, ref.dir))
    def read(paths: Seq[String]) =
      readSchema.map(s.read.schema).getOrElse(s.read).parquet(paths: _*)
    val (touched, _) = ParquetTable.filesMatching(read(Seq(cur.toString)), cls(expr(pred), lit(false)))
    val (nFilesBefore, _) = snapshotFiles(cur.toString)
    if (touched.isEmpty)
      return singleRow(s, Seq("name" -> name, "new_version" -> -1L,
        "n_files_before" -> nFilesBefore, "n_files_after" -> nFilesBefore,
        "n_files_compacted" -> 0L, "zorder_by" -> zorderCols.map(_.mkString(",")).getOrElse("")))
    val touchedPaths = touched.toSeq.sorted.map(f => s"$cur/$f")
    val bytes = touched.toSeq.map(f => java.nio.file.Files.size(cur.resolve(f))).sum
    val target = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
    val window = read(touchedPaths)
    val packed = zorderCols match {
      case Some(cols) => graft.tables.ZOrder.cluster(window, cols, target)
      case None       => window.coalesce(target)
    }
    // Staged commit (ParquetTable.commitCow): cold files hard-link into
    // a writer-private staging dir, the rewrite lands beside them, ONE
    // atomic rename claims the version slot — a crash leaves only an
    // orphaned staging dir, never a poisoned half-version.
    val nextId = graft.streaming.ParquetTable.commitCow(ref.dir, cur, touched) { staging =>
      packed.write.mode("append").parquet(staging.toString)
    }
    TableStats.reanalyzeOnPublish(s, ref.dir)
    val (nFilesAfter, _) = snapshotFiles(ParquetTable.currentPath(ref.dir))
    singleRow(s, Seq(
      "name" -> name, "new_version" -> nextId,
      "n_files_before" -> nFilesBefore, "n_files_after" -> nFilesAfter,
      "n_files_compacted" -> touched.size.toLong,
      "zorder_by" -> zorderCols.map(_.mkString(",")).getOrElse("")))
  }

  /** Opt-in auto-compaction (`spark.graft.autoCompact.minFiles=N`,
    * Delta's autoCompact parity): after an append-class statement
    * (INSERT INTO / COPY INTO), if the live snapshot holds ≥ N files
    * AND more files than the 128 MB bin-packing target needs, run
    * OPTIMIZE inline — many small streaming/trickle appends otherwise
    * degrade every downstream scan until someone remembers the
    * maintenance window. Off by default for the same reason as
    * analyze.onPublish: inline compaction is a full snapshot rewrite,
    * and a 100 TB table wants it scheduled per partition, not paid by
    * surprise inside a 3-row INSERT. The two-sided gate means a table
    * already at file-health never rewrites (re-running is a no-op),
    * so the hook converges instead of compacting forever. */
  def autoCompactOnPublish(s: SparkSession, name: String): Unit = {
    val minFiles =
      try s.conf.getOption("spark.graft.autoCompact.minFiles").map(_.toInt).getOrElse(0)
      catch { case _: NumberFormatException => 0 }
    if (minFiles >= 2) {
      val ref = resolve(s, name)
      val (nFiles, bytes) = snapshotFiles(ParquetTable.currentPath(ref.dir))
      val needed = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes)
      if (nFiles >= minFiles && nFiles > needed) { optimize(s, name, None); () }
    }
  }

  /** VACUUM [RETAIN n HOURS] [DRY RUN]: one row per dropped (or
    * would-drop) superseded version name. */
  def vacuum(s: SparkSession, name: String, retainHours: Option[Long], dryRun: Boolean): DataFrame = {
    val ref = resolve(s, name)
    val versions = (retainHours, dryRun) match {
      case (Some(h), true)  => ParquetTable.vacuumRetainDryRun(ref.dir, h * 3600000L)
      case (Some(h), false) => ParquetTable.vacuumRetain(ref.dir, h * 3600000L)
      case (None, true)     => ParquetTable.vacuumDryRun(ref.dir)
      case (None, false)    => ParquetTable.vacuum(ref.dir)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      versions.map(v => Row(v, graft.streaming.VersionNames.idOf(v), dryRun)).asJava,
      StructType(Seq(
        StructField("version_name", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("dry_run", BooleanType, nullable = false))))
  }

  /** RESTORE TABLE t TO VERSION AS OF v (absolute id): committed as a
    * new version, history preserved for forensics until vacuum. */
  def restoreTo(s: SparkSession, name: String, version: Long): DataFrame = {
    val ref = resolve(s, name)
    // Resolve the id to a version NAME once and swap that snapshot in —
    // an index-based restore would re-list and could shift under a
    // concurrent publish.
    val vname = versionNamesOf(name, ref.dir, version).head
    val cv = ParquetTable.swap(s, s.read.parquet(s"${ref.dir}/$vname"), ref.dir)
    TableStats.reanalyzeOnPublish(s, ref.dir)
    singleRow(s, Seq(
      "name" -> name, "restored_from" -> version, "new_version" -> cv,
      "n_rows" -> ParquetTable.read(s, ref.dir).count()))
  }

  /** ALTER TABLE ... SET TBLPROPERTIES: merged into the table's `_PROPS`
    * manifest (one tiny key=value file, atomic replace — reference
    * db/table_maintenance.sql:69-75). The engine stores them verbatim;
    * components read the keys they understand. */
  def setProperties(s: SparkSession, name: String, pairs: Seq[(String, String)]): DataFrame = {
    // The manifest is line-oriented with a tab separator: a tab in a key
    // or a newline in either side would corrupt neighboring entries (and
    // be silently dropped on read) — refuse loudly instead.
    pairs.foreach { case (k, v) =>
      require(!k.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"TBLPROPERTIES key may not contain tab/newline: ${k.take(40)}")
      require(!v.exists(c => c == '\n' || c == '\r'),
        s"TBLPROPERTIES value may not contain newline (key $k)")
    }
    val ref = resolve(s, name)
    val merged = properties(ref.dir) ++ pairs
    val body = merged.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }.mkString("\n")
    graft.streaming.VersionNames.replaceFile(java.nio.file.Paths.get(ref.dir, "_PROPS"), body)
    showProperties(s, name)
  }

  def showProperties(s: SparkSession, name: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = properties(resolve(s, name).dir).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))))
  }

  def properties(dir: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(dir, "_PROPS")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala
      .filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }
      .toMap
  }

  // ───── Row-level DML statements (DELETE FROM / UPDATE / MERGE INTO) ─────

  /** DML rewrites data FILES through ParquetTable's copy-on-write paths.
    * Divergence is decided from the MANIFEST (deterministic — never from
    * a footer-sampled schema, which is file-order roulette on mixed
    * directories): pending RENAME/DROP/type-widen make physical files
    * unreadable as the logical view for a rewrite, so DML refuses them
    * loudly (CTAS first). ADDITIVE evolution is supported: the DML paths
    * receive the logical read schema explicitly, old files null-fill the
    * added columns deterministically, rewritten files land full-width. */
  private def dmlTable(s: SparkSession, name: String): (String, DataFrame) = {
    val dir = resolve(s, name).dir
    require(ParquetTable.exists(dir), s"DML on '$name': not a versioned table")
    requireUndiverged(dir, s"DML on '$name'")
    (dir, TableStats.readCurrent(s, dir))
  }

  /** Refuse any LOGICAL-schema file rewrite on a table whose manifest
    * diverges from its physical files. Shared by the row-level DML
    * paths and OPTIMIZE WHERE: both read through the logical view and
    * write files carrying logical column names/types, which on a table
    * with a pending RENAME would null-fill the renamed columns in the
    * rewritten files (data loss) and on a cast-widen would commit files
    * whose footer types contradict the manifest's ptype lines. */
  private def requireUndiverged(dir: String, what: String): Unit =
    SchemaEvolution.manifestOf(dir).foreach { mf =>
      val renamed = mf.mapping.cols.exists { case (l, p) => !l.equalsIgnoreCase(p) }
      require(!renamed && mf.mapping.dropped.isEmpty && mf.widens.isEmpty,
        s"$what: the table's logical schema diverges from its physical " +
          "files (pending RENAME/DROP/type-widen) — a logical-schema file " +
          "rewrite is not supported on diverged tables; rewrite the table " +
          "(CTAS) first, or use unscoped OPTIMIZE (physical-schema compaction)")
    }

  /** The explicit read schema the row-level DML paths use: the table's
    * logical schema, all-nullable (files predating an added column
    * null-fill it). */
  private def dmlReadSchema(df: DataFrame): Option[org.apache.spark.sql.types.StructType] =
    Some(org.apache.spark.sql.types.StructType(
      df.schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true))))

  /** Whole-word, case-insensitive mention of `word` anywhere in an
    * expression string (any nesting depth — unlike [[topLevelWord]]). */
  private def exprMentions(text: String, word: String): Boolean =
    ("""(?i)(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(word) +
      """(?![A-Za-z0-9_])""").r.findFirstIn(text).isDefined

  /** GENERATED-column conformance for a batch about to land in `dir`:
    * a generated column the SELECT OMITS is computed from its stored
    * expression; one the SELECT PROVIDES is validated row-for-row
    * against the expression (null-safe) and the batch rejected on any
    * mismatch — Delta's generated-column write contract. */
  private def applyGenerated(
      name: String, dir: String,
      targetSchema: StructType, result: DataFrame): DataFrame = {
    val props = properties(dir)
    val gens = props.collect {
      case (k, v) if k.startsWith("graft.generated.") =>
        k.stripPrefix("graft.generated.") -> v
    }
    val idents = props.keys.filter(_.startsWith("graft.identity."))
      .map(_.stripPrefix("graft.identity.")).toSeq.sorted
    if (gens.isEmpty && idents.isEmpty) return result
    val present = result.columns.map(_.toLowerCase).toSet
    var df = result
    // Identity assignment: DENSE ids from the live high-water mark — the
    // batch gets exactly [start, start + n). Bare
    // monotonically_increasing_id starts partition p's range at p<<33,
    // so an empty partition 0 would break the min==start low-water
    // invariant (the se_identity_insert oracle pins min_id = 0). The
    // two-pass zipWithIndex shape instead, in DataFrame terms:
    // localCheckpoint pins the partitioning, a per-partition count agg
    // (result bounded by PARTITION count, not rows) yields cumulative
    // offsets, broadcast-joined back on partition id; the id is
    // offset + mid's dense within-partition counter. No corpus shuffle;
    // gaps remain possible only BETWEEN batches that fail mid-write
    // (Delta allows those too). A provided value is rejected outright
    // (ALWAYS, not BY DEFAULT).
    idents.foreach { c =>
      if (present(c.toLowerCase))
        throw new IllegalArgumentException(
          s"INSERT into $name: column '$c' is GENERATED ALWAYS AS IDENTITY — " +
            "it cannot be provided, omit it to have values assigned")
      val s2 = result.sparkSession
      val live =
        if (ParquetTable.exists(dir)) ParquetTable.read(s2, dir)
        else SchemaEvolution.readEvolved(s2, dir)
      val maxRow = live.agg(max(col(c))).head()
      val start = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) + 1L
      val ckpt = Checkpoints.cut(df)
      val pidCounts = ckpt.groupBy(spark_partition_id().as("_pid")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offRows = pidCounts.map { case (pid, n) =>
        val o = acc; acc += n; Row(pid, o) }.toSeq
      val offsets = s2.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(offRows).asJava),
        StructType(Seq(
          StructField("_pid", IntegerType, nullable = false),
          StructField("_off", LongType, nullable = false))))
      df = ckpt
        .withColumn("_pid", spark_partition_id())
        .withColumn("_lidx",
          monotonically_increasing_id() - (col("_pid").cast("long") * lit(1L << 33)))
        .join(broadcast(offsets), Seq("_pid"))
        .withColumn(c, lit(start) + col("_off") + col("_lidx"))
        .drop("_pid", "_lidx", "_off")
    }
    gens.toSeq.sortBy(_._1).foreach { case (c, g) =>
      val dt = targetSchema.fields
        .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"table $name: generated column '$c' is not in the schema"))
      if (!present(c.toLowerCase)) df = df.withColumn(c, expr(g).cast(dt))
      else {
        val bad = df.filter(!(col(c) <=> expr(g).cast(dt))).limit(1).count()
        require(bad == 0L,
          s"INSERT into $name: column '$c' is GENERATED ALWAYS AS ($g) — " +
            "provided values must satisfy the generation expression (omit the column to have it computed)")
      }
    }
    df
  }

  /** The shared INSERT append path: GENERATED columns first (compute
    * omitted / validate provided), DEFAULT fill next, THEN the arity
    * rule — the batch must produce exactly the target's remaining
    * logical columns (by name, any order); without this, an extra
    * column would ride appendEvolved's additive-evolution path and
    * permanently widen the table from a typo. CHECK/UNIQUE constraints
    * validate before any file moves; versioned tables append as a
    * hard-link commit, manifest tables through appendEvolved. */
  private def insertFrame(s: SparkSession, name: String, batch: DataFrame): DataFrame = {
    val dir = resolve(s, name).dir
    val result0 = batch.persist()
    try {
      val versioned = ParquetTable.exists(dir)
      val targetSchema =
        if (versioned) dmlTable(s, normalizeIdent(name))._2.schema
        else SchemaEvolution.readEvolved(s, dir).schema
      val result = applyDefaults(dir, targetSchema,
        applyGenerated(name, dir, targetSchema, result0))
      val target = targetSchema.fields.map(_.name.toLowerCase).toSet
      val incoming = result.columns.map(_.toLowerCase).toSet
      require(incoming == target,
        s"INSERT INTO $name: SELECT columns ${incoming.toSeq.sorted.mkString(",")} " +
          s"must exactly match the table's ${target.toSeq.sorted.mkString(",")}" +
          " (columns with a DEFAULT may be omitted)")
      // Write-time CHECK enforcement (Delta parity): a violating batch
      // never lands — the table keeps its pre-INSERT state.
      Constraints.validate(result, Constraints.checks(dir)).foreach(m =>
        throw new IllegalStateException(
          s"INSERT INTO $name rejected by CHECK constraint: $m"))
      Constraints.validateUniqueAppend(s, dir, result)
      val n = result.count()
      // Align to the table's column order/types. Versioned tables cast
      // unconditionally (their declared behavior since the DML wave);
      // DECLARED manifest tables coerce only LOSSLESS upcasts (a VALUES
      // INT literal into a BIGINT column — SQL INSERT semantics), while
      // a lossy type (DOUBLE into DECIMAL) stays uncast so
      // appendEvolved rejects it loudly — the schema-enforcement
      // contract the reference's type-change recipe depends on.
      val byLower = result.columns.map(c => c.toLowerCase -> c).toMap
      val aligned = result.select(targetSchema.fields.map { f =>
        val src = byLower(f.name.toLowerCase)
        val from = result.schema(src).dataType
        if (versioned || from == f.dataType ||
            org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, f.dataType))
          col(src).cast(f.dataType).as(f.name)
        else col(src).as(f.name)
      }.toIndexedSeq: _*)
      if (versioned) {
        // Append COMMIT: current files hard-link into the next version,
        // the batch lands beside them.
        ParquetTable.append(s, aligned, dir)
        autoCompactOnPublish(s, name)
      } else SchemaEvolution.appendEvolved(s, aligned, dir)
      TableStats.reanalyzeOnPublish(s, dir)
      singleRow(s, Seq("name" -> name, "n_inserted" -> n))
    } finally { result0.unpersist(); () }
  }

  /** Column defaults (ALTER COLUMN ... SET DEFAULT): an omitted column
    * with a stored default is computed as a constant projection,
    * codegen-fused into the write — no extra pass. Provided values
    * always win (defaults are fallbacks, not ALWAYS like generation). */
  private def applyDefaults(
      dir: String, targetSchema: StructType, df0: DataFrame): DataFrame = {
    val defaults = properties(dir).collect {
      case (k, v) if k.startsWith("graft.default.") =>
        k.stripPrefix("graft.default.") -> v
    }
    if (defaults.isEmpty) return df0
    var df = df0
    val present = df0.columns.map(_.toLowerCase).toSet
    targetSchema.fields.foreach { f =>
      defaults.get(f.name.toLowerCase).foreach { d =>
        if (!present(f.name.toLowerCase))
          df = df.withColumn(f.name, expr(d).cast(f.dataType))
      }
    }
    df
  }

  /** Loud rejection of value-mutating DML on tables with generated
    * columns: an UPDATE/MERGE could change a source column without
    * recomputing its dependents, silently breaking the invariant —
    * route through INSERT OVERWRITE / REPLACE WHERE instead (which
    * recompute/validate via [[applyGenerated]]). DELETE stays allowed
    * (it introduces no values). */
  private def requireNoGenerated(name: String, dir: String, stmt: String): Unit = {
    val props = properties(dir)
    val gens = props.keys.filter(_.startsWith("graft.generated."))
    require(gens.isEmpty,
      s"$stmt on '$name' is not supported: the table has GENERATED columns " +
        s"(${gens.map(_.stripPrefix("graft.generated.")).toSeq.sorted.mkString(", ")}) " +
        "and the statement could leave them stale — use INSERT OVERWRITE or REPLACE WHERE")
    // IDENTITY columns carry the same hazard in the other direction: an
    // UPDATE/MERGE can SET the identity column to arbitrary (duplicate)
    // values, breaking the all-distinct allocation the ALWAYS contract
    // guarantees on INSERT. Same routing: OVERWRITE/REPLACE WHERE
    // (which re-run assignment through applyGenerated).
    val ids = props.keys.filter(_.startsWith("graft.identity."))
    require(ids.isEmpty,
      s"$stmt on '$name' is not supported: the table has IDENTITY columns " +
        s"(${ids.map(_.stripPrefix("graft.identity.")).toSeq.sorted.mkString(", ")}) " +
        "and the statement could overwrite their allocation — use INSERT OVERWRITE or REPLACE WHERE")
  }

  /** SQL INSERT arity + alignment, shared by the whole-table write
    * statements: generated columns are computed/validated first
    * ([[applyGenerated]]), then the SELECT must produce exactly the
    * target's logical columns (by name, any order), cast to the table's
    * column order/types so every file generation shares one schema. */
  private def alignToTable(
      name: String, dir: String,
      targetSchema: org.apache.spark.sql.types.StructType,
      result0: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val result = applyDefaults(dir, targetSchema,
      applyGenerated(name, dir, targetSchema, result0))
    val target = targetSchema.fields.map(_.name.toLowerCase).toSet
    val incoming = result.columns.map(_.toLowerCase).toSet
    require(incoming == target,
      s"INSERT into $name: SELECT columns ${incoming.toSeq.sorted.mkString(",")} " +
        s"must exactly match the table's ${target.toSeq.sorted.mkString(",")}" +
        " (columns with a DEFAULT may be omitted)")
    val byLower = result.columns.map(c => c.toLowerCase -> c).toMap
    result.select(targetSchema.fields.map(f =>
      col(byLower(f.name.toLowerCase)).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }


  /** DELETE FROM t [WHERE pred]: copy-on-write file-granular delete
    * (ParquetTable.deleteWhere) — untouched files hard-link into the new
    * version. SQL semantics: NULL-predicate rows are KEPT; no WHERE
    * deletes every row (but keeps the table and its history). */
  private def deleteFromSql(s: SparkSession, name: String, pred: Option[String]): DataFrame = {
    val (dir, df) = dmlTable(s, name)
    val n = ParquetTable.deleteWhere(s, dir, pred.getOrElse("true"), dmlReadSchema(df))
    TableStats.reanalyzeOnPublish(s, dir)
    singleRow(s, Seq("name" -> name, "n_deleted" -> n))
  }

  /** UPDATE t SET col = expr, ... [WHERE pred]: file-granular
    * copy-on-write update. Assignments are Catalyst expression strings
    * cast back to the column's type; registered CHECK constraints are
    * validated against the POST-image of matching rows BEFORE any file
    * is rewritten — a violating update never publishes. */
  private def updateSql(s: SparkSession, name: String, setBody: String,
      pred: Option[String]): DataFrame = {
    val (dir, df) = dmlTable(s, name)
    requireNoGenerated(name, dir, "UPDATE")
    val sets = parseAssignments(setBody)
    val bad = sets.keySet -- df.columns.map(_.toLowerCase).toSet
    require(bad.isEmpty, s"UPDATE $name SET references missing columns: ${bad.toSeq.sorted.mkString(",")}")
    val predicate = pred.getOrElse("true")
    val cs = Constraints.checks(dir)
    if (cs.nonEmpty) {
      val hit = coalesce(expr(predicate), lit(false))
      val post = df.filter(hit).select(df.schema.fields.map { f =>
        sets.get(f.name.toLowerCase) match {
          case Some(e) => expr(e).cast(f.dataType).as(f.name)
          case None    => col(f.name)
        }
      }.toIndexedSeq: _*)
      Constraints.validate(post, cs).foreach(m => throw new IllegalStateException(
        s"UPDATE $name rejected by CHECK constraint: $m"))
    }
    // updateWhere keys assignments by the file's own field names.
    val physSets = df.schema.fields.flatMap(f =>
      sets.get(f.name.toLowerCase).map(f.name -> _)).toMap
    val n = ParquetTable.updateWhere(s, dir, predicate, physSets, dmlReadSchema(df))
    TableStats.reanalyzeOnPublish(s, dir)
    singleRow(s, Seq("name" -> name, "n_updated" -> n))
  }

  /** `SET a = e1, b = e2` → lowercase-col → expression. Assignment
    * targets must be bare (optionally backquoted) column names. */
  private def parseAssignments(body: String): Map[String, String] = {
    val parts = splitTopLevel(body, ',')
    require(parts.nonEmpty, "UPDATE SET: empty assignment list")
    val pairs = parts.map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"UPDATE SET: expected 'col = expression' in: $a")
      val rawCol = a.substring(0, eq).trim
      val colName = rawCol.stripPrefix("`").stripSuffix("`")
      require(colName.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"UPDATE SET: unsupported assignment target '$rawCol' " +
          "(qualified or nested targets are not supported)")
      val e = a.substring(eq + 1).trim
      require(e.nonEmpty, s"UPDATE SET: empty expression for $colName")
      colName.toLowerCase -> e
    }
    require(pairs.map(_._1).distinct.size == pairs.size,
      "UPDATE SET: a column is assigned more than once")
    pairs.toMap
  }

  /** MERGE INTO subset — the Delta upsert-by-key spellings
    * ParquetTable.mergeInto executes:
    *
    * {{{
    * MERGE INTO t [AS a] USING src | (SELECT ...) [AS b] ON <equi-keys>
    *   [WHEN MATCHED AND <guard> THEN DELETE]
    *   [WHEN MATCHED THEN UPDATE SET *]
    *   [WHEN NOT MATCHED [BY TARGET] THEN INSERT *]
    *   [WHEN NOT MATCHED BY SOURCE [AND <guard>] THEN DELETE
    *                                            | UPDATE SET c = e, ...]*
    * -- or the pure-delete form:
    * MERGE INTO t USING src ON <equi-keys> WHEN MATCHED THEN DELETE
    * }}}
    *
    * ON must be a conjunction of `[alias.]col = [alias.]col` equalities
    * naming the SAME column on both sides (the merge keys). MATCHED
    * guards evaluate over the SOURCE row (explicit target-alias
    * references are rejected; Delta's guard-on-target form needs target
    * values, which the row-replacement merge does not thread through).
    * UPDATE SET * / INSERT * are whole-row replacement; the column-list
    * forms are rejected loudly rather than half-supported. Matched rows
    * with no applicable clause are left untouched, and unmatched source
    * rows without INSERT * are no-ops — exactly Delta's clause
    * semantics.
    *
    * NOT MATCHED BY SOURCE clauses act on TARGET rows whose key has no
    * source partner (Delta 2.3+): guards and UPDATE SET expressions see
    * the target row (source references are rejected — there is no
    * source row), multiple clauses apply FIRST-MATCH-WINS in statement
    * order, and a row matching no clause survives untouched. The
    * unguarded-DELETE spelling is the full-sync mirror: target keys
    * absent from the source vanish in the same commit that upserts the
    * rest — at 100 TB the touched-file set is governed by where those
    * keys live, the same file-granular copy-on-write as every other
    * clause. Registered CHECK constraints validate the upsert rows
    * before any file is rewritten. */
  private def mergeIntoSql(s: SparkSession, name: String, tgtAlias: Option[String],
      tail: String, evolve: Boolean = false): DataFrame = {
    val (dir, target0) = dmlTable(s, name)
    requireNoGenerated(name, dir, "MERGE INTO")
    val t = tail.trim
    // Source operand: a parenthesized subquery runs back through sql()
    // (AS-OF phrases / table_changes / registered mounts compose); a
    // bare identifier becomes SELECT * FROM <ident> for the same reason.
    val (srcDf0, afterSrc) =
      if (t.startsWith("(")) {
        val close = matchingParen(t, 0)
        (sql(s, t.substring(1, close)), t.substring(close + 1))
      } else {
        val m = ("""(?s)^(""" + IdPat + """)(.*)$""").r.findFirstMatchIn(t).getOrElse(
          throw new IllegalArgumentException(
            s"MERGE INTO: cannot parse USING source near: ${t.take(60)}"))
        (sql(s, s"SELECT * FROM ${m.group(1)}"), m.group(2))
      }
    val AliasOn = """(?is)^\s*(?:(?:AS\s+)?(?!ON\b)([A-Za-z_][A-Za-z0-9_]*)\s+)?ON\s+(.+)$""".r
    val (srcAlias, rest) = afterSrc match {
      case AliasOn(a, r) => (Option(a), r)
      case _ => throw new IllegalArgumentException(
        s"MERGE INTO: expected [alias] ON <condition> after the USING source, " +
          s"got: ${afterSrc.trim.take(60)}")
    }
    val whenIdx = topLevelWordIndices(rest, "WHEN")
    require(whenIdx.nonEmpty, "MERGE INTO: at least one WHEN clause is required")
    val onCond = rest.substring(0, whenIdx.head).trim
    val clauses = splitTopLevelWord(rest.substring(whenIdx.head), "WHEN")
      .map(_.trim).filter(_.nonEmpty)
    val EqPat = ("""(?is)^\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?([A-Za-z_][A-Za-z0-9_]*)""" +
      """\s*=\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*$""").r
    val keys = splitTopLevelWord(onCond, "AND").map {
      case EqPat(_, l, _, r) =>
        require(l.equalsIgnoreCase(r),
          s"MERGE INTO ON: '$l = $r' — both sides must name the SAME key column")
        l
      case c => throw new IllegalArgumentException(
        s"MERGE INTO ON: unsupported conjunct '$c' — only " +
          "`[alias.]col = [alias.]col` equalities are supported")
    }
    require(keys.nonEmpty, "MERGE INTO ON: no key equalities found")
    val GuardedDelete = """(?is)^MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE$""".r
    val PlainDelete   = """(?is)^MATCHED\s+THEN\s+DELETE$""".r
    val UpdateAll     = """(?is)^MATCHED\s+THEN\s+UPDATE\s+SET\s+\*$""".r
    val InsertAll     = """(?is)^NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?THEN\s+INSERT\s+\*$""".r
    val NmbsDelete    =
      """(?is)^NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE$""".r
    val NmbsUpdate    =
      """(?is)^NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+)$""".r
    var guard: Option[String] = None
    var pureDelete = false; var hasUpdate = false; var hasInsert = false
    // (guard, None) = DELETE; (guard, Some(assignments)) = UPDATE SET.
    // Statement order is kept — NMBS clauses apply first-match-wins.
    val nmbs = scala.collection.mutable.ListBuffer
      .empty[(Option[String], Option[Map[String, String]])]
    clauses.foreach {
      case GuardedDelete(g) =>
        require(guard.isEmpty, "MERGE INTO: at most one guarded DELETE clause")
        guard = Some(g)
      case PlainDelete() => pureDelete = true
      case UpdateAll()   => hasUpdate = true
      case InsertAll()   => hasInsert = true
      case NmbsDelete(g) => nmbs += ((Option(g), None))
      case NmbsUpdate(g, sets) =>
        nmbs += ((Option(g), Some(parseAssignments(sets))))
      case c => throw new IllegalArgumentException(
        s"MERGE INTO: unsupported clause 'WHEN $c' — supported: " +
          "WHEN MATCHED [AND guard] THEN DELETE, WHEN MATCHED THEN UPDATE SET *, " +
          "WHEN NOT MATCHED [BY TARGET] THEN INSERT *, " +
          "WHEN NOT MATCHED BY SOURCE [AND guard] THEN DELETE | UPDATE SET c = e, ...")
    }
    require(!(pureDelete && (hasUpdate || hasInsert || guard.nonEmpty || nmbs.nonEmpty)),
      "MERGE INTO: unguarded WHEN MATCHED THEN DELETE cannot combine with other clauses")
    require(pureDelete || hasUpdate || hasInsert || guard.nonEmpty || nmbs.nonEmpty,
      "MERGE INTO: no actionable clause")
    // WITH SCHEMA EVOLUTION: source-only columns widen the target BEFORE
    // the merge — a metadata-only ADD COLUMNS (existing files null-fill
    // at read, zero data IO), then the evolved snapshot is the merge
    // target so UPDATE SET * / INSERT * carry the new fields through.
    // Delta's contract: evolution applies only to columns ASSIGNED by
    // the actions — star-form UPDATE SET * / INSERT * assign every
    // source column, explicit assignment lists evolve only what they
    // name. hasUpdate/hasInsert are set ONLY by the star-form clauses
    // (the sole matched/not-matched row-flowing actions this surface
    // supports — see the clause regexes above), and the one non-star
    // assignment form (NOT MATCHED BY SOURCE ... UPDATE SET) references
    // target columns exclusively, so gating on hasUpdate||hasInsert IS
    // the star-form gate; a pure delete (or NMBS-only merge) never
    // widens.
    val evolvedCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
      if (!evolve || !(hasUpdate || hasInsert)) Seq.empty
      else {
        val have = target0.columns.map(_.toLowerCase).toSet
        srcDf0.schema.fields.filter(f => !have.contains(f.name.toLowerCase))
          .map(f => f.name -> f.dataType).toSeq
      }
    // The evolved LOGICAL view (new columns null-filled over old files) is
    // the merge target; the physical commit appends upsert rows WITH the
    // new columns while untouched/rewritten files keep the old schema —
    // Delta's evolution contract, zero extra data IO. The view is
    // SIMULATED here (typed-null columns on the pre-evolution snapshot);
    // the manifest write is DEFERRED to just before the data commit so a
    // merge rejected by any later validation (duplicate source keys,
    // missing column coverage, CHECK constraints) leaves the table's
    // schema untouched — the statement stays atomic.
    val target = evolvedCols.foldLeft(target0) {
      case (df, (n, t)) => df.withColumn(n, lit(null).cast(t))
    }
    // Guards evaluate over the source row: strip the source alias
    // qualifier, reject explicit target-alias references.
    val guardExpr = guard.map { g =>
      tgtAlias.filterNot(a => srcAlias.contains(a)).foreach { a =>
        require(("""(?i)(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(a) + """\s*\.""")
            .r.findFirstIn(g).isEmpty,
          s"MERGE INTO guard may reference SOURCE columns only (found target alias '$a.')")
      }
      srcAlias.foldLeft(g)((acc, a) => acc.replaceAll(
        """(?i)(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(a) + """\s*\.\s*""", ""))
    }
    if (hasUpdate) {
      // Delta errors when one target row matches several source rows —
      // replacement would be nondeterministic. Bounded: one agg + limit 1.
      val dup = srcDf0.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0L,
        s"MERGE INTO: source has duplicate rows on (${keys.mkString(",")}) — " +
          "deduplicate the source first")
    }
    // NOT MATCHED BY SOURCE rows: target rows with no source key partner,
    // routed to the FIRST clause (statement order) whose guard holds.
    // Guards and SET expressions see the target row only.
    val nmbsDf: Option[DataFrame] = if (nmbs.isEmpty) None else {
      def targetExpr(e: String, what: String): String = {
        srcAlias.filterNot(a => tgtAlias.contains(a)).foreach { a =>
          require(("""(?i)(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(a) + """\s*\.""")
              .r.findFirstIn(e).isEmpty,
            s"MERGE INTO NOT MATCHED BY SOURCE $what may reference TARGET " +
              s"columns only (found source alias '$a.')")
        }
        tgtAlias.foldLeft(e)((acc, a) => acc.replaceAll(
          """(?i)(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(a) + """\s*\.\s*""", ""))
      }
      nmbs.flatMap(_._2).foreach { sets =>
        val bad = sets.keySet -- target.columns.map(_.toLowerCase).toSet
        require(bad.isEmpty, "MERGE INTO NOT MATCHED BY SOURCE UPDATE SET " +
          s"references missing columns: ${bad.toSeq.sorted.mkString(",")}")
        require((sets.keySet & keys.map(_.toLowerCase).toSet).isEmpty,
          "MERGE INTO NOT MATCHED BY SOURCE UPDATE SET may not assign a merge key")
      }
      val srcKeys = srcDf0.select(keys.map(col): _*).distinct()
      val unmatched = target.join(srcKeys, keys, "left_anti")
      val act = nmbs.toList.zipWithIndex.foldRight(lit(null).cast("int")) {
        case (((g, _), i), acc) =>
          val hit = g.map(e => coalesce(expr(targetExpr(e, "guard")), lit(false)))
            .getOrElse(lit(true))
          when(hit, lit(i)).otherwise(acc)
      }
      val tagged = unmatched.withColumn("__graft_act", act)
        .filter(col("__graft_act").isNotNull)
      val parts = nmbs.toList.zipWithIndex.map { case ((_, sets), i) =>
        val rows = tagged.filter(col("__graft_act") === i).drop("__graft_act")
        sets match {
          case None => rows.select(target.columns.map(col).toIndexedSeq: _*)
            .withColumn("_deleted", lit(true))
          case Some(m) => rows.select(target.schema.fields.map { f =>
            m.get(f.name.toLowerCase) match {
              case Some(e) => expr(targetExpr(e, "UPDATE SET")).cast(f.dataType).as(f.name)
              case None    => col(f.name)
            }
          }.toIndexedSeq: _*).withColumn("_deleted", lit(false))
        }
      }
      Some(parts.reduce(_.unionByName(_)))
    }
    val srcSide: Option[DataFrame] =
      if (pureDelete) {
        // Only keys are needed; fill the row image from the target so
        // mergeInto's column contract holds whatever the source carries.
        val srcKeys = srcDf0.select(keys.map(col): _*).distinct()
        Some(target.join(srcKeys, keys, "left_semi").withColumn("_deleted", lit(true)))
      } else if (hasUpdate || hasInsert || guard.nonEmpty) {
        val tKeys = target.select(keys.map(col): _*).distinct()
          .withColumn("__graft_m", lit(true))
        val srcM = srcDf0.join(tKeys, keys, "left")
          .withColumn("__graft_matched", coalesce(col("__graft_m"), lit(false)))
          .drop("__graft_m")
        val delCol = guardExpr
          .map(g => col("__graft_matched") && coalesce(expr(g), lit(false)))
          .getOrElse(lit(false))
        val tagged = srcM.withColumn("__graft_del", delCol)
        // Clause applicability decides which source rows participate:
        // matched rows stay only for DELETE or UPDATE SET *; unmatched
        // rows stay only under INSERT * — everything else is a no-op row.
        val kept = tagged.filter(
          (col("__graft_matched") && (col("__graft_del") || lit(hasUpdate))) ||
          (!col("__graft_matched") && lit(hasInsert)))
        val missing = target.columns.map(_.toLowerCase).toSet --
          kept.columns.map(_.toLowerCase).toSet
        require(missing.isEmpty,
          "MERGE INTO with UPDATE SET * / INSERT *: the source must carry every " +
            s"target column; missing: ${missing.toSeq.sorted.mkString(",")}")
        Some(kept.select((target.columns.map(col) :+ col("__graft_del").as("_deleted"))
          .toIndexedSeq: _*))
      } else None // only NMBS clauses: the source contributes keys alone
    val prepared: DataFrame = (srcSide.toSeq ++ nmbsDf.toSeq).reduce(_.unionByName(_))
    val cs = Constraints.checks(dir)
    if (cs.nonEmpty && !pureDelete) {
      val ups = prepared.filter(!col("_deleted"))
        .select(target.columns.map(col).toIndexedSeq: _*)
      Constraints.validate(ups, cs).foreach(m => throw new IllegalStateException(
        s"MERGE INTO $name rejected by CHECK constraint: $m"))
    }
    // Every validation has passed — widen the schema (one batched
    // manifest write), then commit the data. A crash between the two
    // leaves a validly-evolved table with unchanged data (the same
    // state ALTER TABLE ADD COLUMNS alone produces).
    if (evolvedCols.nonEmpty) SchemaEvolution.addColumns(s, dir, evolvedCols)
    val (nUp, nDel) = ParquetTable.mergeInto(s, dir, prepared, keys, dmlReadSchema(target))
    TableStats.reanalyzeOnPublish(s, dir)
    singleRow(s, Seq("name" -> name, "n_upserted" -> nUp, "n_deleted" -> nDel))
  }

  /** Index of the '(' at `open`'s matching ')' — quote-aware. */
  private def matchingParen(text: String, open: Int): Int = {
    var depth = 0; var inQuote = false; var i = open
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote && c == '(') depth += 1
      else if (!inQuote && c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new IllegalArgumentException("MERGE INTO: unbalanced parentheses in USING source")
  }

  /** Top-level single-char split — commas inside parens/quotes don't
    * split (expression flavor of [[parseColumnDefs]]'s splitter: no
    * '<'/'>' nesting, those are comparison operators here). */
  private def splitTopLevel(body: String, sep: Char): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    body.foreach { c =>
      c match {
        case '\'' => inQuote = !inQuote; cur += c
        case '(' if !inQuote => depth += 1; cur += c
        case ')' if !inQuote => depth -= 1; cur += c
        case `sep` if depth == 0 && !inQuote => parts += cur.toString; cur.clear()
        case other => cur += other
      }
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** First top-level (outside quotes/parens) occurrence of `c`, or -1. */
  private def topLevelIndexOf(text: String, c: Char): Int = {
    var depth = 0; var inQuote = false; var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch == '\'') inQuote = !inQuote
      else if (!inQuote && ch == '(') depth += 1
      else if (!inQuote && ch == ')') depth -= 1
      else if (!inQuote && depth == 0 && ch == c) return i
      i += 1
    }
    -1
  }

  /** Start indices of every top-level whole-word occurrence of `word`
    * (case-insensitive, outside quotes and parens). */
  private val QualifyCol = "__graft_qualify"

  /** Rewrite a top-level QUALIFY clause into Spark-executable SQL.
    *
    * Two forms, chosen by whether the predicate itself contains a window
    * call (`OVER`):
    *   - inline-window predicate (`QUALIFY row_number() OVER (...) = 1`):
    *     the predicate references BASE columns, so it is computed as an
    *     extra select item of the same query block (a window expression
    *     cannot live in WHERE), then the block is wrapped, filtered on
    *     that synthetic column, and the column dropped from the result;
    *   - alias predicate (`SELECT ..., rank() OVER (...) AS rn ...
    *     QUALIFY rn <= 2`): the aliases are real columns of the wrapped
    *     block, so a plain wrap + outer WHERE suffices.
    * A trailing ORDER BY / LIMIT moves onto the outer block, so it sees
    * post-filter rows — the same order of evaluation QUALIFY specifies.
    * Subset caveats (documented, loud): DISTINCT heads and set-op
    * chains are not split; the first top-level FROM is taken as the
    * main block's (CTE bodies and select-list subqueries sit inside
    * parens, so they can never match first). The rewrite recurses
    * through [[sql]], so AS-OF phrases, table_changes and registered-
    * table mounts inside the statement all still apply.
    */
  private def rewriteQualify(s: SparkSession, stmt: String): DataFrame = {
    val qpos = topLevelWordIndices(stmt, "QUALIFY").head
    val head = stmt.substring(0, qpos).trim
    val after = stmt.substring(qpos + "QUALIFY".length)
    val cut = (topLevelWordIndices(after, "ORDER") ++ topLevelWordIndices(after, "LIMIT"))
      .sorted.headOption.getOrElse(after.length)
    val pred = after.substring(0, cut).trim
    val tail = after.substring(cut).trim
    require(pred.nonEmpty, "QUALIFY requires a predicate")
    if (wordOutsideQuotes(pred, "OVER")) {
      // The inject form ADDS a select item to this block — under
      // DISTINCT that would change the dedup grain to row-per-input-row
      // and silently defeat it. Reject loudly (the documented contract
      // for unsupported shapes) rather than return wrong rows.
      require(!head.matches("""(?is)\s*(WITH\b.*\)\s*)?SELECT\s+DISTINCT\b.*"""),
        "QUALIFY with an inline window predicate is not supported on SELECT DISTINCT — " +
          "alias the window expression in the select list and QUALIFY the alias instead")
      val fpos = topLevelWordIndices(head, "FROM").headOption.getOrElse(
        throw new IllegalArgumentException(
          s"QUALIFY rewrite found no top-level FROM in: $head"))
      val inner =
        head.substring(0, fpos).trim + s", ($pred) AS $QualifyCol " + head.substring(fpos)
      sql(s, s"SELECT * FROM ( $inner ) __graft_q WHERE $QualifyCol $tail").drop(QualifyCol)
    } else
      sql(s, s"SELECT * FROM ( $head ) __graft_q WHERE ($pred) $tail")
  }

  private val AsofFrom =
    ("""(?is)\bFROM\s+(\S+)\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+ASOF\s+(LEFT\s+)?JOIN\s+""" +
      """(\S+)\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+""").r
  private val AsofCond =
    """(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|=)\s*([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
  private val asofViewSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `FROM l la ASOF [LEFT] JOIN r ra ON la.k = ra.k AND la.ts >= ra.ts`
    * (the DuckDB spelling; `<=` selects the forward variant) rewritten
    * onto [[graft.join.TemporalJoins]]' union-window plan. Supported
    * shape: two named sources with aliases, exactly one key equality and
    * one timestamp inequality, qualified `alias.col` refs in the rest of
    * the statement (rewritten to the view's prefixed columns). The right
    * side must be unique per (key, ts) — the same determinism contract
    * DuckDB documents for its ASOF JOIN; duplicate matched rows would
    * make ANY engine's pick arbitrary. Unsupported shapes fail loudly.
    *
    * Scale shape: both sides shuffle ONCE on the key; the match is a
    * running last-non-null inside one window sort — no range self-join,
    * no per-row probe, no broadcast requirement on either side. */
  private def rewriteAsofJoin(s: SparkSession, stmt: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = AsofFrom.findFirstMatchIn(stmt).getOrElse(throw new IllegalArgumentException(
      "ASOF JOIN: unsupported shape — expected FROM <src> <la> ASOF [LEFT] JOIN <src> <ra> " +
        "ON <la.k = ra.k AND la.ts >= ra.ts> (aliases required)"))
    val (lsrc, la) = (m.group(1), m.group(2).toLowerCase)
    val leftOuter = m.group(3) != null
    val (rsrc, ra) = (m.group(4), m.group(5).toLowerCase)
    require(la != ra, s"ASOF JOIN aliases must differ, got '$la' twice")
    val afterOn = stmt.substring(m.end)
    val cut = Seq("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "UNION", "WINDOW")
      .flatMap(k => topLevelWordIndices(afterOn, k)).sorted.headOption.getOrElse(afterOn.length)
    val onExpr = afterOn.substring(0, cut).trim
    val tail = afterOn.substring(cut)

    // Split the ON conjunction at top level and classify each condition.
    val andIdx = topLevelWordIndices(onExpr, "AND")
    val bounds = (-3 +: andIdx) :+ onExpr.length
    val conds = bounds.sliding(2).map { case Seq(a, b) =>
      onExpr.substring(a + 3, b).trim
    }.toSeq
    val parsed = conds.map {
      case AsofCond(a1, c1, op, a2, c2) => (a1.toLowerCase, c1, op, a2.toLowerCase, c2)
      case other => throw new IllegalArgumentException(
        s"ASOF JOIN: unsupported ON condition '$other' — only alias.col (=|>=|<=) alias.col")
    }
    // Normalize every condition to (leftCol, op, rightCol).
    val norm = parsed.map {
      case (`la`, c1, op, `ra`, c2) => (c1, op, c2)
      case (`ra`, c2, op, `la`, c1) =>
        val flipped = op match { case ">=" => "<="; case "<=" => ">="; case e => e }
        (c1, flipped, c2)
      case (a1, _, _, a2, _) => throw new IllegalArgumentException(
        s"ASOF JOIN: ON condition references unknown aliases '$a1'/'$a2' (have '$la', '$ra')")
    }
    val (ineqs, eqs) = norm.partition(_._2 != "=")
    require(eqs.size == 1 && ineqs.size == 1,
      s"ASOF JOIN: need exactly one key equality and one ts inequality, " +
        s"got ${eqs.size} equalities / ${ineqs.size} inequalities")
    val (kl, _, kr) = eqs.head
    val (lts, ineqOp, rts) = ineqs.head
    val forward = ineqOp == "<=" // l.ts <= r.ts: earliest right at-or-after

    def prefixed(df: DataFrame, p: String): DataFrame = {
      // A column that already spells another column's prefixed name
      // would make the fold rename BOTH occurrences — refuse loudly
      // rather than mis-bind the join key.
      val cols = df.columns
      val clash = cols.filter(c => cols.exists(o => s"${p}_$o".equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"ASOF JOIN: source aliased '$p' has columns colliding with prefixed names: " +
          clash.mkString(","))
      cols.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${p}_$c"))
    }
    // The window's ordering column must be integral for the union plan's
    // tie fold — TIMESTAMP converts to epoch MICROS (Spark timestamps
    // are microsecond-precision; a millis conversion would truncate and
    // could match a right row that is sub-millisecond LATER than the
    // left one, violating the ON condition), integral types pass
    // through, anything else is refused with a usable message.
    def orderMicros(df: DataFrame, c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, TimestampType}
      df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c))
        case LongType | IntegerType | ShortType => col(c).cast("long")
        case other => throw new IllegalArgumentException(
          s"ASOF JOIN: time column '$c' has unsupported type ${other.simpleString} — " +
            "use TIMESTAMP or an integral epoch column")
      }
    }
    val lDf0 = prefixed(sql(s, s"SELECT * FROM $lsrc"), la)
    val lDf = lDf0.withColumn("__asof_key", col(s"${la}_$kl"))
      .withColumn("__asof_lt", orderMicros(lDf0, s"${la}_$lts"))
    val rDf0 = prefixed(sql(s, s"SELECT * FROM $rsrc"), ra)
    val rDf = rDf0.withColumn("__asof_key", col(s"${ra}_$kr"))
      .withColumn("__asof_rt", orderMicros(rDf0, s"${ra}_$rts"))
    val payload = rDf.columns.filter(_ != "__asof_key").toSeq
    val real =
      if (forward)
        graft.join.TemporalJoins.asOfJoinForward(
          lDf, rDf, "__asof_key", "__asof_lt", "__asof_rt", payload, "__asof_rt")
      else
        graft.join.TemporalJoins.asOfJoinBackward(
          lDf, rDf, "__asof_key", "__asof_lt", "__asof_rt", payload, "__asof_rt")
    val out0 = real.drop("__asof_key", "asof_gap_ms", "__asof_lt")
    val matchedOnly =
      if (leftOuter) out0 else out0.filter(col("asof___asof_rt").isNotNull)
    val renamed = payload.foldLeft(matchedOnly)((d, c) => d.withColumnRenamed(s"asof_$c", c))
      .drop("__asof_rt")
    val view = s"__graft_asof_${asofViewSeq.incrementAndGet()}"
    renamed.createOrReplaceTempView(view)

    // Statement minus the FROM..ON segment, alias refs -> prefixed cols.
    // sql() analyzes eagerly, so the statement-scoped view drops right
    // after — no per-statement catalog accumulation.
    val rebuilt = stmt.substring(0, m.start) + s" FROM $view " + tail
    // The alias rewrite below is a whole-statement regex: if a subquery
    // anywhere in the rebuilt statement REDEFINES one of the asof
    // aliases (FROM t la / JOIN t ra inside parens), its inner column
    // refs would be rewritten to prefixed names that do not exist there
    // and fail with a misleading analyzer error. Refuse that shape
    // loudly instead (the documented contract for unsupported shapes).
    // The source pattern is an IDENTIFIER/dotted path, not \S+ — a \S+
    // source swallowed expression text like `extract(epoch FROM l.ts)
    // AS l` and false-refused valid statements. Best-effort by design:
    // named-table reuse via FROM/JOIN is caught; derived-table
    // (`(SELECT ...) la`) and comma-join redefinitions are not — those
    // exotic shapes keep the pre-guard behavior.
    val aliasReuse =
      s"""(?i)\\b(?:FROM|JOIN)\\s+[A-Za-z_][A-Za-z0-9_.]*\\s+(?:AS\\s+)?($la|$ra)\\b""".r
    aliasReuse.findFirstMatchIn(rebuilt)
      .filterNot(mm => inLiteral(rebuilt, mm.start))
      .foreach { mm =>
        throw new IllegalArgumentException(
          s"ASOF JOIN: alias '${mm.group(1)}' is also defined by another " +
            "table reference in the statement — rename one of the aliases")
      }
    val aliasRef = s"""(?i)\\b($la|$ra)\\.([A-Za-z_][A-Za-z0-9_]*)""".r
    val replaced = aliasRef.replaceAllIn(rebuilt, mm =>
      if (inLiteral(rebuilt, mm.start)) scala.util.matching.Regex.quoteReplacement(mm.matched)
      else s"${mm.group(1).toLowerCase}_${mm.group(2)}")
    try sql(s, replaced) finally { s.catalog.dropTempView(view); () }
  }

  private val Tablesample =
    ("""(?is)([A-Za-z_][A-Za-z0-9_.]*)\s+TABLESAMPLE\s*\(\s*([0-9]+(?:\.[0-9]+)?)\s+PERCENT\s*\)""" +
      """(?:\s+REPEATABLE\s*\(\s*([0-9]+)\s*\))?""").r

  /** `t TABLESAMPLE (p PERCENT) [REPEATABLE (seed)]` → a hash-threshold
    * filter on t's REGISTERED key columns (seed-suffixed md5-60), spliced
    * back as a subquery so aliases/joins/tails around it are untouched.
    * Loud on unregistered or keyless tables — without a stable row key
    * there is no content-stable sample to define. */
  private def rewriteTablesample(s: SparkSession, stmt: String): DataFrame = {
    val out = Tablesample.replaceAllIn(stmt, m => {
      if (inLiteral(stmt, m.start)) scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val name = normalizeIdent(m.group(1))
        val pct = m.group(2).toDouble
        require(pct >= 0.0 && pct <= 100.0, s"TABLESAMPLE: $pct PERCENT out of range")
        val seed = Option(m.group(3)).map(_.toLong).getOrElse(0L)
        val ref = registry.of(s).getOrElse(name, throw new IllegalArgumentException(
          s"TABLESAMPLE: table '$name' is not registered with GraftSql.register"))
        require(ref.keyCols.nonEmpty,
          s"TABLESAMPLE: table '$name' has no registered key columns — " +
            "content-stable sampling needs a stable row key")
        val keyExpr = ref.keyCols.map(c => s"CAST($c AS STRING)")
          .mkString(" || ':' || ") + s" || ':s$seed'"
        val thr = graft.sample.Sampling.threshold(pct / 100.0)
        val h = graft.text.TextAnalysis.hash60Spark(keyExpr)
        scala.util.matching.Regex.quoteReplacement(
          s"(SELECT * FROM $name WHERE $h < ${thr}L)")
      }
    })
    // An unchanged statement would re-enter this arm forever — refuse
    // loudly instead (only the literal-position edge reaches this).
    require(out != stmt,
      "TABLESAMPLE: unsupported statement shape — only " +
        "`table TABLESAMPLE (p PERCENT) [REPEATABLE (seed)]` on a registered table")
    sql(s, out)
  }

  /** Lexically opaque region starting at `i`: a quoted string (`'…'`,
    * `"…"`, with `''`/`""` doubling and backslash escapes, Spark's
    * default literal syntax), a backtick identifier (`` `…` ``, with
    * ` `` ` doubling), a `--` line comment, or a `/* */` block comment.
    * Returns the index just past the region, or `i` when none starts
    * here. An unterminated region consumes to end-of-text — keyword and
    * paren scanners must never match inside one (an apostrophe in a
    * comment desynced the old single-quote-only trackers; r16 ADVICE). */
  private[graft] def opaqueEnd(text: String, i: Int): Int = {
    val n = text.length
    val c = text.charAt(i)
    if (c == '\'' || c == '"' || c == '`') {
      var k = i + 1
      while (k < n) {
        val ck = text.charAt(k)
        if (ck == '\\' && c != '`' && k + 1 < n) k += 2 // escaped char
        else if (ck == c) {
          if (k + 1 < n && text.charAt(k + 1) == c) k += 2 // doubled quote
          else return k + 1
        } else k += 1
      }
      n
    } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
      val nl = text.indexOf('\n', i)
      if (nl < 0) n else nl + 1
    } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
      val e = text.indexOf("*/", i + 2)
      if (e < 0) n else e + 2
    } else i
  }

  private def topLevelWordIndices(text: String, word: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0; var i = 0
    val n = text.length; val w = word.length
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    while (i < n) {
      val e = opaqueEnd(text, i)
      if (e > i) i = e
      else {
        val c = text.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (depth == 0 && text.regionMatches(true, i, word, 0, w) &&
            (i == 0 || !isWordChar(text.charAt(i - 1))) &&
            (i + w >= n || !isWordChar(text.charAt(i + w)))) {
          out += i
          i += w - 1
        }
        i += 1
      }
    }
    out.toSeq
  }

  private val WithRecursive =
    ("""(?is)^\s*WITH\s+RECURSIVE\s+([A-Za-z_][A-Za-z0-9_]*)\s*""" +
      """(?:\(\s*([A-Za-z_][A-Za-z0-9_,\s]*?)\s*\)\s*)?AS\s*\(""").r

  /** `WITH RECURSIVE name[(cols)] AS (base UNION [ALL] step) final` by
    * bounded iterative materialization — OSS Spark has no recursive
    * CTEs, so the shim runs the standard fixpoint loop itself:
    *
    *  - UNION ALL: working table = exactly the rows the previous
    *    iteration produced; everything accumulates (bag semantics);
    *  - UNION: each iteration's output is deduped against ALL rows
    *    produced so far (EXCEPT DISTINCT) and only the genuinely new
    *    rows feed the next step — the SQL-standard semantics both
    *    engines agree on, and the one that terminates on cyclic graphs.
    *
    * Each iteration localCheckpoints (lineage truncation — the graph-op
    * pattern; without it iteration k's plan nests k copies of the step).
    * Sub-queries recurse through sql(), so AS-OF phrases, registered-
    * table mounts and TVFs all work inside base/step/final. Iterations
    * cap at spark.graft.recursive.maxIterations (default 200) and fail
    * LOUDLY on exceed — the standard's infinite loop, surfaced. Scale
    * shape: one distributed union/except per BFS level; total cost is
    * Σ level sizes, never corpus × depth, and the checkpointed frontier
    * is the only carried state. */
  private def runRecursiveCte(s: SparkSession, statement: String): DataFrame = {
    val stmt = statement.trim.replaceAll(";\\s*$", "")
    val m = WithRecursive.findPrefixMatchOf(stmt).getOrElse(
      throw new IllegalArgumentException(
        "WITH RECURSIVE: expected WITH RECURSIVE <name>[(cols)] AS ( <base> UNION [ALL] <step> ) <final query>"))
    val name = m.group(1)
    val cols = Option(m.group(2))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    require(registry.of(s).get(normalizeIdent(name)).isEmpty,
      s"WITH RECURSIVE: '$name' is also a registered table — the recursive " +
        "name would be shadowed by the statement-scoped mount; pick another name")
    // balanced scan to the CTE body's closing paren (comment/quote-aware)
    var depth = 1; var i = m.end
    while (i < stmt.length && depth > 0) {
      val e = opaqueEnd(stmt, i)
      if (e > i) i = e
      else {
        val c = stmt.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        i += 1
      }
    }
    require(depth == 0, "WITH RECURSIVE: unbalanced parentheses in the CTE body")
    val body = stmt.substring(m.end, i - 1)
    val finalSql = stmt.substring(i).trim
    require(finalSql.nonEmpty, "WITH RECURSIVE: missing the final query after the CTE")
    val unionIdxs = topLevelWordIndices(body, "UNION")
    require(unionIdxs.nonEmpty,
      "WITH RECURSIVE: the CTE body must be <base> UNION [ALL] <recursive step>")
    // UNION is left-associative, so the RECURSIVE term is everything
    // after the LAST top-level UNION; the base may itself be a union
    // chain (DuckDB parses it that way — splitting at the first UNION
    // would fold a base branch into the step and never drain).
    val u = unionIdxs.last
    val base = body.substring(0, u).trim
    var step = body.substring(u + "UNION".length).trim
    val bag = step.length >= 3 && step.regionMatches(true, 0, "ALL", 0, 3) &&
      (step.length == 3 || !Character.isLetterOrDigit(step.charAt(3)))
    if (bag) step = step.substring(3).trim
    val maxIters = s.conf.getOption("spark.graft.recursive.maxIterations")
      .map(_.toInt).getOrElse(200)

    def shape(df: DataFrame): DataFrame = cols match {
      case Some(cs) =>
        require(df.columns.length == cs.length,
          s"WITH RECURSIVE $name(${cs.mkString(",")}): term yields ${df.columns.length} columns")
        df.toDF(cs: _*)
      case None => df
    }
    val priorTemp = scala.util.Try(s.catalog.getTable(name)).toOption
      .filter(_.isTemporary).map(_ => s.table(name))
    // Loop-invariant FROM-subqueries materialize ONCE before the loop
    // (r16): the step re-executes every BFS level, so a derived table
    // that never references the recursive name — e.g. an edge list
    // built by a fact-table self-join — was re-scanned and re-shuffled
    // at EVERY level (depth × the most expensive subplan). Hoisting it
    // into a checkpointed temp view makes the per-level work just
    // frontier ⋈ edges, the Σ-level-sizes shape the scaladoc promises.
    // Results are unchanged: the loop already assumes the step is
    // deterministic (it re-evaluates the same text each level).
    val hoisted = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      // Inside the try: each invariant materializes eagerly, so a later
      // subquery throwing must reach the finally that drops the views
      // (and releases their checkpointed blocks) already created
      // (r16 ADVICE — the hoist used to run before the try).
      step = hoistLoopInvariants(step, name, { sub =>
        val view = s"graft_rcte_inv_${hoisted.size}_" +
          java.util.UUID.randomUUID.toString.replace("-", "").take(8)
        Checkpoints.cut(sql(s, sub)).createOrReplaceTempView(view)
        hoisted += view
        view
      })
      val base0 = shape(sql(s, base))
      var acc = Checkpoints.cut(if (bag) base0 else base0.distinct())
      var working = acc
      // Broadcast the LOOP-CARRIED sides when they are provably small
      // (§3.1: the planner cannot — a localCheckpoint scans as
      // UnknownPartitioning with no stats, so the per-level
      // frontier ⋈ step join AND the except's anti-join both planned
      // as shuffles of BOTH sides, re-shuffling the hoisted fact/edge
      // view and the whole accumulated set at EVERY level). The loop
      // materializes each frontier anyway, so exact row counts are one
      // cheap job on checkpointed blocks; under the threshold the
      // frontier view carries an explicit broadcast hint and the
      // except runs as an explicit broadcast anti-join (below) —
      // strategy-only, results unchanged (and Spark ignores the hint
      // where broadcast does not apply). Opt out / retune via
      // spark.graft.recursive.broadcastMaxRows (0 disables; the
      // default keeps even wide frontiers within tens of MB).
      val maxBcastRows = s.conf.getOption("spark.graft.recursive.broadcastMaxRows")
        .map(_.toLong).getOrElse(1L << 20)
      def bcastIfSmall(df: DataFrame, rows: Long): DataFrame =
        if (rows <= maxBcastRows) df.hint("broadcast") else df
      var workingRows = working.count()
      var accRows = workingRows
      var iter = 0
      var done = workingRows == 0L
      while (!done) {
        iter += 1
        require(iter <= maxIters,
          s"WITH RECURSIVE $name: exceeded $maxIters iterations without reaching a " +
            "fixpoint (set spark.graft.recursive.maxIterations to raise the bound)")
        bcastIfSmall(working, workingRows).createOrReplaceTempView(name)
        val produced = shape(sql(s, step))
        require(produced.columns.length == acc.columns.length,
          s"WITH RECURSIVE $name: step yields ${produced.columns.length} columns, base has ${acc.columns.length}")
        val levelPlan =
          if (bag) produced
          else if (accRows <= maxBcastRows &&
              produced.columns.distinct.length == produced.columns.length) {
            // EXCEPT with the accumulated set BROADCAST: Spark's own
            // optimizer rewrite (Except → Distinct ∘ LeftAnti join on
            // null-safe equality) spelled manually, because a hint
            // UNDER an Except node is dropped by EliminateResolvedHint
            // ("not part of a join relation") before the rewrite runs —
            // measured at sf0.1: the anti-join planned as SortMergeJoin,
            // re-shuffling the whole accumulated set AND the step
            // output at every level (§2.4/§3.1; the accumulated set's
            // exact row count is known, the planner's estimate is not).
            // Null-safe <=> matches EXCEPT's set semantics (NULL=NULL,
            // NaN=NaN) and dropDuplicates supplies the Distinct.
            // Duplicate column names fall back to the built-in Except
            // (positional), which this per-name spelling can't resolve.
            val l = produced.alias("graft_rcte_l")
            val r = acc.hint("broadcast").alias("graft_rcte_r")
            val cond = produced.columns.zip(acc.columns).map {
              case (lc, rc) => l.col(lc) <=> r.col(rc)
            }.reduce(_ && _)
            l.join(r, cond, "left_anti").select(produced.columns.map(l.col): _*)
              .dropDuplicates()
          } else produced.except(acc)
        // Per-LEVEL plan evidence on demand: a final-plan dump of the
        // statement shows only the union of checkpointed frontiers —
        // the loop's join/except shape is invisible in it (the r16
        // ccnet lesson: never cite a final plan for loop-level work).
        // spark.graft.recursive.explainLevel=<n> prints level n's plan.
        if (s.conf.getOption("spark.graft.recursive.explainLevel")
            .flatMap(_.toIntOption).contains(iter))
          // scalastyle:off println
          System.err.println(s"[rcte] level $iter plan:\n" +
            levelPlan.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          // scalastyle:on println
        val next = Checkpoints.cut(levelPlan)
        val nextRows = next.count()
        if (nextRows == 0L) done = true
        // acc stays a LAZY union of the checkpointed frontiers — each
        // level's rows materialize exactly once (in `next`); re-
        // checkpointing the accumulation here would rewrite all prior
        // levels every round, O(depth × total) instead of O(total).
        // Frontiers are disjoint (next excludes acc), so acc's row
        // count is the plain running sum.
        else {
          acc = acc.unionAll(next); accRows += nextRows
          working = next; workingRows = nextRows
        }
      }
      acc.createOrReplaceTempView(name)
      sql(s, finalSql)
    } finally {
      priorTemp match {
        case Some(saved) => saved.createOrReplaceTempView(name)
        case None =>
          if (scala.util.Try(s.catalog.getTable(name)).toOption.exists(_.isTemporary))
            s.catalog.dropTempView(name)
          ()
      }
      hoisted.foreach(v => scala.util.Try(s.catalog.dropTempView(v)))
    }
  }

  /** Rewrite `step` so that every derived table (`FROM (...)` /
    * `JOIN (...)` / a comma-separated FROM item `, (...)` whose body
    * starts with SELECT or WITH) that does NOT mention `name` anywhere
    * is replaced by `mk(subquery)` — the caller materializes the
    * subquery once and returns a view name to splice in. A derived
    * table that DOES mention the name stays inline, but the rewrite
    * recurses into it, so its own invariant derived tables still hoist
    * (r17: nested shapes). Conservative on purpose: a name mention even
    * in a string literal blocks the hoist of that item, a LATERAL item
    * or a parenthesized join is never hoisted as a whole, and anything
    * else not in canonical derived-table position is left untouched —
    * not hoisting is always correct, the loop just re-evaluates it per
    * level as before. The scan is comment- and quote-aware end to end
    * ([[opaqueEnd]]): keywords, commas and parens inside `--`/`/* */`
    * comments, string literals or backtick identifiers never match. */
  private[graft] def hoistLoopInvariants(
      step: String, name: String, mk: String => String): String = {
    val nameWord = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])").r
    val out = new StringBuilder
    var i = 0
    val n = step.length
    // Paren depth of the text passed through (consumed derived tables
    // are balanced, so they never move it) and whether the scan sits in
    // a top-level FROM list — the state that tells a FROM-item comma
    // apart from a function-argument or ORDER/GROUP BY comma.
    var depth = 0
    var inFromList = false
    val FromEnders = Seq("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
      "UNION", "EXCEPT", "INTERSECT", "WINDOW", "QUALIFY")
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    def wordAt(idx: Int, w: String): Boolean =
      step.regionMatches(true, idx, w, 0, w.length) &&
        (idx == 0 || !isWordChar(step.charAt(idx - 1))) &&
        (idx + w.length >= n || !isWordChar(step.charAt(idx + w.length)))
    // Derived-table attempt: `j` points at '(' with pending text from
    // `i0`. Returns the resume index past the item when it was consumed
    // (hoisted, or recursed into because it references the name), -1 to
    // fall back to the plain char-by-char path.
    def tryDerived(i0: Int, j: Int): Int = {
      var d = 1; var k = j + 1
      while (k < n && d > 0) {
        val e = opaqueEnd(step, k)
        if (e > k) k = e
        else {
          val ck = step.charAt(k)
          if (ck == '(') d += 1 else if (ck == ')') d -= 1
          k += 1
        }
      }
      if (d != 0) return -1 // unbalanced: leave the text alone
      val inner = step.substring(j + 1, k - 1)
      val sub = inner.trim
      val derived = sub.nonEmpty &&
        ((sub.length >= 6 && sub.regionMatches(true, 0, "SELECT", 0, 6)) ||
          (sub.length >= 4 && sub.regionMatches(true, 0, "WITH", 0, 4)))
      if (!derived) return -1
      out.append(step.substring(i0, j))
      if (nameWord.findFirstIn(sub).isEmpty) {
        if (j == i0) out += ' ' // `FROM(` — keep the splice a word apart
        out.append(mk(sub))
      } else {
        // References the recursive name: the item itself must re-
        // evaluate per level, but its inner invariants can still hoist.
        out += '('
        out.append(hoistLoopInvariants(inner, name, mk))
        out += ')'
      }
      k
    }
    while (i < n) {
      val e = opaqueEnd(step, i)
      if (e > i) { out.append(step.substring(i, e)); i = e }
      else {
        val c = step.charAt(i)
        if (wordAt(i, "FROM") || wordAt(i, "JOIN")) {
          val kw = if (wordAt(i, "FROM")) "FROM" else "JOIN"
          if (depth == 0 && kw == "FROM") inFromList = true
          out.append(step.substring(i, i + kw.length))
          i += kw.length
          var j = i
          while (j < n && Character.isWhitespace(step.charAt(j))) j += 1
          if (j < n && step.charAt(j) == '(') {
            val ni = tryDerived(i, j)
            if (ni >= 0) i = ni
          }
        } else if (depth == 0 && inFromList && c == ',') {
          // Comma-separated FROM item: hoists exactly like `FROM (…)`.
          out += c; i += 1
          var j = i
          while (j < n && Character.isWhitespace(step.charAt(j))) j += 1
          if (j < n && step.charAt(j) == '(') {
            val ni = tryDerived(i, j)
            if (ni >= 0) i = ni
          }
        } else {
          if (depth == 0 && inFromList && FromEnders.exists(wordAt(i, _)))
            inFromList = false
          if (c == '(') depth += 1
          else if (c == ')' && depth > 0) depth -= 1
          out += c; i += 1
        }
      }
    }
    out.toString
  }

  /** Split on top-level whole-word separators, dropping the separator. */
  private def splitTopLevelWord(text: String, word: String): Seq[String] = {
    val idxs = topLevelWordIndices(text, word)
    val starts = 0 +: idxs.map(_ + word.length)
    val ends = idxs :+ text.length
    starts.zip(ends).map { case (a, b) => text.substring(a, b).trim }.filter(_.nonEmpty)
  }

  /** Remove one key from the `_PROPS` manifest (atomic replace). */
  private def unsetProperty(s: SparkSession, name: String, key: String): Unit = {
    val ref = resolve(s, name)
    val remaining = properties(ref.dir) - key
    val body = remaining.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }.mkString("\n")
    graft.streaming.VersionNames.replaceFile(java.nio.file.Paths.get(ref.dir, "_PROPS"), body)
  }

  private def singleRow(s: SparkSession, fields: Seq[(String, Any)]): DataFrame = {
    val schema = StructType(fields.map {
      case (n, _: String) => StructField(n, StringType, nullable = false)
      case (n, _: Long)   => StructField(n, LongType, nullable = false)
      case (n, _: Int)    => StructField(n, IntegerType, nullable = false)
      case (n, v) => throw new IllegalArgumentException(s"unsupported field $n: $v")
    })
    s.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(fields.map(_._2))), schema)
  }

  /** One row per published version, newest first: version id, publish
    * timestamp (`_CURRENT`'s mtime for a live version whose `_HISTORY`
    * line is missing), whether it is the live
    * version, and per-snapshot file/row/byte tallies. Row counts come
    * from parquet footers (a metadata-only Spark count), so the whole
    * statement is manifest+footer reads — no data scan; a LIMIT bounds
    * the per-version work, not just the output. Liveness compares full
    * resolved paths, so a shallow clone (whose `_CURRENT` points into
    * ANOTHER table) marks no local version current instead of
    * mislabeling a same-named one. */
  def describeHistory(s: SparkSession, dir: String, limit: Option[Int] = None): DataFrame = {
    val current = java.nio.file.Paths.get(ParquetTable.currentPath(dir))
      .toAbsolutePath.normalize
    val versions = ParquetTable.publishedVersions(dir)
    val rows = limit.fold(versions)(versions.take).map { case (v, ms) =>
      val (nFiles, bytes) = snapshotFiles(s"$dir/$v")
      Row(
        graft.streaming.VersionNames.idOf(v),
        v,
        new java.sql.Timestamp(ms),
        java.nio.file.Paths.get(dir, v).toAbsolutePath.normalize == current,
        s.read.parquet(s"$dir/$v").count(),
        nFiles,
        bytes)
    }
    s.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("version_name", StringType, nullable = false),
        StructField("timestamp", TimestampType, nullable = true),
        StructField("is_current", BooleanType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false))))
  }

  /** DESCRIBE / DESCRIBE EXTENDED routing: registered manifest tables
    * get the metadata-layer description below; anything else (temp
    * views, catalog tables) delegates to Spark's native DESCRIBE, which
    * handles those already — the shim only adds what Spark can't see. */
  private def describeDispatch(
      s: SparkSession, statement: String, rawName: String,
      extended: Boolean): DataFrame = {
    val name = normalizeIdent(rawName)
    registry.of(s).get(name) match {
      case Some(ref) => describeTable(s, name, ref.dir, ref.keyCols, extended)
      case None => s.sql(statement)
    }
  }

  /** Spark's DESCRIBE shape — (col_name, data_type, comment) — over the
    * manifest metadata layers: the EVOLVED logical schema (renames /
    * widens / column mapping applied), column comments from the schema
    * manifest, and for EXTENDED a `# Detailed Table Information`
    * section carrying the snapshot facts DESCRIBE DETAIL reports plus
    * table properties and constraints. Costs are manifest-bounded:
    * schema + comments come from metadata, and the only data touch is
    * EXTENDED's row count (same as DESCRIBE DETAIL). */
  def describeTable(
      s: SparkSession, name: String, dir: String,
      keyCols: Seq[String], extended: Boolean): DataFrame = {
    val versioned = ParquetTable.exists(dir)
    // The EVOLVED logical schema in both layouts: a versioned table with
    // a column-mapping manifest must list logical (renamed) names — the
    // same dispatch TableStats.read uses — or comments (keyed logical)
    // would silently miss and renames would leak physical names.
    val schema =
      if (versioned)
        SchemaEvolution.readEvolvedAt(s, dir, ParquetTable.currentPath(dir)).schema
      else SchemaEvolution.readEvolved(s, dir).schema
    val comments = SchemaEvolution.manifestOf(dir).map(mf =>
        mf.comments.map { case (p, c) =>
          mf.mapping.logicalOf(p).getOrElse(p).toLowerCase -> c })
      .getOrElse(Map.empty[String, String])
    val colRows = schema.fields.toSeq.map { f =>
      Row(f.name, f.dataType.simpleString, comments.get(f.name.toLowerCase).orNull)
    }
    // Snapshot facts exist only for versioned (_CURRENT) tables; a
    // schema-evolution-layout registration still gets the detail section
    // minus them, instead of a NoSuchFileException.
    val extraRows = if (!extended) Seq.empty[Row] else {
      val snapFacts =
        if (!versioned) Seq.empty[Row]
        else {
          val (cur, nSnaps, nFiles, bytes) = snapshotFacts(dir)
          Seq(
            Row("Current Version", cur.toString, null),
            Row("Num Snapshots", nSnaps.toString, null),
            Row("Num Files", nFiles.toString, null),
            Row("Size Bytes", bytes.toString, null))
        }
      val props = properties(dir)
      val constraints =
        Constraints.checks(dir).map { case (n, e) => s"CHECK $n ($e)" } ++
        Constraints.uniques(dir).map { case (n, c) => s"UNIQUE $n (${c.mkString(",")})" }
      val nRows =
        if (versioned) ParquetTable.read(s, dir).count()
        else SchemaEvolution.readEvolved(s, dir).count()
      Seq(
        Row("", "", null),
        Row("# Detailed Table Information", "", null),
        Row("Name", name, null),
        Row("Type", "EXTERNAL", null),
        Row("Location", dir, null),
        Row("Provider", "parquet", null)) ++
        snapFacts ++
        Seq(Row("Num Rows", nRows.toString, null)) ++
        (if (keyCols.nonEmpty) Seq(Row("Key Columns", keyCols.mkString(", "), null)) else Nil) ++
        (if (props.nonEmpty)
          Seq(Row("Table Properties",
            props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
              .mkString("[", ", ", "]"), null))
         else Nil) ++
        (if (constraints.nonEmpty)
          Seq(Row("Constraints", constraints.mkString("; "), null)) else Nil)
    }
    s.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(colRows ++ extraRows).asJava),
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("comment", StringType, nullable = true))))
  }

  /** The live version's id, the number of published versions, and the
    * live version's data files and bytes: what DESCRIBE DETAIL and
    * DESCRIBE EXTENDED report. */
  private def snapshotFacts(dir: String): (Long, Long, Long, Long) = {
    val cur = ParquetTable.currentPath(dir)
    val (nFiles, bytes) = snapshotFiles(cur)
    (graft.streaming.VersionNames.idOf(java.nio.file.Paths.get(cur).getFileName.toString),
      ParquetTable.snapshots(dir).size.toLong, nFiles, bytes)
  }

  /** One row describing the live snapshot (Delta's DESCRIBE DETAIL
    * shape: format/location/counts). */
  def describeDetail(s: SparkSession, name: String, dir: String): DataFrame = {
    val (cur, nSnaps, nFiles, bytes) = snapshotFacts(dir)
    val row = Row("parquet", name, dir, cur, nSnaps, ParquetTable.read(s, dir).count(), nFiles, bytes)
    s.createDataFrame(
      java.util.Collections.singletonList(row),
      StructType(Seq(
        StructField("format", StringType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("current_version", LongType, nullable = false),
        StructField("n_snapshots", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false))))
  }

  /** `table_changes(name, v1, v2)`: the key-wise diff between the
    * snapshots with ABSOLUTE version ids v1 and v2 (insert / delete /
    * update_pre+postimage, Delta CDF's shape), with `_commit_version` =
    * v2. Intermediate versions are not replayed individually — a
    * snapshot-per-swap table's feed between two versions IS the diff of
    * its endpoints. */
  /** File inventory of the LIVE snapshot — the queryable shape of
    * Delta's `files` / Iceberg's `table.files` metadata table: one row
    * per data file with its path, byte size, and row count. ONE
    * metadata-projection job over the snapshot (`_metadata` columns +
    * a file-keyed count — Spark reads no data columns for it); output
    * is bounded by the FILE count, never table rows, at any scale.
    * `file_name` is the path's basename (unique within a snapshot dir),
    * so results are stable across temp-dir locations. The inventory
    * frame comes from the FILESYSTEM listing (bounded by file count),
    * with row counts joined on from the `_metadata` projection — a
    * groupBy alone would silently omit zero-row files (an empty task's
    * part file hard-linked forward never yields a row), undercounting
    * exactly the files a health audit wants to see. */
  def tableFiles(s: SparkSession, rawName: String): DataFrame = {
    val name = normalizeIdent(rawName)
    val snap = ParquetTable.currentPath(resolve(s, name).dir)
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(snap))
    val listed =
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => Row(p.getFileName.toString, java.nio.file.Files.size(p)))
        .toSeq
      finally stream.close()
    val files = s.createDataFrame(listed.asJava, StructType(Seq(
      StructField("file_name", StringType, nullable = false),
      StructField("size_bytes", LongType, nullable = false))))
    val counts = s.read.parquet(snap)
      .groupBy(col("_metadata.file_name").as("file_name"))
      .agg(count(lit(1)).as("rows"))
    files.join(counts, Seq("file_name"), "left")
      .select(col("file_name"), col("size_bytes"),
        coalesce(col("rows"), lit(0L)).as("rows"))
  }

  def tableChanges(s: SparkSession, name: String, v1: Long, v2: Long): DataFrame = {
    val ref = resolve(s, name)
    require(ref.keyCols.nonEmpty,
      s"table_changes needs key columns: register '$name' with keyCols")
    val Seq(from, to) = versionNamesOf(name, ref.dir, v1, v2)
    ParquetTable.changesBetween(s, ref.dir, from, to, ref.keyCols)
      .withColumn("_commit_version", lit(v2))
  }

  private def snapshotFiles(path: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) return (0L, 0L)
    val st = java.nio.file.Files.list(p)
    try {
      val fs = st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
    } finally st.close()
  }
}
