package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CdcPipeline
import graft.scd.ScdPipeline
import graft.tables.SqlScriptRunner

/** The SQL/DDL surface end-to-end (SURVEY.md §2.1 S7, §2.3 Q13, §3.3):
  * dump the engine-produced tables to parquet, register them + the views
  * via the seed scripts (SqlScriptRunner), query the views through
  * spark.sql — oracle-checked like everything else.
  */
object SqlSurfaceQueries extends QueryModule {

  private val seeded =
    new graft.tables.SessionMemo[String, Boolean]

  /** Dump + register the tables and views once per (session, dir);
    * public so Bench can time it as an explicit `build_*` entry. The
    * DML statement seed (5 versioned tables, one statement each) rides
    * here too so the first sql_dml_* query measures only its rollup. */
  def ensureSeeded(s: SparkSession, dir: String): Unit = {
    seeded.getOrElseUpdate(s, dir)({
      val base = graft.tables.TmpDirs.create("graft-sql").toString
      // Shared dep first (ordersCurrent builds ON the order stream —
      // racing the two would double-build the persisted frame), then
      // the two independent dumps overlapped per guide §2.6.
      CdcPipeline.orderStreamCached(s, dir)
      SeedPar.all(Seq(
        () => CdcPipeline.orderStreamCached(s, dir)
          .write.mode("overwrite").parquet(s"$base/order_stream"),
        () => ScdPipeline.ordersCurrent(s, dir)
          .write.mode("overwrite").parquet(s"$base/orders_current")))
      SqlScriptRunner.runResource(s, "/ddl/10_tables.sql", Map(
        "order_stream_dir" -> s"$base/order_stream",
        "orders_current_dir" -> s"$base/orders_current"))
      SqlScriptRunner.runResource(s, "/ddl/20_views.sql")
      true
    })
    // The four statement seeders mutate disjoint tables under disjoint
    // scratch roots; their one shared memo (the checkpointed orders
    // slice) is sequenced first so the fan-out cannot race-evaluate it.
    // Each statement's copy-on-write commit is driver-side manifest
    // work + small jobs — exactly the §2.6 back-fill shape.
    ordersSlice(s, dir)
    SeedPar.all(Seq(
      () => dmlTables(s, dir),
      () => copyTable(s, dir),
      () => mergeEvolveTable(s, dir),
      () => byNameTable(s, dir)))
    ()
  }

  private val ordersSliceMemo =
    new graft.tables.SessionMemo[String, (DataFrame, Long)]

  /** The (o_orderkey, o_orderstatus, o_totalprice) slice of `orders`
    * that seeds every DML/COPY statement table, checkpointed once per
    * (session, dir) together with its max key. The four seeders
    * previously each re-read orders.parquet — 9 swap sources + 3
    * max-key aggregates + 3 merge-source views = 15 scans of the same
    * file for one projection (r17, guide §6/§5: pay the scan once; the
    * checkpointed rows are exactly the projection every consumer
    * wants). Row content is identical, so every statement's oracle
    * semantics are unchanged. */
  private def ordersSlice(s: SparkSession, dir: String): (DataFrame, Long) =
    ordersSliceMemo.getOrElseUpdate(s, dir)({
      val df = graft.tables.Checkpoints.cut(
        s.read.parquet(graft.SparkSessions.tablePath(dir, "orders"))
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
      val maxKey = df.agg(org.apache.spark.sql.functions.max("o_orderkey"))
        .head.getLong(0)
      (df, maxKey)
    })

  private val bynSeeded =
    new graft.tables.SessionMemo[String, String]

  /** INSERT BY NAME seed: a copy of orders, appended to through the
    * BY NAME spelling with a REORDERED select list (keys shifted past
    * max so the append is key-disjoint, status 'B', price +0.5). */
  private def byNameTable(s: SparkSession, dir: String): String =
    bynSeeded.getOrElseUpdate(s, dir)({
      import graft.tables.GraftSql
      val base = graft.tables.TmpDirs.create("graft-bynsql").toString
      val (orders, maxKey) = ordersSlice(s, dir)
      graft.streaming.ParquetTable.swap(s, orders.repartition(4), s"$base/t")
      val name = s"dml_byn_${java.util.UUID.randomUUID.toString.replace("-", "").take(8)}"
      GraftSql.register(s, name, s"$base/t", Seq("o_orderkey"))
      GraftSql.sql(s,
        s"""INSERT INTO $name BY NAME
           |SELECT o_totalprice + 0.5 AS o_totalprice,
           |       'B' AS o_orderstatus,
           |       o_orderkey + ${maxKey + 1} AS o_orderkey
           |FROM $name WHERE o_orderkey % 17 = 0""".stripMargin)
      name
    })

  private val mevSeeded =
    new graft.tables.SessionMemo[String, String]

  /** MERGE WITH SCHEMA EVOLUTION seed: the source carries a column the
    * target lacks (`o_channel`); the statement widens the target
    * metadata-only, then upserts — matched %5 rows land at 'web',
    * inserted shifted-%13 rows at 'app', every untouched row null-fills
    * the new column at read. */
  private def mergeEvolveTable(s: SparkSession, dir: String): String =
    mevSeeded.getOrElseUpdate(s, dir)({
      import org.apache.spark.sql.functions._
      import graft.tables.GraftSql
      val base = graft.tables.TmpDirs.create("graft-mevsql").toString
      val (orders, maxKey) = ordersSlice(s, dir)
      val uid = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
      graft.streaming.ParquetTable.swap(s, orders.repartition(4), s"$base/mev")
      val name = s"dml_mev_$uid"
      GraftSql.register(s, name, s"$base/mev", Seq("o_orderkey"))
      val srcView = s"dml_mevsrc_$uid"
      orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_channel", lit("web"))
        .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1)
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("o_channel", lit("app")))
        .createOrReplaceTempView(srcView)
      GraftSql.sql(s,
        s"""MERGE WITH SCHEMA EVOLUTION INTO $name AS t
           |USING $srcView AS s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      name
    })

  private def viaSql(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => { ensureSeeded(s, dir); s.sql(sql) }

  private val dmlSeeded =
    new graft.tables.SessionMemo[String, (String, String, String, String, String, String)]

  /** Three small versioned tables seeded from `orders`, each mutated by
    * ONE row-level DML STATEMENT through GraftSql.sql — the gated
    * queries read the post-statement state, so the oracle checks the
    * statement surface end-to-end (parse → copy-on-write rewrite →
    * publish), not just the programmatic merge API (tt_merge_into
    * covers that). Names are build-unique: getOrElseUpdate may
    * race-evaluate this builder, and a session-global name would let
    * one build's statements resolve to the other's directory. */
  private def dmlTables(
      s: SparkSession, dir: String): (String, String, String, String, String, String) =
    dmlSeeded.getOrElseUpdate(s, dir)({
      import org.apache.spark.sql.functions._
      import graft.tables.GraftSql
      val base = graft.tables.TmpDirs.create("graft-dmlsql").toString
      val (orders, maxKey) = ordersSlice(s, dir)
      val uid = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
      def mk(tag: String): String = {
        graft.streaming.ParquetTable.swap(s, orders.repartition(4), s"$base/$tag")
        val nm = s"dml_${tag}_$uid"
        GraftSql.register(s, nm, s"$base/$tag", Seq("o_orderkey"))
        nm
      }
      // Six disjoint tables: the swap-in writes and then the six
      // statements (one per table) each overlap per guide §2.6 — the
      // per-statement commit protocol (read-snapshot → rewrite →
      // atomic publish) is driver-heavy with small jobs, the exact
      // shape concurrent FIFO jobs back-fill. Per-table commit locks
      // plus uid-suffixed view names keep the arms independent; each
      // table still sees exactly its one statement, so the oracle
      // semantics per table are unchanged.
      val names = SeedPar.mapAll(Seq("upd", "del", "mrg", "ovw", "rpw", "nms"))(mk)
      val (u, d, m) = (names(0), names(1), names(2))
      val (o, r, nm) = (names(3), names(4), names(5))
      SeedPar.all(Seq(
        () => GraftSql.sql(s, s"UPDATE $u SET o_orderstatus = 'U', " +
          s"o_totalprice = o_totalprice + 500.0 WHERE o_orderkey % 7 = 0"),
        () => GraftSql.sql(s, s"DELETE FROM $d WHERE o_orderkey % 11 = 0"),
        () => {
          // MERGE source: %5 keys re-keyed to ('M', 2×price) with a
          // delete guard on %3; %13 keys shifted past the max key so
          // they land as inserts. Disjoint key sets by construction.
          val srcView = s"dml_src_$uid"
          orders.filter(col("o_orderkey") % 5 === 0)
            .withColumn("o_orderstatus", lit("M"))
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .withColumn("kill", col("o_orderkey") % 3 === 0)
            .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
              .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1)
              .withColumn("o_orderstatus", lit("N"))
              .withColumn("kill", lit(false)))
            .createOrReplaceTempView(srcView)
          GraftSql.sql(s,
            s"""MERGE INTO $m AS t USING $srcView AS s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED AND s.kill THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        },
        // Full-table overwrite: the new version is exactly the SELECT
        // (even keys restated as 'O' at price+1); history preserved.
        () => GraftSql.sql(s,
          s"""INSERT OVERWRITE $o SELECT o_orderkey, 'O' AS o_orderstatus,
             |  o_totalprice + 1.0 AS o_totalprice FROM $o
             |WHERE o_orderkey % 2 = 0""".stripMargin),
        // Predicate-scoped overwrite: the %4 window is dropped and ONLY
        // its %8 subset restated ('R', 3x price) — the %4-but-not-%8
        // rows must vanish, everything outside must be untouched.
        () => GraftSql.sql(s,
          s"""INSERT INTO $r REPLACE WHERE o_orderkey % 4 = 0
             |SELECT o_orderkey, 'R' AS o_orderstatus,
             |  o_totalprice * 3 AS o_totalprice FROM $r
             |WHERE o_orderkey % 8 = 0""".stripMargin),
        () => {
          // NOT MATCHED BY SOURCE family: %5 keys are the source
          // (replaced as 'M' at 2× price); every OTHER target row
          // routes first-match-wins through the NMBS chain — %3 rows
          // restated as 'S' at +100, then %7 rows deleted. A
          // %21-and-not-%5 key pins the clause ORDER: it matches both
          // guards and must be updated, not deleted.
          val nmSrcView = s"dml_nmsrc_$uid"
          orders.filter(col("o_orderkey") % 5 === 0)
            .withColumn("o_orderstatus", lit("M"))
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .createOrReplaceTempView(nmSrcView)
          GraftSql.sql(s,
            s"""MERGE INTO $nm AS t USING $nmSrcView AS s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 3 = 0
               |  THEN UPDATE SET o_orderstatus = 'S', o_totalprice = o_totalprice + 100.0
               |WHEN NOT MATCHED BY SOURCE AND o_orderkey % 7 = 0 THEN DELETE""".stripMargin)
        }))
      (u, d, m, o, r, nm)
    })

  private val copySeeded =
    new graft.tables.SessionMemo[String, String]

  /** COPY INTO seed: an empty versioned table ingests `orders` from a
    * source directory landed in TWO waves (even keys, then odd keys),
    * with a statement after each wave AND a redundant third statement —
    * the gated rollup equals plain `orders` ONLY if wave-1 files were
    * skipped on the later runs (a double-load would double the
    * counts). */
  private def copyTable(s: SparkSession, dir: String): String =
    copySeeded.getOrElseUpdate(s, dir)({
      import org.apache.spark.sql.functions._
      import graft.tables.GraftSql
      val base = graft.tables.TmpDirs.create("graft-cpysql").toString
      val (orders, _) = ordersSlice(s, dir)
      val uid = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
      val name = s"cpy_sql_$uid"
      graft.streaming.ParquetTable.swap(s, orders.where(lit(false)), s"$base/t")
      GraftSql.register(s, name, s"$base/t", Seq("o_orderkey"))
      val src = java.nio.file.Paths.get(base, "src")
      java.nio.file.Files.createDirectories(src)
      def land(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val st = java.nio.file.Paths.get(base, s"stage_$tag")
        df.coalesce(2).write.parquet(st.toString)
        val parts = java.nio.file.Files.list(st).iterator()
        var i = 0
        scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).foreach { p =>
            java.nio.file.Files.move(p, src.resolve(s"${tag}_$i.parquet")); i += 1
          }
      }
      land(orders.where(col("o_orderkey") % 2 === 0), "w1")
      GraftSql.sql(s, s"COPY INTO $name FROM '$src' FILEFORMAT = PARQUET")
      land(orders.where(col("o_orderkey") % 2 =!= 0), "w2")
      GraftSql.sql(s, s"COPY INTO $name FROM '$src' FILEFORMAT = PARQUET")
      // Redundant replay: must be a pure no-op.
      GraftSql.sql(s, s"COPY INTO $name FROM '$src' FILEFORMAT = PARQUET")
      name
    })

  /** Post-DML rollup, integer-exact: cents sums are BIGINT, so the
    * aggregate is order-independent and hash-stable cross-engine. */
  private def dmlRollup(s: SparkSession, name: String): DataFrame =
    graft.tables.GraftSql.sql(s,
      s"""SELECT o_orderstatus, count(*) AS n,
         |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
         |FROM $name GROUP BY o_orderstatus""".stripMargin)

  override def queries: Seq[EngineQuery] = Seq(

    // Change-detection view (LATERAL VIEW explode + CASE over before
    // images), aggregated by change type.
    EngineQuery(
      "sql_view_changes",
      viaSql("""SELECT change_type, count(*) AS n,
               |  count(DISTINCT orderId) AS n_orders
               |FROM order_stream_changes GROUP BY change_type""".stripMargin),
      Some("""SELECT 'INSERTED' AS change_type,
             |  CAST(count(*) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_orders
             |FROM orders WHERE (o_orderkey // 5) % 11 <> 0
             |UNION ALL
             |SELECT 'UPDATED', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT)
             |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin)),

    // SCD1 summary view: version histogram.
    EngineQuery(
      "sql_view_version_histogram",
      viaSql("""SELECT version, count(*) AS n
               |FROM orders_current_summary GROUP BY version""".stripMargin),
      Some("""SELECT CAST(2.0 AS DOUBLE) AS version, CAST(count(*) AS BIGINT) AS n
             |FROM orders WHERE o_orderkey % 7 = 0
             |UNION ALL
             |SELECT CAST(1.0 AS DOUBLE), CAST(count(*) AS BIGINT)
             |FROM orders WHERE (o_orderkey // 5) % 11 <> 0 AND o_orderkey % 7 <> 0""".stripMargin)),

    // Change-log head view: one row per order ever seen in the stream.
    EngineQuery(
      "sql_view_stream_current",
      viaSql("SELECT count(*) AS n_orders FROM order_stream_current"),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders
             |WHERE (o_orderkey // 5) % 11 <> 0 OR o_orderkey % 7 = 0 OR o_orderkey % 9 = 0""".stripMargin)),

    // UPDATE ... SET ... WHERE as a whole statement: post-image rollup.
    EngineQuery(
      "sql_dml_update",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._1),
      Some("""SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500.0
             |                            ELSE o_totalprice END) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders GROUP BY 1""".stripMargin)),

    // DELETE FROM ... WHERE as a whole statement: survivors rollup.
    EngineQuery(
      "sql_dml_delete",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._2),
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders WHERE o_orderkey % 11 <> 0 GROUP BY o_orderstatus""".stripMargin)),

    // MERGE INTO (update/insert/guarded-delete clauses) as a statement:
    // %5 keys replaced ('M', 2×price) unless %3 (deleted); %13 keys
    // re-inserted above the max key as 'N'.
    EngineQuery(
      "sql_dml_merge",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._3),
      Some("""WITH merged AS (
             |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'M' ELSE o_orderstatus END AS st,
             |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
             |  FROM orders WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 3 = 0)
             |  UNION ALL
             |  SELECT 'N' AS st, o_totalprice AS p FROM orders WHERE o_orderkey % 13 = 0
             |)
             |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM merged GROUP BY st""".stripMargin)),

    // Parameterized SQL (named parameter markers, Spark 3.4+/DuckDB
    // prepared-statement parity) composed THROUGH EXECUTE IMMEDIATE
    // (SQL-scripting surface): the query text is itself a value, the
    // parameters bind as literals at plan time (so pruning/pushdown see
    // constants, not variables). The dashboard/templating path — SQL
    // injection-proof by construction.
    EngineQuery(
      "sql_named_params",
      (s, dir) => {
        s.read.parquet(graft.SparkSessions.tablePath(dir, "orders"))
          .createOrReplaceTempView("orders")
        s.sql(
          """EXECUTE IMMEDIATE
            |  'SELECT o_orderstatus, count(*) AS n,
            |     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
            |   FROM orders WHERE o_totalprice >= :minp AND o_orderdate >= :mind
            |   GROUP BY o_orderstatus'
            |  USING 50000.0 AS minp, TIMESTAMP '1996-01-01' AS mind""".stripMargin)
      },
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_totalprice >= 50000.0 AND o_orderdate >= TIMESTAMP '1996-01-01'
             |GROUP BY o_orderstatus""".stripMargin)),

    // INSERT INTO ... BY NAME with a deliberately REORDERED select list:
    // the rows must land in the right columns anyway (the Spark 3.5 /
    // DuckDB by-name spelling).
    EngineQuery(
      "sql_dml_insert_byname",
      (s, dir) => {
        val nm = byNameTable(s, dir)
        graft.tables.GraftSql.sql(s,
          s"""SELECT o_orderstatus, count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
             |FROM $nm GROUP BY o_orderstatus""".stripMargin)
      },
      Some("""WITH fin AS (
             |  SELECT o_orderstatus, o_totalprice FROM orders
             |  UNION ALL
             |  SELECT 'B' AS o_orderstatus, o_totalprice + 0.5 FROM orders
             |  WHERE o_orderkey % 17 = 0)
             |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM fin GROUP BY o_orderstatus""".stripMargin)),

    // MERGE WITH SCHEMA EVOLUTION as a whole statement: the source's
    // extra o_channel column widens the target (metadata-only ADD
    // COLUMNS — zero data IO), then the same commit upserts. Untouched
    // rows read the new column as NULL; the rollup groups on it, so the
    // evolved schema and all three row populations are hash-gated.
    EngineQuery(
      "sql_dml_merge_evolve",
      (s, dir) => {
        val nm = mergeEvolveTable(s, dir)
        graft.tables.GraftSql.sql(s,
          s"""SELECT o_orderstatus, o_channel, count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
             |FROM $nm GROUP BY o_orderstatus, o_channel""".stripMargin)
      },
      Some("""WITH src AS (
             |  SELECT 'M' AS st, o_totalprice * 2 AS p, 'web' AS ch
             |  FROM orders WHERE o_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT 'N', o_totalprice, 'app' FROM orders WHERE o_orderkey % 13 = 0),
             |fin AS (
             |  SELECT o_orderstatus AS st, o_totalprice AS p, CAST(NULL AS VARCHAR) AS ch
             |  FROM orders WHERE o_orderkey % 5 <> 0
             |  UNION ALL
             |  SELECT st, p, ch FROM src)
             |SELECT st AS o_orderstatus, ch AS o_channel, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM fin GROUP BY 1, 2""".stripMargin)),

    // INSERT OVERWRITE as a whole statement: the table's live snapshot
    // must be exactly the SELECT result (even keys, 'O', price+1).
    EngineQuery(
      "sql_dml_overwrite",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._4),
      Some("""SELECT 'O' AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round((o_totalprice + 1.0) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1""".stripMargin)),

    // INSERT INTO ... REPLACE WHERE as a whole statement: the %4 window
    // replaced by its restated %8 subset in ONE commit, the rest
    // untouched — atomic predicate-scoped overwrite.
    EngineQuery(
      "sql_dml_replace_where",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._5),
      Some("""WITH fin AS (
             |  SELECT o_orderstatus AS st, o_totalprice AS p
             |  FROM orders WHERE o_orderkey % 4 <> 0
             |  UNION ALL
             |  SELECT 'R' AS st, o_totalprice * 3 AS p
             |  FROM orders WHERE o_orderkey % 8 = 0
             |)
             |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM fin GROUP BY st""".stripMargin)),

    // MERGE with the NOT MATCHED BY SOURCE clause family: %5 keys
    // replaced from the source; unmatched target rows route first-
    // match-wins — %3 restated ('S', +100), then %7 deleted. A key
    // divisible by 21 but not 5 matches BOTH guards and must survive
    // as 'S' — the oracle's CASE order encodes exactly that precedence.
    EngineQuery(
      "sql_dml_merge_nmbs",
      (s, dir) => dmlRollup(s, dmlTables(s, dir)._6),
      Some("""WITH fin AS (
             |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'M'
             |              WHEN o_orderkey % 3 = 0 THEN 'S'
             |              ELSE o_orderstatus END AS st,
             |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
             |              WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
             |              ELSE o_totalprice END AS p
             |  FROM orders
             |  WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 3 <> 0
             |             AND o_orderkey % 7 = 0)
             |)
             |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(p * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM fin GROUP BY st""".stripMargin)),

    // COPY INTO as a statement: two source waves + a redundant replay —
    // the rollup equals plain orders ONLY if already-loaded files are
    // skipped (a double-load doubles counts and flips the hash).
    EngineQuery(
      "sql_copy_into",
      (s, dir) => dmlRollup(s, copyTable(s, dir)),
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // QUALIFY with an inline window predicate (no alias): the statement
    // text below is EXACTLY what DuckDB executes as the oracle — the
    // engine side runs the same text through GraftSql's rewrite (the
    // predicate becomes a synthetic select item, the block is wrapped,
    // filtered, and the item dropped). Best order per customer;
    // deterministic via the (price DESC, orderkey) total tiebreak.
    EngineQuery(
      "sql_qualify_window",
      (s, dir) => {
        s.read.parquet(graft.SparkSessions.tablePath(dir, "orders"))
          .createOrReplaceTempView("orders")
        graft.tables.GraftSql.sql(s, QualifyWindowSql)
      },
      Some(QualifyWindowSql)),

    // QUALIFY referencing a select-list ALIAS of a window function —
    // the other canonical spelling (rewritten as wrap + outer WHERE,
    // where the alias is a real column). Top-2 orders per priority.
    EngineQuery(
      "sql_qualify_alias",
      (s, dir) => {
        s.read.parquet(graft.SparkSessions.tablePath(dir, "orders"))
          .createOrReplaceTempView("orders")
        graft.tables.GraftSql.sql(s, QualifyAliasSql)
      },
      Some(QualifyAliasSql)),

    // WITH RECURSIVE — transitive reachability over the part
    // co-occurrence graph, the SAME statement text in both engines:
    // DuckDB runs its native recursive CTE, the engine runs GraftSql's
    // bounded iterative-materialization rewrite (Spark 4.1 recurses
    // natively only with UNION ALL and rejects the UNION this statement
    // needs). UNION (not ALL) semantics: each BFS level dedups
    // against everything reached so far, so the loop terminates on the
    // cyclic co-occurrence graph. Scale shape: one distributed
    // join+except per level over the CHECKPOINTED frontier — total work
    // Σ level sizes, never corpus × depth.
    EngineQuery(
      "sql_recursive_cte",
      (s, dir) => {
        s.read.parquet(graft.SparkSessions.tablePath(dir, "part"))
          .createOrReplaceTempView("part")
        s.read.parquet(graft.SparkSessions.tablePath(dir, "lineitem"))
          .createOrReplaceTempView("lineitem")
        graft.tables.GraftSql.sql(s, RecursiveCteSql)
      },
      Some(RecursiveCteSql))
  )

  // Shared statement texts: the Spark run and the DuckDB oracle execute
  // the SAME QUALIFY SQL (DuckDB supports the clause natively; our
  // engine supplies it by rewrite) — the strongest possible parity
  // check for a dialect extension.
  private val QualifyWindowSql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
      |ORDER BY o_custkey LIMIT 100""".stripMargin

  private val QualifyAliasSql =
    """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
      |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |FROM orders
      |QUALIFY rn <= 2
      |ORDER BY o_orderpriority, rn LIMIT 60""".stripMargin

  private val RecursiveCteSql =
    """WITH RECURSIVE reach(pk) AS (
      |  SELECT p_partkey AS pk FROM part WHERE p_partkey < 50
      |  UNION
      |  SELECT e.b AS pk
      |  FROM (SELECT l1.l_partkey AS a, l2.l_partkey AS b
      |        FROM lineitem l1 JOIN lineitem l2
      |          ON l1.l_orderkey = l2.l_orderkey
      |         AND l1.l_linenumber = 1 AND l2.l_linenumber = 2) e
      |  JOIN reach r ON e.a = r.pk
      |)
      |SELECT CAST(pk AS BIGINT) AS pk FROM reach""".stripMargin
}
