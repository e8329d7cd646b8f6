package graft

import graft.tables.GraftSql

/** GraftSql's WITH RECURSIVE rewrite (bounded iterative
  * materialization): generator recursion, UNION-vs-UNION-ALL working-
  * table semantics, cycle termination, catalog hygiene, and the loud
  * failure modes. The cross-engine parity of the full statement runs
  * under the sql_recursive_cte oracle. */
class RecursiveCteSpec extends SparkSuite {

  test("UNION ALL generator: bounded sequence, bag semantics") {
    val r = GraftSql.sql(spark,
      """WITH RECURSIVE t(k) AS (
        |  SELECT 1 AS k
        |  UNION ALL
        |  SELECT k + 1 FROM t WHERE k < 10
        |) SELECT CAST(k AS INT) AS k FROM t""".stripMargin)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(r == (1 to 10))
    // bag semantics: two seed rows each grow their own chain — dupes kept
    val bag = GraftSql.sql(spark,
      """WITH RECURSIVE t(k) AS (
        |  SELECT 1 AS k UNION ALL SELECT k + 1 FROM t WHERE k < 3
        |) SELECT k FROM (SELECT k FROM t UNION ALL SELECT k FROM t) u""".stripMargin)
      .count()
    assert(bag == 6)
  }

  test("multi-UNION base: the recursive term is after the LAST top-level UNION") {
    // Valid in DuckDB: a two-branch base. Splitting at the FIRST UNION
    // would make 'SELECT 5' part of the step and re-emit it forever.
    val r = GraftSql.sql(spark,
      """WITH RECURSIVE t(k) AS (
        |  SELECT 1 AS k
        |  UNION ALL
        |  SELECT 5 AS k
        |  UNION ALL
        |  SELECT k + 1 FROM t WHERE k < 3
        |) SELECT CAST(k AS INT) AS k FROM t""".stripMargin)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(r == Seq(1, 2, 3, 5), s"got $r")
  }

  test("UNION on a cyclic graph terminates with the distinct reach set") {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
      .toDF("src", "dst").createOrReplaceTempView("rc_edges")
    val reach = GraftSql.sql(spark,
      """WITH RECURSIVE r(n) AS (
        |  SELECT CAST(1 AS BIGINT) AS n
        |  UNION
        |  SELECT e.dst FROM rc_edges e JOIN r ON e.src = r.n
        |) SELECT n FROM r""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(reach == Seq(1L, 2L, 3L), s"cycle must close without looping: $reach")
    spark.catalog.dropTempView("rc_edges")
  }

  test("UNION ALL working table is the PREVIOUS level only, not the accumulation") {
    val s = spark
    import s.implicits._
    // two seeds on one chain: if the step saw the accumulation, level
    // counts would double every round; previous-level semantics keep
    // exactly one successor per live row.
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").createOrReplaceTempView("rc_chain")
    val n = GraftSql.sql(spark,
      """WITH RECURSIVE r(n) AS (
        |  SELECT src AS n FROM rc_chain WHERE src = 1
        |  UNION ALL
        |  SELECT e.dst FROM rc_chain e JOIN r ON e.src = r.n
        |) SELECT n FROM r""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(n == Seq(1L, 2L, 3L))
    spark.catalog.dropTempView("rc_chain")
  }

  test("a pre-existing temp view with the CTE name is restored afterwards") {
    val s = spark
    import s.implicits._
    Seq(99L).toDF("v").createOrReplaceTempView("rc_t")
    GraftSql.sql(spark,
      """WITH RECURSIVE rc_t(k) AS (
        |  SELECT 1 AS k UNION ALL SELECT k + 1 FROM rc_t WHERE k < 3
        |) SELECT k FROM rc_t""".stripMargin).count()
    assert(spark.sql("SELECT v FROM rc_t").head().getLong(0) == 99L,
      "user view clobbered by the recursive materialization")
    spark.catalog.dropTempView("rc_t")
  }

  test("loop-invariant derived tables hoist once; name-referencing ones do not") {
    // rewrite surface, directly: FROM-(SELECT …) not mentioning the
    // recursive name is replaced via mk exactly once; the JOIN item
    // that references `r` stays inline; string-literal mentions are
    // conservatively treated as references (never hoisted).
    var calls = Vector.empty[String]
    def mk(sub: String): String = { calls :+= sub; s"v${calls.size}" }
    val step =
      """SELECT e.b FROM (SELECT a, b FROM edges WHERE a < 10) e
        |JOIN r ON e.a = r.n
        |JOIN (SELECT n FROM r WHERE n > 0) live ON live.n = e.a
        |JOIN (SELECT 'r' AS tag) t ON 1=1""".stripMargin
    val out = GraftSql.hoistLoopInvariants(step, "r", mk)
    assert(calls.size == 1, s"expected exactly the edge subquery hoisted: $calls")
    assert(calls.head.startsWith("SELECT a, b FROM edges"))
    assert(out.contains("FROM v1 e"), out)
    assert(out.contains("JOIN (SELECT n FROM r WHERE n > 0) live"),
      "the step subquery referencing the recursive name must stay inline")
    assert(out.contains("JOIN (SELECT 'r' AS tag) t"),
      "a string-literal mention of the name is conservatively kept inline")
    // non-derived parens (join conditions, IN-lists) untouched
    val cond = "SELECT n + 1 FROM r WHERE (n < 5) AND n IN (SELECT k FROM seeds)"
    assert(GraftSql.hoistLoopInvariants(cond, "r", mk) == cond)
    assert(calls.size == 1)
  }

  test("hoisted step computes the same reach as the inline spelling") {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 9L))
      .toDF("src", "dst").createOrReplaceTempView("rc_inv_edges")
    val stmt =
      """WITH RECURSIVE r(n) AS (
        |  SELECT CAST(1 AS BIGINT) AS n
        |  UNION
        |  SELECT e.b FROM (SELECT src AS a, dst AS b FROM rc_inv_edges WHERE src <> 9) e
        |  JOIN r ON e.a = r.n
        |) SELECT n FROM r""".stripMargin
    val hoistedR = GraftSql.sql(spark, stmt).collect().map(_.getLong(0)).sorted.toSeq
    assert(hoistedR == Seq(1L, 2L, 3L, 4L), s"got $hoistedR")
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_rcte_inv_")),
      "hoisted views must be dropped after the statement")
    spark.catalog.dropTempView("rc_inv_edges")
  }

  test("scanner: comments, double quotes and backticks never desync the hoist") {
    var calls = Vector.empty[String]
    def mk(sub: String): String = { calls :+= sub; s"v${calls.size}" }
    // An apostrophe (and an unbalanced paren) inside a -- comment
    // desynced the old single-quote-only tracker, which could then
    // mis-extract a region (r16 ADVICE). The invariant item after the
    // comment must still hoist, exactly once.
    val commented =
      """SELECT e.b -- it's a comment (with an open paren
        |FROM (SELECT a, b FROM edges WHERE a < 10) e
        |JOIN r ON e.a = r.n /* block comment: don't (desync) either */""".stripMargin
    val out = GraftSql.hoistLoopInvariants(commented, "r", mk)
    assert(calls.size == 1, s"expected one hoist: $calls")
    assert(out.contains("FROM v1 e"), out)
    assert(out.contains("-- it's a comment"), "comment text must pass through")
    // FROM/JOIN-lookalikes inside double-quoted literals and backtick
    // identifiers are opaque — nothing hoists, text unchanged.
    val quoted =
      """SELECT "FROM (SELECT 1) fake" AS s, `odd ' backtick` FROM r WHERE r.n > 0"""
    assert(GraftSql.hoistLoopInvariants(quoted, "r", mk) == quoted)
    assert(calls.size == 1)
  }

  test("wider shapes: comma-separated FROM items and nested invariants hoist") {
    var calls = Vector.empty[String]
    def mk(sub: String): String = { calls :+= sub; s"v${calls.size}" }
    // Comma-separated FROM items hoist like FROM/JOIN items; a LATERAL
    // item stays inline; select-list/ORDER BY commas are not FROM items.
    val commaFrom =
      """SELECT f(x.a, y.b), (SELECT max(k) FROM seeds) AS m
        |FROM (SELECT a FROM edges) x, (SELECT b FROM edges) y,
        |     LATERAL (SELECT x.a + 1 AS c) l
        |JOIN r ON x.a = r.n
        |ORDER BY x.a, y.b""".stripMargin
    val out1 = GraftSql.hoistLoopInvariants(commaFrom, "r", mk)
    assert(calls.size == 2, s"both comma items hoist, LATERAL does not: $calls")
    assert(out1.contains("FROM v1 x, v2 y"), out1)
    assert(out1.contains("LATERAL (SELECT x.a + 1 AS c) l"), out1)
    assert(out1.contains("(SELECT max(k) FROM seeds) AS m"),
      "a scalar subquery in the select list is not a FROM item")
    // A name-referencing derived table stays inline, but its own
    // invariant derived tables hoist out of it.
    val nested =
      """SELECT z.b FROM (
        |  SELECT q.b FROM (SELECT a, b FROM edges WHERE a < 10) q
        |  JOIN r ON q.a = r.n) z""".stripMargin
    val out2 = GraftSql.hoistLoopInvariants(nested, "r", mk)
    assert(calls.size == 3, s"the nested invariant must hoist: $calls")
    assert(calls.last.startsWith("SELECT a, b FROM edges"), calls.last)
    assert(out2.contains("FROM v3 q"), out2)
    assert(out2.contains("JOIN r ON q.a = r.n"), out2)
  }

  test("hoisted wider shapes compute the same reach as the inline spelling") {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (9L, 9L))
      .toDF("src", "dst").createOrReplaceTempView("rc_wide_edges")
    // comma-FROM pair join + a nested invariant inside the name-
    // referencing join item + comments with apostrophes in the step
    val stmt =
      """WITH RECURSIVE r(n) AS (
        |  SELECT CAST(1 AS BIGINT) AS n
        |  UNION
        |  SELECT e2.d -- step's comment (don't desync
        |  FROM (SELECT src AS a, dst AS b FROM rc_wide_edges WHERE src <> 9) e1,
        |       (SELECT src AS c, dst AS d FROM rc_wide_edges WHERE src <> 9) e2
        |  JOIN (SELECT q.n FROM (SELECT n FROM r) q) live ON e2.c = live.n
        |  WHERE e1.a = e2.c
        |) SELECT n FROM r""".stripMargin
    val hoistedR = GraftSql.sql(spark, stmt).collect().map(_.getLong(0)).sorted.toSeq
    assert(hoistedR == Seq(1L, 2L, 3L, 4L), s"got $hoistedR")
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_rcte_inv_")),
      "hoisted views must be dropped after the statement")
    spark.catalog.dropTempView("rc_wide_edges")
  }

  test("failure modes: registered-name collision, iteration cap, malformed body") {
    val dir = graft.tables.TmpDirs.create("graft-rc").resolve("t").toString
    val s = spark
    import s.implicits._
    graft.streaming.ParquetTable.swap(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    GraftSql.register(spark, "rc_reg", dir, Seq("id"))
    val e1 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      "WITH RECURSIVE rc_reg(k) AS (SELECT 1 AS k UNION ALL SELECT k + 1 FROM rc_reg WHERE k < 3) SELECT k FROM rc_reg"))
    assert(e1.getMessage.contains("registered table"))
    GraftSql.sql(spark, "DROP TABLE rc_reg")

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.recursive.maxIterations", "5")
    val e2 = intercept[IllegalArgumentException](GraftSql.sql(s2,
      "WITH RECURSIVE t(k) AS (SELECT 1 AS k UNION ALL SELECT k + 1 FROM t) SELECT k FROM t"))
    assert(e2.getMessage.contains("exceeded 5 iterations"))

    val e3 = intercept[IllegalArgumentException](GraftSql.sql(spark,
      "WITH RECURSIVE t(k) AS (SELECT 1 AS k) SELECT k FROM t"))
    assert(e3.getMessage.contains("UNION"))
    ()
  }
}
