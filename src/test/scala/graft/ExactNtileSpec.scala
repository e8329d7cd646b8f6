package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ExactNtile must reproduce Spark's own
  * `ntile(n) OVER (PARTITION BY g ORDER BY score DESC, tie ASC)`
  * assignment EXACTLY — including tie runs that straddle tercile
  * boundaries (where only the tie column decides the tile) and groups
  * smaller than the tile count — while never planning a window whose
  * partition count equals the (constant) group-key cardinality. */
class ExactNtileSpec extends SparkSuite {

  import graft.ops.ExactNtile

  private def referenceTiles(rows: Seq[(String, Double, String)], tiles: Int) = {
    import SparkTestBase.spark.implicits._
    val df = rows.toDF("g", "score", "id")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    df.withColumn("tile", ntile(tiles).over(w))
      .select("g", "id", "tile").as[(String, String, Int)]
      .collect().toSet
  }

  private def exactTiles(rows: Seq[(String, Double, String)], tiles: Int) = {
    import SparkTestBase.spark.implicits._
    val df = rows.toDF("g", "score", "id")
    ExactNtile.withTile(df, "g", "score", "id", tiles)
      .select("g", "id", "tile").as[(String, String, Int)]
      .collect().toSet
  }

  test("matches window ntile on tie-heavy data, several group sizes") {
    // deterministic pseudo-random scores with HEAVY ties: score domain of
    // just 7 values per group, so tercile boundaries land inside tie runs
    // and the doc-id tiebreak decides — the case threshold bucketing
    // by score alone gets wrong.
    val rows = for {
      g <- Seq("en", "de", "fr")
      i <- 0 until (g.head - 'a' + 1) * 37 // 111 / 148 / 185 rows (groups differ mod 3)
    } yield (g, ((i * 2654435761L) % 7).toDouble / 10.0, f"doc$i%04d")
    for (n <- Seq(2, 3, 4, 5)) {
      assert(exactTiles(rows, n) == referenceTiles(rows, n), s"tiles=$n")
    }
  }

  test("groups smaller than the tile count get one row per tile") {
    val rows = Seq(("a", 1.0, "x"), ("a", 0.5, "y"), ("b", 2.0, "z"))
    assert(exactTiles(rows, 3) == referenceTiles(rows, 3))
  }

  test("negative and identical-score groups") {
    val rows = (0 until 30).map(i => ("g", -0.25, f"d$i%02d")) ++
      (0 until 13).map(i => ("h", -1.0 - (i % 3) * 0.5, f"d$i%02d"))
    for (n <- Seq(3, 4)) assert(exactTiles(rows, n) == referenceTiles(rows, n))
  }

  test("numeric tie and group columns: boundaries rank natively, not lexically") {
    import SparkTestBase.spark.implicits._
    // all scores tie, ids 5..15: only the tie column decides every tile
    // edge, and ids straddle the 1-digit/2-digit boundary — a string
    // compare would order '10' < '9' and misassign
    val df = (5 to 15).map(i => (7L, 0.5, i.toLong)).toDF("g", "score", "id")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val ref = df.withColumn("tile", ntile(3).over(w))
      .select("id", "tile").as[(Long, Int)].collect().toSet
    val got = ExactNtile.withTile(df, "g", "score", "id", 3)
      .select("id", "tile").as[(Long, Int)].collect().toSet
    assert(got == ref, s"native-type tie ordering: $got vs $ref")
  }

  test("fused assignment matches window ntile on a two-group tie set") {
    val rows = for {
      g <- Seq("en", "de")
      i <- 0 until (g.head - 'a' + 1) * 29
    } yield (g, ((i * 48271L) % 5).toDouble / 8.0, f"doc$i%04d")
    assert(exactTiles(rows, 4) == referenceTiles(rows, 4))
  }

  test("withTile computes its input exactly 3 times (the r16 count pass stays gone)") {
    // The r16 optimization derived the per-group counts from the
    // histogram collect, deleting a 4th full pass over the input. A
    // final-plan dump cannot show a removed driver-side job (the r16
    // artifact mistakenly cited one), so this pins the pass count
    // directly: every materialization of the input bumps a per-row
    // accumulator — histogram collect + boundary-bin refinement +
    // final assignment = exactly 3 N.
    val s = spark
    val n = 300
    val acc = s.sparkContext.longAccumulator("ntile-input-rows-computed")
    val rdd = s.sparkContext.parallelize(0 until n, 4).map { i =>
      acc.add(1)
      org.apache.spark.sql.Row(
        if (i % 3 == 0) "en" else "de", (i % 11) / 10.0, f"d$i%03d")
    }
    val df = s.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType))))
    graft.ops.ExactNtile.withTile(df, "g", "score", "id", 3)
      .write.format("noop").mode("overwrite").save()
    assert(acc.value == 3L * n,
      s"expected exactly 3 input passes (${3L * n} rows computed), got ${acc.value}")
  }

  test("plans no window over a constant-count partitioning on the corpus side") {
    import SparkTestBase.spark.implicits._
    val df = (0 until 200).map(i => ("en", i / 10.0, f"d$i%03d")).toDF("g", "score", "id")
    val plan = ExactNtile.withTile(df, "g", "score", "id", 3)
      .queryExecution.executedPlan
    // the only window in the plan is the (g, _bin) boundary refinement,
    // whose partition count scales with the score histogram, and it runs
    // over the filtered boundary-bin sliver, not the corpus
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name))
      assert(keys.exists(_.startsWith("_bin")),
        s"refinement window must include the data-dependent _bin key: $keys")
    }
  }

  test("a histogram past the row cap fails loudly with the binScale contract") {
    val s = SparkTestBase.spark
    val cap = ExactNtile.MaxHistogramRows
    // cap + 1 rows of one group with distinct scores 0..cap: at the
    // default binScale every row is its own bin, a score range × binScale
    // of ~10⁹ where the contract asks for ~10⁴
    val df = s.range(cap + 1L)
      .select(lit("en").as("g"), col("id").cast("double").as("score"), col("id"))
    for (call <- Seq(
        () => ExactNtile.withTile(df, "g", "score", "id", 3),
        () => ExactNtile.boundaries(df, "g", "score", "id", 4))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"more than $cap rows"), e.getMessage)
      assert(e.getMessage.contains("(score range × binScale)"), e.getMessage)
    }
  }
}
