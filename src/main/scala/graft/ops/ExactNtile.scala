package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group `ntile(n)` — and the tile-edge ORDER STATISTICS it
  * implies — WITHOUT a per-group global sort.
  *
  * `ntile(n) OVER (PARTITION BY g ORDER BY score DESC, tie ASC)` plans a
  * WindowExec whose parallelism is bounded by the number of DISTINCT
  * group values: with an enumerable key (language, flag, status) each
  * partition's full row set is sorted in ONE task — at 100× corpus size
  * one task sorts N/|g| rows. This helper reproduces the exact same
  * tile assignment with the distributed-selection algorithm instead:
  *
  *  1. per-group row counts → the tile boundary RANKS K_j (ntile's
  *     "first N mod n tiles get one extra row" rule, computed exactly);
  *  2. a coarse score histogram (one shuffle, ≤ groups × bins rows,
  *     bins bounded by the score range × `binScale`, NOT by row count)
  *     locates the bin holding each boundary rank;
  *  3. only the boundary-bin rows (a sliver of the corpus) are ranked
  *     with a (group, bin)-partitioned window — partition count here is
  *     data-dependent, never a constant — to find the exact boundary
  *     (score, tie) row at each K_j;
  *  4. the ≤ groups × (n-1) boundary rows are broadcast back and every
  *     row's tile is `1 + #boundaries it falls strictly after` — a
  *     broadcast hash join plus an array fold, no sort anywhere on the
  *     corpus-sized side.
  *
  * The same boundary machinery exposed directly ([[boundaries]]) gives
  * exact per-group QUANTILE rows: with tiles = 2 the boundary is the
  * rank-⌈N/2⌉ row of the DESCENDING order (the upper median), with
  * tiles = 4 the quartile edges — grouped exact order statistics with
  * no window, even when the group key is a constant-cardinality column.
  *
  * The only collect is the (group, bin) histogram (bounded by |g| ×
  * bins, and capped at [[MaxHistogramRows]]); the per-group counts are
  * derived from it in the driver.
  * Ordering is (score DESC, tie ASC); `tie` must be row-unique within a
  * group so the boundary row — and therefore every tie-crossing tile
  * edge — is deterministic and matches the window-function oracle
  * hash exactly. group/score/tie must be NON-NULL (a window ntile
  * would order NULLs by the session null ordering; the histogram /
  * driver maps here do not model that).
  *
  * @param binScale histogram granularity: bin = floor(score * binScale).
  *        Pick so (score range × binScale) stays ≤ ~10⁴ per group;
  *        a histogram past [[MaxHistogramRows]] fails loudly instead of
  *        collecting one row per distinct score.
  */
object ExactNtile {

  private case class Boundary(g: String, bin: Long, residual: Long, rankIdx: Int)

  /** Most (group, bin) histogram rows the driver collects: ~10⁴ bins
    * for each of 100 groups. */
  private[graft] val MaxHistogramRows: Int = 1000000

  /** Driver-side boundary location: ONE histogram pass (the shuffled
    * (group, bin) agg, collected — bounded by groups × bins), from
    * which the per-group counts (its per-group sums — r16 §1.2, the
    * separate count pass deleted), the ntile boundary ranks K_j, and
    * each boundary's (bin, within-bin residual) are all derived.
    * Returns (binned input, boundaries) — empty when no group has 2+
    * rank edges. */
  private def boundarySpecs(
      df: DataFrame, group: String, score: String, tie: String,
      tiles: Int, binScale: Double): (DataFrame, Seq[Boundary]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val binned = df
      .withColumn("_g", col(group).cast("string"))
      .withColumn("_bin", floor(col(score) * lit(binScale)).cast("long"))

    val histRows = binned.groupBy(col("_g"), col("_bin")).count()
      .limit(MaxHistogramRows + 1).as[(String, Long, Long)].collect()
    require(histRows.length <= MaxHistogramRows,
      s"ExactNtile: the ($group, bin) histogram of $score has more than $MaxHistogramRows rows " +
        s"at binScale $binScale; pick binScale so that (score range × binScale) " +
        "stays ≤ ~10⁴ per group")
    val hist: Map[String, Seq[(Long, Long)]] =
      histRows
        .groupBy(_._1)
        .map { case (g, rows) =>
          // score DESC order ↔ bin DESC order
          g -> rows.map(r => (r._2, r._3)).sortBy(-_._1).toSeq
        }

    // per-group counts → boundary ranks. ntile sizes: with N rows and
    // n tiles, tile i holds N/n rows plus one extra for i <= N mod n, so
    // the LAST row of tile j sits at rank K_j = j*(N/n) + min(j, N mod n).
    val counts: Map[String, Long] =
      hist.map { case (g, rows) => g -> rows.iterator.map(_._2).sum }
    val boundaryRanks: Map[String, Seq[Long]] = counts.map { case (g, n) =>
      val q = n / tiles; val r = n % tiles
      g -> (1 until tiles).map(j => j * q + math.min(j, r)).filter(_ >= 1L).distinct
    }

    // walk the per-group cumulative histogram: boundary rank K_j lands in
    // bin b_j at within-bin residual r_j (1-based in (score DESC, tie ASC)).
    val bnds: Seq[Boundary] = boundaryRanks.toSeq.flatMap { case (g, ks) =>
      val bins = hist.getOrElse(g, Seq.empty)
      ks.zipWithIndex.map { case (k, j) =>
        var cum = 0L; var i = 0
        while (i < bins.length && cum + bins(i)._2 < k) { cum += bins(i)._2; i += 1 }
        Boundary(g, bins(i)._1, k - cum, j)
      }
    }
    (binned, bnds)
  }

  /** Internal: joined boundary rows (_g, group, _j, _s, _t) — None when
    * no group has 2+ rank edges (every group smaller than 2 rows or
    * tiles == 1). `_g` is the string-cast group key used by the tiny
    * broadcast joins; the native group column rides along. */
  private def boundaryFrame(
      df: DataFrame, group: String, score: String, tie: String,
      tiles: Int, binScale: Double): Option[DataFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    val (binned, bnds) = boundarySpecs(df, group, score, tie, tiles, binScale)
    if (bnds.isEmpty) return None

    // (3) refine: rank ONLY the boundary-bin rows. The window partitions
    // on (group, bin) — cardinality grows with the data, and each bin
    // holds a binScale-thin score slice, so no constant-partition sort.
    val boundaryBins = bnds.map(b => (b.g, b.bin)).distinct
      .toDF("_g", "_bin")
    val wBin = Window.partitionBy(col("_g"), col("_bin"))
      .orderBy(col(score).desc, col(tie).asc)
    val binRows = binned.join(broadcast(boundaryBins), Seq("_g", "_bin"))
      .withColumn("_r", row_number().over(wBin))
    val wanted = bnds.map(b => (b.g, b.bin, b.residual, b.rankIdx + 1))
      .toDF("_g", "_bin", "_r", "_j")
    // boundary rows stay a (tiny) DataFrame — NEVER collected — so the
    // tie column keeps its NATIVE type and downstream comparisons use
    // native ordering (a string round-trip would rank 10 < 9 for
    // numeric ties).
    Some(binRows.join(broadcast(wanted), Seq("_g", "_bin", "_r"))
      .select(col("_g"), col(group), col("_j"),
        col(score).cast("double").as("_s"), col(tie).as("_t")))
  }

  /** Exact per-group tile-edge rows — the rank-K_j order statistics of
    * the (score DESC, tie ASC) order — as a tiny DataFrame
    * (group, boundary_idx, b_score, b_tie), boundary_idx 1-based.
    * tiles = 2 → the upper-median row; tiles = 4 → quartile edges
    * (boundary 1 = top-quarter edge … boundary 3 = bottom-quarter
    * edge). No window over a group-keyed partition anywhere. */
  def boundaries(
      df: DataFrame, group: String, score: String, tie: String,
      tiles: Int, binScale: Double = 1024.0): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    boundaryFrame(df, group, score, tie, tiles, binScale) match {
      case Some(bf) =>
        bf.select(col(group), col("_j").as("boundary_idx"),
          col("_s").as("b_score"), col("_t").as("b_tie"))
      case None =>
        df.limit(0).select(col(group), lit(0).as("boundary_idx"),
          col(score).cast("double").as("b_score"), col(tie).as("b_tie"))
    }
  }

  /** Appends `tileCol`: the row's `ntile(tiles)` over (score DESC, tie
    * ASC) within its group, assigned in one fused step. Key fact:
    * `bin = floor(score × binScale)` is monotone in score, so a row is
    * strictly after boundary j (rank K_j, in bin b_j at within-bin
    * residual r_j) iff its bin is LOWER than b_j, or equal and its
    * within-bin rank k exceeds r_j. Hence:
    *
    *   tile(row) = 1 + #{j: b_j > bin}                 (bins above)
    *             + #{j in this bin: r_j < k}           (boundary bins only)
    *
    * Non-boundary-bin rows (≈ the whole corpus) need ONLY the first
    * term — a hash probe into a broadcast per-group bin array, no
    * boundary ROW ever computed or joined. Boundary-bin rows (a
    * binScale-thin sliver) get their within-bin rank from the same
    * (group, bin)-partitioned window the old refinement used — but its
    * output is the final tile directly, never boundary rows joined
    * back against the full corpus. The exactness contract (score DESC,
    * tie ASC total order, ntile edge rule) is pinned by ExactNtileSpec's
    * window-parity fixtures and the oracle row. */
  def withTile(
      df: DataFrame,
      group: String,
      score: String,
      tie: String,
      tiles: Int,
      tileCol: String = "tile",
      binScale: Double = 1024.0): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    val spark = df.sparkSession
    import spark.implicits._
    val (binned, bnds) = boundarySpecs(df, group, score, tie, tiles, binScale)
    val outCols = (df.columns.toSeq :+ tileCol).map(col)
    if (bnds.isEmpty)
      return binned.drop("_g", "_bin").withColumn(tileCol, lit(1))
    // per (group, boundary bin): #boundaries in strictly higher bins
    // and the sorted within-bin residuals (several edges can share a
    // bin); per group: every boundary's bin, duplicates kept, for the
    // non-boundary-row term.
    val binInfo = bnds.groupBy(b => (b.g, b.bin)).toSeq.map { case ((g, bin), bs) =>
      val above = bnds.count(b2 => b2.g == g && b2.bin > bin)
      (g, bin, above.toLong, bs.map(_.residual).sorted)
    }.toDF("_g", "_bin", "_above", "_res")
    val gBins = bnds.groupBy(_.g).toSeq
      .map { case (g, bs) => (g, bs.map(_.bin)) }
      .toDF("_g", "_bnd_bins")
    val wBin = Window.partitionBy(col("_g"), col("_bin"))
      .orderBy(col(score).desc, col(tie).asc)
    val inBoundary = binned.join(broadcast(binInfo), Seq("_g", "_bin"))
      .withColumn("_r", row_number().over(wBin))
      .withColumn(tileCol,
        (lit(1L) + col("_above") +
          size(filter(col("_res"), r => r < col("_r")))).cast("int"))
      .select(outCols: _*)
    val outside = binned
      .join(broadcast(binInfo.select("_g", "_bin")), Seq("_g", "_bin"), "left_anti")
      .join(broadcast(gBins), Seq("_g"), "left")
      .withColumn(tileCol,
        (lit(1L) + coalesce(
          size(filter(col("_bnd_bins"), b => b > col("_bin"))), lit(0))).cast("int"))
      .select(outCols: _*)
    outside.unionByName(inBoundary)
  }

  /** Convenience: tile column as head/middle/tail-style labels. */
  def bucketLabel(tileCol: Column, labels: Seq[String]): Column =
    labels.zipWithIndex.tail.foldLeft(when(tileCol === 1, labels.head)) {
      case (acc, (lbl, i)) => acc.when(tileCol === i + 1, lbl)
    }
}
