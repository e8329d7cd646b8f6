package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{ParquetTable, VersionNames}

/** Write-time CHECK constraints for snapshot tables — the lakehouse
  * `ALTER TABLE ADD CONSTRAINT ... CHECK` surface. Constraints persist in
  * a table-root `_CHECKS` manifest (`name \t sql-expression` lines) and
  * are enforced by [[checkedSwap]] BEFORE a new version publishes: a
  * violating batch never becomes readable, the previous snapshot stays
  * live. SQL CHECK semantics: a row violates only when the expression is
  * FALSE — NULL passes (unknown ≠ violation).
  *
  * Enforcement cost at scale: one aggregate pass over the batch with all
  * checks fused as `count_if(NOT coalesce(check, true))` columns — a
  * single job, no per-check scans, map-side combined.
  */
object Constraints {

  private def manifest(dir: String) = Paths.get(dir, "_CHECKS")

  /** Register a named CHECK; rejects duplicates. Validates the live
    * snapshot immediately if one exists, like ADD CONSTRAINT does. */
  def addCheck(spark: SparkSession, dir: String, name: String, expression: String): Unit = {
    require(!name.contains("\t") && !name.contains("\n"), s"bad check name: $name")
    require(checks(dir).forall(_._1 != name), s"duplicate check: $name")
    if (ParquetTable.exists(dir))
      validate(ParquetTable.read(spark, dir), Seq(name -> expression)) match {
        case Some(err) => throw new IllegalStateException(
          s"existing rows violate new check: $err")
        case None => ()
      }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(manifest(dir), s"$name\t$expression\n",
      StandardCharsets.UTF_8, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** Remove a named CHECK (ALTER TABLE ... DROP CONSTRAINT). Unknown
    * names fail loudly — a typo must not silently leave the real
    * constraint in force while the user believes it gone. */
  def dropCheck(dir: String, name: String): Unit = {
    val existing = checks(dir)
    require(existing.exists(_._1 == name), s"no such check: $name")
    val remaining = existing.filterNot(_._1 == name)
    VersionNames.replaceFile(manifest(dir),
      remaining.map { case (n, e) => s"$n\t$e" }.mkString("", "\n", if (remaining.isEmpty) "" else "\n"))
  }

  def checks(dir: String): Seq[(String, String)] =
    if (!Files.exists(manifest(dir))) Seq.empty
    else Files.readAllLines(manifest(dir), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map { l => val Array(n, e) = l.split("\t", 2); n -> e }

  /** One fused pass over `df`: per-check violation counts; Some(report)
    * if any check fails. */
  def validate(df: DataFrame, cs: Seq[(String, String)]): Option[String] = {
    if (cs.isEmpty) return None
    // coalesce(sum, 0): sum() is NULL over an empty batch, and an empty
    // batch violates nothing — it must publish, not NPE on getLong.
    val counters = cs.map { case (n, e) =>
      coalesce(sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)), lit(0L)).as(n)
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    val bad = cs.zipWithIndex.collect {
      case ((n, e), i) if row.getLong(i) > 0 => s"$n ($e): ${row.getLong(i)} rows"
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** Validate against the table's registered checks, then swap — a
    * violating batch never publishes. */
  def checkedSwap(spark: SparkSession, df: DataFrame, dir: String): Unit =
    validate(df, checks(dir)) match {
      case Some(err) => throw new IllegalArgumentException(s"CHECK constraint violation: $err")
      case None      => ParquetTable.swap(spark, df, dir)
    }

  // ---- UNIQUE constraints ----------------------------------------------
  //
  // A UNIQUE key is TABLE-level (a row can't violate it alone), so it
  // gets its own `_UNIQUES` manifest and its own validation pass:
  // duplicate-group counting over the key columns — one keyed aggregate,
  // the honest cost of real enforcement (Delta ships primary keys as
  // "informational, NOT enforced" precisely to avoid this pass; here the
  // pass is map-side-combined and bounded by the batch for appends).
  // Enforcement boundary (documented, loud in the Scaladoc rather than
  // silently partial): ADD-time over the live snapshot, INSERT INTO /
  // COPY INTO appends (batch-internal duplicates + batch∩existing
  // semi-join), and INSERT OVERWRITE (the batch IS the post-image).
  // Predicate-scoped and row-level rewrites (REPLACE WHERE / UPDATE /
  // MERGE) do not re-verify — their post-image equals survivors ∪ batch
  // and verifying would cost a full-table pass per statement; that is
  // exactly the line Delta draws at zero enforcement.

  private def uManifest(dir: String) = Paths.get(dir, "_UNIQUES")

  def uniques(dir: String): Seq[(String, Seq[String])] =
    if (!Files.exists(uManifest(dir))) Seq.empty
    else Files.readAllLines(uManifest(dir), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map { l => val Array(n, c) = l.split("\t", 2); n -> c.split(",").toSeq }

  /** Register a named UNIQUE key; validates the live snapshot first so a
    * constraint can never be born already violated. */
  def addUnique(spark: SparkSession, dir: String, name: String, cols: Seq[String]): Unit = {
    require(!name.contains("\t") && !name.contains("\n"), s"bad constraint name: $name")
    require(cols.nonEmpty, s"UNIQUE constraint $name needs at least one column")
    require(checks(dir).forall(_._1 != name) && uniques(dir).forall(_._1 != name),
      s"duplicate constraint: $name")
    if (ParquetTable.exists(dir))
      dupReport(ParquetTable.read(spark, dir), Seq(name -> cols)).foreach(err =>
        throw new IllegalStateException(s"existing rows violate new unique key: $err"))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(uManifest(dir), s"$name\t${cols.mkString(",")}\n",
      StandardCharsets.UTF_8, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** DROP CONSTRAINT for a unique key; Some(()) if it existed. */
  def dropUnique(dir: String, name: String): Boolean = {
    val existing = uniques(dir)
    if (!existing.exists(_._1 == name)) return false
    val remaining = existing.filterNot(_._1 == name)
    VersionNames.replaceFile(uManifest(dir),
      remaining.map { case (n, c) => s"$n\t${c.mkString(",")}" }
        .mkString("", "\n", if (remaining.isEmpty) "" else "\n"))
    true
  }

  /** Duplicate-key groups of `df` per unique key; Some(report) if any.
    *
    * NULL semantics are ANSI (and Delta): a key containing NULL in any
    * column never conflicts — any number of NULL-keyed rows may coexist.
    * That choice is applied in BOTH passes of the enforcement boundary:
    * here the NULL-keyed rows are filtered out before the duplicate
    * group-by, and the batch-vs-existing probe in validateUniqueAppend
    * uses a null-UNSAFE equi-join, which skips NULL keys by definition.
    * (Before r11 the two passes disagreed: in-batch treated NULLs as
    * equal while cross-batch ignored them, so the same NULL-key pair
    * passed or failed depending on how the inserts were split.) */
  private def dupReport(df: DataFrame, us: Seq[(String, Seq[String])]): Option[String] = {
    val bad = us.flatMap { case (n, cols) =>
      val nonNull = df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
      val dups = nonNull.groupBy(cols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      if (dups > 0) Some(s"$n (${cols.mkString(",")})") else None
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** UNIQUE validation for an append: the batch must be internally
    * duplicate-free AND key-disjoint from the existing snapshot (one
    * batch-sized aggregate + one semi-join probe per key — existing
    * rows are never re-verified against each other). */
  def validateUniqueAppend(spark: SparkSession, dir: String, batch: DataFrame): Unit = {
    val us = uniques(dir)
    if (us.isEmpty) return
    dupReport(batch, us).foreach(err => throw new IllegalStateException(
      s"UNIQUE constraint violation inside the batch: $err"))
    if (ParquetTable.exists(dir)) {
      val live = ParquetTable.read(spark, dir)
      us.foreach { case (n, cols) =>
        val clash = batch.select(cols.map(col): _*)
          .join(live.select(cols.map(col): _*), cols, "left_semi")
          .limit(1).count()
        if (clash > 0) throw new IllegalStateException(
          s"UNIQUE constraint violation: $n (${cols.mkString(",")}) — batch keys already exist")
      }
    }
  }

  /** UNIQUE validation when `df` IS the full post-image (OVERWRITE). */
  def validateUniqueSnapshot(df: DataFrame, dir: String): Unit =
    dupReport(df, uniques(dir)).foreach(err =>
      throw new IllegalStateException(s"UNIQUE constraint violation: $err"))
}
