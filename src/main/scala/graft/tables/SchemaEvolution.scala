package graft.tables

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Schema evolution for parquet append tables (the reference documents
  * ADD/RENAME COLUMN plus enforcement on Delta,
  * db/schema_evolution.sql:9-31,115-128; this is the plain-parquet
  * equivalent).
  *
  * Contract:
  *  - ADD COLUMN is free: new files carry the extra column, old files
  *    null-fill it on a mergeSchema read.
  *  - RENAME COLUMN is a metadata-only operation via a `_SCHEMA`
  *    column-mapping manifest (logical name → physical name, the same
  *    mechanism as Delta's column mapping): no file is rewritten — old
  *    AND new files keep the original physical column name, writers
  *    translate logical→physical, readers project physical→logical.
  *  - DROP COLUMN is likewise metadata-only: the physical column is
  *    tombstoned in the manifest, excluded from reads, and its name is
  *    reserved (a later ADD of the same logical name maps to a fresh
  *    physical name — immutable parquet files mean the bytes stay).
  *  - Changing a column's type is REJECTED at write time (enforcement) —
  *    parquet files are immutable, so an incompatible writer would
  *    poison every future read instead of failing fast here. The
  *    sanctioned exception is `widenColumn` (reference:
  *    db/schema_evolution.sql:52-105): an explicit LOSSLESS type change
  *    applied at read time, no file rewritten. Numeric widens
  *    (int→long, int→double, float→double) ride the
  *    parquet reader's vectorized type promotion — the manifest records
  *    the authoritative physical schema and old files upcast at scan;
  *    string→timestamp (not a reader promotion) is a projection cast,
  *    with appends writing the ISO string physical form. After a widen,
  *    appends of the PRE-widen type still land (upcast on write), so
  *    old writers keep working — Delta type-widening's contract.
  *
  * Scale notes: schema validation reads footer metadata only (one file
  * listing, no data IO), and the manifest is a single tiny file read
  * once per query — the rename/drop operations are O(1) regardless of
  * table size, exactly why column mapping exists at 100 TB (a physical
  * rewrite of every file is the alternative). mergeSchema-on-read
  * unions footers across files, each footer read once and memoized
  * ([[FooterSchemas]]), so a query re-derives the union from the file
  * listing alone — at 100 TB pin the table schema in a catalog and skip
  * even that; `readEvolved` is the catalog-less fallback.
  */
object SchemaEvolution {

  /** Logical→physical column mapping (ordered) plus tombstoned physical
    * names of dropped columns. Physical names never change once written;
    * renames move only the logical side. */
  final case class ColumnMapping(cols: Seq[(String, String)], dropped: Seq[String]) {
    def physicalOf(logical: String): Option[String] =
      cols.find(_._1.equalsIgnoreCase(logical)).map(_._2)
    def logicalOf(physical: String): Option[String] =
      cols.find(_._2.equalsIgnoreCase(physical)).map(_._1)
    def isDropped(physical: String): Boolean =
      dropped.exists(_.equalsIgnoreCase(physical))
    /** Every physical name in use — live or tombstoned (reserved). */
    def physicalNames: Set[String] =
      cols.map(_._2.toLowerCase).toSet ++ dropped.map(_.toLowerCase)
  }

  private def schemaPath(dir: String) = Paths.get(dir, "_SCHEMA")

  /** Full `_SCHEMA` manifest: name mapping + tombstones, plus (after the
    * first widen) the authoritative PHYSICAL read schema (`ptype` lines,
    * one per live physical column, manifest order) and the read-time
    * cast targets for non-promotable widens (`widen` lines). */
  final case class Manifest(
      mapping: ColumnMapping,
      ptypes: Seq[(String, DataType)],
      widens: Map[String, DataType],
      comments: Map[String, String] = Map.empty) {
    def physicalReadSchema: Option[StructType] =
      if (ptypes.isEmpty) None
      else Some(StructType(ptypes.map { case (p, t) =>
        StructField(p, t, nullable = true)
      }))
    def ptypeOf(physical: String): Option[DataType] =
      ptypes.find(_._1.equalsIgnoreCase(physical)).map(_._2)
    def widenOf(physical: String): Option[DataType] =
      widens.find(_._1.equalsIgnoreCase(physical)).map(_._2)
  }

  private def parseDdl(s: String): DataType = DataType.fromDDL(s)

  def manifestOf(dir: String): Option[Manifest] = {
    if (!Files.exists(schemaPath(dir))) return None
    val lines = Files.readAllLines(schemaPath(dir)).asScala.filter(_.nonEmpty)
    val cols = lines.collect { case l if l.startsWith("col\t") =>
      val Array(_, logical, physical) = l.split("\t", 3); logical -> physical
    }
    val dropped = lines.collect { case l if l.startsWith("drop\t") =>
      l.split("\t", 2)(1)
    }
    val ptypes = lines.collect { case l if l.startsWith("ptype\t") =>
      val Array(_, p, ddl) = l.split("\t", 3); p -> parseDdl(ddl)
    }
    val widens = lines.collect { case l if l.startsWith("widen\t") =>
      val Array(_, p, ddl) = l.split("\t", 3); p -> parseDdl(ddl)
    }
    val comments = lines.collect { case l if l.startsWith("comment\t") =>
      // limit 3: the comment text itself may contain tabs.
      val Array(_, p, text) = l.split("\t", 3); p -> text
    }
    Some(Manifest(ColumnMapping(cols.toSeq, dropped.toSeq),
      ptypes.toSeq, widens.toMap, comments.toMap))
  }

  /** The manifest, if one exists (tables never renamed/dropped have none
    * and behave identity-mapped). */
  def mappingOf(dir: String): Option[ColumnMapping] = manifestOf(dir).map(_.mapping)

  private def writeManifest(dir: String, mf: Manifest): Unit = {
    val body = (mf.mapping.cols.map { case (l, p) => s"col\t$l\t$p" } ++
      mf.mapping.dropped.map(p => s"drop\t$p") ++
      mf.ptypes.map { case (p, t) => s"ptype\t$p\t${t.sql}" } ++
      mf.widens.toSeq.sortBy(_._1).map { case (p, t) => s"widen\t$p\t${t.sql}" } ++
      mf.comments.toSeq.sortBy(_._1).map { case (p, c) => s"comment\t$p\t$c" })
      .mkString("\n")
    graft.streaming.VersionNames.replaceFile(schemaPath(dir), body)
  }

  private def writeMapping(dir: String, m: ColumnMapping): Unit = {
    val prior = manifestOf(dir)
      .getOrElse(Manifest(m, Seq.empty, Map.empty))
    // Keep ptype/widen/comment entries consistent with the surviving
    // physical columns.
    val livePhysical = m.cols.map(_._2.toLowerCase).toSet
    writeManifest(dir, Manifest(
      m,
      prior.ptypes.filter { case (p, _) => livePhysical.contains(p.toLowerCase) },
      prior.widens.filter { case (p, _) => livePhysical.contains(p.toLowerCase) },
      prior.comments.filter { case (p, _) => livePhysical.contains(p.toLowerCase) }))
  }

  /** The table's current mapping, materializing the identity mapping
    * from the physical footer schema when no manifest exists yet. */
  private def effectiveMapping(spark: SparkSession, dir: String): ColumnMapping =
    mappingOf(dir).getOrElse(
      ColumnMapping(physicalSchema(spark, dir).fieldNames.toSeq.map(n => n -> n), Seq.empty))

  /** Union of all file footer schemas — physical names, no mapping.
    * For a swap-versioned table (no data at the root, `_CURRENT`
    * pointing into a version dir) the footers of the LIVE snapshot are
    * the physical truth — a root read would find nothing to infer from. */
  private def physicalSchema(spark: SparkSession, dir: String): StructType = {
    val dataPath =
      if (graft.streaming.ParquetTable.exists(dir))
        graft.streaming.ParquetTable.currentPath(dir)
      else dir
    FooterSchemas.read(spark, dataPath, mergeSchema = true).schema
  }

  /** RENAME COLUMN old→new: metadata-only manifest update, zero files
    * touched (reference: db/schema_evolution.sql rename + column
    * mapping). Old files and new appends both keep the original
    * physical name. */
  def renameColumn(spark: SparkSession, dir: String, oldName: String, newName: String): Unit = {
    val m = effectiveMapping(spark, dir)
    require(m.physicalOf(oldName).isDefined, s"RENAME COLUMN: no column $oldName in $dir")
    require(m.physicalOf(newName).isEmpty,
      s"RENAME COLUMN: $newName already exists in $dir")
    writeMapping(dir, m.copy(cols = m.cols.map {
      case (l, p) if l.equalsIgnoreCase(oldName) => newName -> p
      case other => other
    }))
  }

  /** DROP COLUMN: metadata-only tombstone — the physical column stays in
    * the immutable files but vanishes from reads, and its physical name
    * stays reserved so a later ADD of the same logical name maps to a
    * fresh physical name. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    val m = effectiveMapping(spark, dir)
    val physical = m.physicalOf(name).getOrElse(
      sys.error(s"DROP COLUMN: no column $name in $dir"))
    writeMapping(dir, ColumnMapping(
      m.cols.filterNot(_._1.equalsIgnoreCase(name)),
      m.dropped :+ physical))
  }

  /** Lossless numeric widenings the parquet vectorized reader promotes
    * at scan time (the Delta type-widening set this engine supports).
    * long→double is deliberately ABSENT: the shipped vectorized reader
    * has no Long→Double updater (only IntegerToLong, IntegerToDouble,
    * FloatToDouble), so an authoritative DOUBLE physical schema would
    * make every pre-widen INT64 file throw at scan — and the conversion
    * is lossy above 2^53 anyway, violating the lossless contract (Delta
    * type widening excludes it for the same reasons). */
  private val promotable: Set[(DataType, DataType)] = Set(
    (IntegerType, LongType), (IntegerType, DoubleType),
    (FloatType, DoubleType))

  /** ADD COLUMNS — metadata-only, zero files touched (reference
    * db/schema_evolution.sql:9-19): the manifest registers each new
    * logical column with a physical name and its type; existing files
    * null-fill it at read (the scan's explicit read schema makes the
    * parquet reader emit nulls for absent columns), later appends carry
    * it. Like [[widenColumn]], the first metadata DDL snapshots the
    * authoritative physical schema (`ptype` lines) so reads stop
    * deriving schema from footers. A reserved physical name (tombstoned
    * by an earlier DROP, or live under another logical name) mints a
    * fresh suffixed physical name. */
  def addColumns(spark: SparkSession, dir: String, newCols: Seq[(String, DataType)]): Unit = {
    require(newCols.nonEmpty, "ADD COLUMNS: no columns given")
    val mf0 = manifestOf(dir).getOrElse(Manifest(
      ColumnMapping(
        physicalSchema(spark, dir).fieldNames.toSeq.map(n => n -> n), Seq.empty),
      Seq.empty, Map.empty))
    var m = mf0.mapping
    var ptypes: Seq[(String, DataType)] =
      if (mf0.ptypes.nonEmpty) mf0.ptypes
      else {
        val ps = physicalSchema(spark, dir)
        m.cols.map { case (_, p) =>
          p -> ps.find(_.name.equalsIgnoreCase(p)).map(_.dataType)
            .getOrElse(sys.error(s"no physical column $p in $dir"))
        }
      }
    newCols.foreach { case (logical, t) =>
      require(m.physicalOf(logical).isEmpty,
        s"ADD COLUMNS: column $logical already exists in $dir")
      val fresh =
        if (!m.physicalNames.contains(logical.toLowerCase)) logical
        else Iterator.from(1).map(i => s"${logical}_c$i")
          .find(c => !m.physicalNames.contains(c.toLowerCase)).get
      m = m.copy(cols = m.cols :+ (logical -> fresh))
      ptypes = ptypes :+ (fresh -> t)
    }
    writeManifest(dir, mf0.copy(mapping = m, ptypes = ptypes))
  }

  /** CREATE TABLE (cols) — materialize an EMPTY manifest-only table:
    * col + ptype lines define the schema before any file exists, so
    * [[readEvolved]] returns an empty typed frame (explicit read schema
    * needs no files) and the first [[appendEvolved]] is schema-checked
    * against the declared columns rather than inferring from data —
    * the reference's "create the table with the desired schema, then
    * INSERT the transform" recipe (db/schema_evolution.sql:52-105). */
  def createTable(spark: SparkSession, dir: String, cols: Seq[(String, DataType)]): Unit = {
    require(cols.nonEmpty, "CREATE TABLE: no columns")
    val dups = cols.groupBy(_._1.toLowerCase).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"CREATE TABLE: duplicate column names: ${dups.mkString(", ")}")
    Files.createDirectories(Paths.get(dir))
    require(manifestOf(dir).isEmpty && !hasParquetData(dir),
      s"CREATE TABLE: $dir already holds a table")
    writeManifest(dir, Manifest(
      ColumnMapping(cols.map { case (n, _) => n -> n }, Seq.empty),
      cols, Map.empty))
  }

  private def hasParquetData(dir: String): Boolean = {
    val p = Paths.get(dir)
    Files.exists(p) && {
      val s = Files.walk(p)
      try s.iterator().asScala.exists { f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
      } finally s.close()
    }
  }

  /** ALTER COLUMN ... COMMENT — metadata-only (reference
    * db/schema_evolution.sql:27): the comment is keyed by PHYSICAL name
    * in the manifest, so it survives later renames of the logical name;
    * [[readEvolved]] surfaces it as the field's metadata comment. */
  def setColumnComment(spark: SparkSession, dir: String, name: String, comment: String): Unit = {
    require(!comment.exists(c => c == '\n' || c == '\r'),
      "column comment may not contain newlines (line-oriented manifest)")
    val mf0 = manifestOf(dir).getOrElse(Manifest(
      ColumnMapping(
        physicalSchema(spark, dir).fieldNames.toSeq.map(n => n -> n), Seq.empty),
      Seq.empty, Map.empty))
    val physical = mf0.mapping.physicalOf(name).getOrElse(
      sys.error(s"ALTER COLUMN COMMENT: no column $name in $dir"))
    writeManifest(dir, mf0.copy(comments = mf0.comments + (physical -> comment)))
  }

  /** ALTER COLUMN ... TYPE — read-time widen, zero files rewritten
    * (reference db/schema_evolution.sql:52-105). Numeric widens record
    * the target as the authoritative physical type: old files upcast in
    * the parquet reader, new appends write the target type.
    * STRING→TIMESTAMP keeps the string physical form (the reader cannot
    * promote it) and applies a projection cast at read; appends of
    * timestamp data are written as their ISO string image. On the first
    * widen the manifest snapshots the full physical schema (`ptype`
    * lines), after which reads never re-derive schema from footers —
    * at 100 TB that is the difference between one manifest read and a
    * distributed footer-merge job per query. */
  def widenColumn(spark: SparkSession, dir: String, name: String, newType: DataType): Unit = {
    val mf0 = manifestOf(dir).getOrElse(Manifest(
      ColumnMapping(
        physicalSchema(spark, dir).fieldNames.toSeq.map(n => n -> n), Seq.empty),
      Seq.empty, Map.empty))
    val m = mf0.mapping
    val physical = m.physicalOf(name).getOrElse(
      sys.error(s"ALTER COLUMN TYPE: no column $name in $dir"))
    val basePtypes: Seq[(String, DataType)] =
      if (mf0.ptypes.nonEmpty) mf0.ptypes
      else {
        val ps = physicalSchema(spark, dir)
        m.cols.map { case (_, p) =>
          p -> ps.find(_.name.equalsIgnoreCase(p)).map(_.dataType)
            .getOrElse(sys.error(s"no physical column $p in $dir"))
        }
      }
    val cur = mf0.widenOf(physical)
      .getOrElse(basePtypes.find(_._1.equalsIgnoreCase(physical)).get._2)
    val castBased = cur == StringType && newType == TimestampType
    require(promotable.contains((cur, newType)) || castBased,
      s"unsupported type change ${cur.simpleString} -> ${newType.simpleString} " +
        s"(lossless widens only: int->long/double, float->double, string->timestamp)")
    val ptypes = basePtypes.map {
      case (p, t) if p.equalsIgnoreCase(physical) =>
        p -> (if (castBased) t else newType)
      case other => other
    }
    writeManifest(dir, mf0.copy(mapping = m, ptypes = ptypes,
      widens = mf0.widens + (physical -> newType)))
  }

  /** Violations of additive evolution going from `current` to
    * `incoming` (both in LOGICAL names); empty = compatible.
    * `typeAllowed(logical, incomingType, currentType)` grants per-column
    * type-change exceptions — the widen path passes the manifest check;
    * the default grants none (strict enforcement). */
  def validateEvolution(
      current: StructType, incoming: StructType,
      typeAllowed: (String, DataType, DataType) => Boolean = (_, _, _) => false): Seq[String] =
    current.fields.toSeq.flatMap { f =>
      incoming.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case None =>
          Some(s"column ${f.name} would be dropped (additive evolution only)")
        case Some(g) if g.dataType != f.dataType &&
            !typeAllowed(f.name, g.dataType, f.dataType) =>
          Some(s"column ${f.name} would change type " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        case _ => None
      }
    }

  /** Append `df` (logical column names) to the table dir, enforcing
    * additive-only evolution against the current LOGICAL schema and
    * translating to physical names when a mapping manifest exists. */
  def appendEvolved(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    // Guard on actual parquet data, not bare directory existence — a
    // pre-created empty dir must behave like a first write.
    // A CREATE TABLE'd (manifest-only, zero-file) table must still take
    // the validated manifest path — only a truly schema-less target gets
    // the bare first write.
    if (!hasParquetData(dir) && manifestOf(dir).isEmpty) {
      df.write.mode("append").parquet(dir); return
    }

    val current = readEvolved(spark, dir).schema
    val mfOpt = manifestOf(dir)
    // A widened column additionally accepts its PRE-widen shapes: any
    // type that upcasts losslessly into the current logical type, or
    // the recorded physical form (string for a string→timestamp widen) —
    // old writers keep working after the widen.
    def widenAllows(logical: String, incoming: DataType, currentT: DataType): Boolean =
      mfOpt.exists { mf =>
        mf.mapping.physicalOf(logical).exists { p =>
          mf.widenOf(p).isDefined && (
            mf.ptypeOf(p).contains(incoming) ||
              org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(incoming, currentT))
        }
      }
    val violations = validateEvolution(current, df.schema, widenAllows)
    require(violations.isEmpty,
      s"schema evolution rejected for $dir:\n  ${violations.mkString("\n  ")}")

    mfOpt match {
      case None => df.write.mode("append").parquet(dir)
      case Some(mf0) =>
        // Translate logical→physical. A NEW column defaults to physical
        // = logical, unless that physical name is reserved (live under
        // another logical name, or tombstoned by a drop) — then a fresh
        // suffixed physical name is minted and registered. Columns with
        // an authoritative physical type are cast to it on write (the
        // widen write path: int batches land as double, timestamps as
        // their string image).
        var m = mf0.mapping
        var ptypes = mf0.ptypes
        val physCols: Seq[Column] = df.schema.fields.toSeq.map { field =>
          val logical = field.name
          m.physicalOf(logical) match {
            case Some(p) =>
              val pt = ptypes.find(_._1.equalsIgnoreCase(p)).map(_._2)
              val c = pt match {
                case Some(t) if t != field.dataType => col(logical).cast(t)
                case _ => col(logical)
              }
              c.as(p)
            case None =>
              val fresh =
                if (!m.physicalNames.contains(logical.toLowerCase)) logical
                else Iterator.from(1).map(i => s"${logical}_c$i")
                  .find(c => !m.physicalNames.contains(c.toLowerCase)).get
              m = m.copy(cols = m.cols :+ (logical -> fresh))
              if (ptypes.nonEmpty) ptypes = ptypes :+ (fresh -> field.dataType)
              col(logical).as(fresh)
          }
        }
        if ((m ne mf0.mapping) || (ptypes ne mf0.ptypes))
          writeManifest(dir, mf0.copy(mapping = m, ptypes = ptypes))
        df.select(physCols: _*).write.mode("append").parquet(dir)
    }
  }

  /** Read the LOGICAL view: union of all file schemas with the mapping
    * manifest applied — renamed columns surface under their logical
    * name across every file generation, dropped columns are excluded,
    * files written before an ADD COLUMN null-fill the added columns. */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    readEvolvedAt(spark, dir, dir)

  /** [[readEvolved]] generalized to a data path that differs from the
    * manifest's home: time-travel reads (`VERSION/TIMESTAMP AS OF` over
    * a versioned table whose root carries a `_SCHEMA`) must surface the
    * table's CURRENT logical view — renames, drops, widens — over the
    * selected snapshot's files, exactly as Delta's column-mapping time
    * travel does. `manifestDir` is the table root; `dataPath` the
    * snapshot directory (or the root itself for plain reads).
    *
    * A version dir's deletion vectors apply: rows `deleteWhereDV`
    * removed stay removed in every mount and time-travel read. Without a
    * manifest ptype schema the footer union comes from memoized footers
    * ([[FooterSchemas]]), with no Spark job. */
  def readEvolvedAt(spark: SparkSession, manifestDir: String, dataPath: String): DataFrame = {
    val mf = manifestOf(manifestDir)
    // With an authoritative physical schema (post-widen) the scan uses
    // it directly — pre-widen files upcast in the reader, missing
    // later-added columns null-fill. Without one, the union of the
    // footers' schemas.
    val scan = mf.flatMap(_.physicalReadSchema) match {
      case Some(ps) => spark.read.schema(ps).parquet(dataPath)
      case None => FooterSchemas.read(spark, dataPath, mergeSchema = true)
    }
    val raw = graft.streaming.ParquetTable.withoutDeleted(spark, Paths.get(dataPath), scan)
    mf match {
      case None => raw
      case Some(mf) =>
        val m = mf.mapping
        val cols = raw.schema.fieldNames.toSeq.flatMap { physical =>
          if (m.isDropped(physical)) None
          else {
            val base = (mf.widenOf(physical), mf.ptypeOf(physical)) match {
              // Cast-based widen (string→timestamp): physical stays the
              // narrow type, the logical view casts.
              case (Some(t), Some(pt)) if t != pt => col(physical).cast(t)
              case _ => col(physical)
            }
            val logical = m.logicalOf(physical).getOrElse(physical)
            Some(mf.comments.find(_._1.equalsIgnoreCase(physical)) match {
              case Some((_, text)) =>
                base.as(logical, new MetadataBuilder().putString("comment", text).build())
              case None => base.as(logical)
            })
          }
        }
        raw.select(cols: _*)
    }
  }
}
