package graft.tables

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterInference
import org.apache.spark.sql.execution.datasources.parquet.FooterInference.{Converter, FooterFacts}
import org.apache.spark.sql.types.StructType

/** Where table reads get their schema: from parquet footers read once on
  * the driver and memoized, with no Spark job. Delta keeps a table's
  * schema in its log; a plain parquet read infers it, and Spark runs a
  * job to read the footers every time. A data file never changes once
  * written, so its footer facts (Spark schema, row count) are memoized
  * by its identity: path, length and modification time. A file
  * rewritten in place has a new identity and is read again.
  *
  * [[read]] answers exactly what `spark.read.parquet` answers (see
  * `FooterInference` for the rules it follows), over the same file
  * index, so a streaming sink dir's `_spark_metadata` still decides which
  * files count. Only the footers of files not seen before are opened.
  *
  * Bounds: at most [[MaxFiles]] files are remembered, least recently
  * used first out; equal schemas are interned, so files that share a
  * schema share one `StructType`; vacuum forgets the files of the
  * versions it deletes. There is no setting: nothing to tune, and a
  * wrong answer is impossible while the identity holds. */
object FooterSchemas {

  /** Files remembered at most (a few hundred bytes each). */
  val MaxFiles = 16384
  private val MaxSchemas = 1024

  private final case class Key(path: String, length: Long, mtime: Long, converter: Converter)

  private val memo = new java.util.LinkedHashMap[Key, FooterFacts](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, FooterFacts]): Boolean =
      size > MaxFiles
  }
  private val schemas = new ConcurrentHashMap[StructType, StructType]()
  private val opened = new AtomicLong()

  /** Footers opened since the JVM started (the memo's misses). */
  private[graft] def footersRead: Long = opened.get

  /** Files remembered now. */
  private[graft] def remembered: Int = memo.synchronized(memo.size)

  /** `spark.read.parquet(path)`, or with `mergeSchema` the union of every
    * file's schema, its schema resolved from memoized footers. */
  def read(spark: SparkSession, path: String, mergeSchema: Boolean = false): DataFrame =
    FooterInference.read(spark, Seq(path),
      if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty) { (files, conf, c) =>
      factsOf(files, conf, c).map(_.schema)
    }

  /** Footer facts of `files`, reading only the unknown ones. */
  def facts(spark: SparkSession, files: Seq[FileStatus]): Seq[FooterFacts] =
    factsOf(files, FooterInference.hadoopConf(spark, Map.empty), FooterInference.converterOf(spark))

  private def factsOf(files: Seq[FileStatus], conf: Configuration, c: Converter): Seq[FooterFacts] = {
    val keys = files.map(f => Key(f.getPath.toString, f.getLen, f.getModificationTime, c))
    val known = memo.synchronized(keys.map(k => Option(memo.get(k))))
    val unknown = files.indices.filter(known(_).isEmpty)
    val fresh = unknown.zip(FooterInference.readFooters(conf, unknown.map(files), c)
      .map(f => f.copy(schema = intern(f.schema)))).toMap
    opened.addAndGet(fresh.size.toLong)
    memo.synchronized(fresh.foreach { case (i, f) => memo.put(keys(i), f) })
    files.indices.map(i => known(i).getOrElse(fresh(i)))
  }

  private def intern(s: StructType): StructType = {
    if (schemas.size > MaxSchemas) schemas.clear()
    Option(schemas.putIfAbsent(s, s)).getOrElse(s)
  }

  /** Drop the files under `dirs` (vacuumed version dirs). */
  def forget(dirs: Seq[String]): Unit = if (dirs.nonEmpty) {
    val prefixes = dirs.map(d =>
      java.nio.file.Paths.get(d).toAbsolutePath.normalize.toUri.getPath.stripSuffix("/") + "/")
    memo.synchronized {
      memo.keySet.removeIf(k => prefixes.exists(new Path(k.path).toUri.getPath.startsWith(_)))
      ()
    }
  }
}
