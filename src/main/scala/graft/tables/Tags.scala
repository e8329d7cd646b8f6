package graft.tables

import java.nio.file.{Files, Paths}

/** Named version tags (Iceberg's tags, Delta has no equivalent): a tag
  * is a durable name → version-id binding stored in the table root's
  * `_TAGS` file (tab-separated, rewritten atomically via temp + move —
  * the same commit discipline as `_CURRENT`). Tags give releases and
  * audits a stable handle (`VERSION AS OF 'v2024w31'`) that survives
  * further commits, and VACUUM PROTECTS tagged versions from expiry —
  * the write-audit-publish / reproducible-training-run primitive: a
  * tagged corpus snapshot stays readable for as long as the tag lives,
  * no matter the retention policy.
  */
object Tags {

  private def file(dir: String) = Paths.get(dir, "_TAGS")

  def tagsOf(dir: String): Seq[(String, Long)] = {
    val f = file(dir)
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(n, v) = l.split("\t", 2)
      n -> v.toLong
    }.toSeq
  }

  def versionOf(dir: String, name: String): Option[Long] =
    tagsOf(dir).collectFirst { case (n, v) if n.equalsIgnoreCase(name) => v }

  /** Per-table lock for the read-modify-write below: two same-JVM
    * CREATE/DROP TAG statements interleaving would lose one binding —
    * and with it that version's VACUUM pin. Same discipline as the DML
    * commit locks (cross-PROCESS writers stay single-writer by
    * contract, like version commits). */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(dir: String): Object =
    locks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  def set(dir: String, name: String, version: Long, orReplace: Boolean): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_.-]*"), s"invalid tag name: $name")
    lockFor(dir).synchronized {
      val cur = tagsOf(dir)
      require(orReplace || !cur.exists(_._1.equalsIgnoreCase(name)),
        s"tag '$name' already exists — use CREATE OR REPLACE TAG")
      write(dir, cur.filterNot(_._1.equalsIgnoreCase(name)) :+ (name.toLowerCase -> version))
    }
  }

  def drop(dir: String, name: String): Unit = lockFor(dir).synchronized {
    val cur = tagsOf(dir)
    require(cur.exists(_._1.equalsIgnoreCase(name)), s"tag '$name' does not exist")
    write(dir, cur.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Version IDS pinned by tags — VACUUM keeps these. Ids, not
    * formatted names: snapshot dirs may carry different digit counts
    * across naming epochs, and a name-keyed pin would silently miss
    * them (the id is what tag reads resolve through too). */
  def protectedIds(dir: String): Set[Long] = tagsOf(dir).map(_._2).toSet

  private def write(dir: String, tags: Seq[(String, Long)]): Unit =
    graft.streaming.VersionNames.replaceFile(file(dir), tags.sortBy(_._1)
      .map { case (n, v) => s"$n\t$v" }.mkString("", "\n", if (tags.isEmpty) "" else "\n"))
}
