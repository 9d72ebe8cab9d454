package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import scala.jdk.CollectionConverters._

/** Versioned Parquet snapshots — the engine's mutation substrate.
  *
  * The reference mutates SQLite in place under a cross-process file lock
  * (`index_wikimedia.py:47-48,94`; `rclip_server.py:233`). On immutable
  * Parquet the equivalent is snapshot-commit (SURVEY §7.4): every write
  * lands in a fresh `v%05d` directory and only becomes visible once its
  * `_SUCCESS` marker exists, so readers never observe a partial write and
  * a crashed writer leaves no corruption — the same all-or-nothing
  * contract the file lock provided, minus the lock.
  *
  * A version is one of two kinds:
  *  - a DATA version: a Parquet directory written by Spark ([[write]]);
  *  - a DELETES-ONLY version ([[delete]]): the reference's one-row
  *    `UPDATE images SET deleted=True` as metadata. It holds `_BASE` (the
  *    name of a data version, never of another deletes-only version),
  *    `_DELETES` (the id column, the id count and the ids: the cumulative
  *    deletion set over that base) and `_SUCCESS`, written in that order
  *    with plain java.nio and no Spark job.
  *
  * [[read]] folds the set into `deleted`, so every reader sees the view a
  * full rewrite would have written. A committed deletes-only version whose
  * `_BASE` or `_DELETES` is missing or torn fails loudly with an
  * `IllegalStateException` naming the path; it never falls back to an
  * older version.
  *
  * Scales: a censor's commit cost is O(1) metadata (at most
  * [[SnapshotStore.MaxDeletes]] ids, 32 KiB); data files are written once,
  * and the next full [[write]] (dedup, upsert, ingest, or a censor past the
  * cap) compacts the set into a new data version.
  */
final class SnapshotStore(val root: String) {
  import SnapshotStore._

  /** All `v%05d` directories, committed or not (close the OS dir stream —
    * Files.list leaks a file descriptor otherwise). */
  private def allVersionDirs: Seq[(Int, String)] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Nil
    else {
      val st = Files.list(p)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.matches("v\\d{5}"))
        .map(n => n.substring(1).toInt -> s"$root/$n")
        .toSeq.sortBy(_._1)
      finally st.close()
    }
  }

  private def versionDirs: Seq[(Int, String)] =
    allVersionDirs.filter { case (_, dir) => committed(dir) }

  private def committed(dir: String): Boolean = Files.exists(Paths.get(dir, "_SUCCESS"))

  /** Numbering skips past uncommitted (torn-write) directories too — a
    * writer that crashed mid-write of v N must not wedge the next writer
    * on an already-exists error at v N. */
  private def nextDir: String =
    f"$root/v${allVersionDirs.lastOption.map(_._1).getOrElse(0) + 1}%05d"

  def latestVersion: Option[Int] = versionDirs.lastOption.map(_._1)
  def latestDir: Option[String] = versionDirs.lastOption.map(_._2)

  /** The newest committed version, resolved to its data version and the
    * ids deleted over it. */
  def head: Option[Version] = latestDir.map(resolve)

  /** Read the newest committed snapshot, deletion set folded into
    * `deleted` (the column is added when the base lacks it). */
  def read(spark: SparkSession): DataFrame = {
    val (base, v) = readBase(spark)
    v.deletes.fold(base)(markDeleted(base, _))
  }

  /** The newest committed snapshot as its base data version and, apart,
    * the ids deleted over it: for a reader that keeps the base cached and
    * applies the set itself. */
  def readBase(spark: SparkSession): (DataFrame, Version) = head match {
    case Some(v) => (spark.read.parquet(v.base), v)
    case None    => throw new IllegalStateException(s"no committed snapshot under $root")
  }

  /** Commit `df` as the next data version and return its directory. */
  def write(df: DataFrame): String = {
    val dir = nextDir
    df.write.parquet(dir) // parquet commit protocol writes _SUCCESS last
    dir
  }

  /** Commit `ids`, together with every id the newest version already
    * deletes, as a deletes-only version over the newest version's base,
    * and return it. The cumulative set must stay within [[MaxDeletes]];
    * past it, fold the set into a full [[write]] instead. */
  def delete(idCol: String, ids: Iterable[Long]): Version = {
    val cur = head.getOrElse(throw new IllegalStateException(s"no committed snapshot under $root"))
    cur.deletes.foreach(d => require(d.idCol == idCol,
      s"deletion set of ${cur.dir} is keyed by ${d.idCol}, not $idCol"))
    val all = cur.deletedIds ++ ids
    require(all.size <= MaxDeletes,
      s"${all.size} pending deletes exceed MaxDeletes=$MaxDeletes; compact with a full write")
    val dir = Paths.get(nextDir)
    Files.createDirectory(dir)
    Files.writeString(dir.resolve("_BASE"), Paths.get(cur.base).getFileName.toString)
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(dir.resolve("_DELETES"))))
    try {
      out.writeUTF(idCol)
      out.writeInt(all.size)
      all.toArray.sorted.foreach(out.writeLong)
    } finally out.close()
    Files.createFile(dir.resolve("_SUCCESS"))
    Version(dir.toString, cur.base, Some(Deletes(idCol, all)))
  }

  /** A committed directory as its data version plus deletion set. */
  private def resolve(dir: String): Version = {
    val baseFile = Paths.get(dir, "_BASE")
    val delFile = Paths.get(dir, "_DELETES")
    if (!Files.exists(baseFile) && !Files.exists(delFile)) Version(dir, dir, None)
    else {
      val name = try Files.readString(baseFile).trim
        catch { case _: NoSuchFileException => corrupt(baseFile, "is missing") }
      val base = s"$root/$name"
      if (!name.matches("v\\d{5}") || !committed(base) || isDeletesOnly(base))
        corrupt(baseFile, s"names $name, which is not a committed data version")
      Version(dir, base, Some(readDeletes(delFile)))
    }
  }

  private def isDeletesOnly(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_BASE")) || Files.exists(Paths.get(dir, "_DELETES"))

  private def readDeletes(file: Path): Deletes = {
    val in = try new DataInputStream(new BufferedInputStream(Files.newInputStream(file)))
      catch { case _: NoSuchFileException => corrupt(file, "is missing") }
    try {
      val idCol = in.readUTF()
      val n = in.readInt()
      if (n < 0 || n > MaxDeletes) corrupt(file, s"records $n ids")
      val ids = Array.fill(n)(in.readLong())
      if (in.read() != -1) corrupt(file, s"holds more than its recorded $n ids")
      Deletes(idCol, ids.toSet)
    } catch {
      case _: EOFException => corrupt(file, "is truncated: it holds fewer ids than its recorded count")
    } finally in.close()
  }

  private def corrupt(path: Path, what: String): Nothing =
    throw new IllegalStateException(s"committed snapshot file $path $what")

  /** Seed the store from an external Parquet table (no-op if versioned). */
  def initFrom(spark: SparkSession, sourcePath: String): Unit =
    if (latestDir.isEmpty) write(spark.read.parquet(sourcePath))

  /** Retention: delete all but the newest `keep` committed versions and
    * the data versions they read, including torn-write directories below
    * that cutoff. Torn dirs ABOVE the cutoff are left alone (a concurrent
    * writer could be mid-write); they cannot wedge the store because
    * write() and delete() number past every existing directory, committed
    * or not. A censor commits only a deletion set, but dedup and upsert
    * write a full snapshot per call — without pruning the store grows by
    * one corpus copy per such mutation. Returns the number of directories
    * removed. Readers of a pruned version would fail, so call this from
    * the same single-writer context that commits. */
  def prune(keep: Int = 2): Int = {
    require(keep >= 1, "must keep at least the newest snapshot")
    val kept = versionDirs.takeRight(keep)
    val cutoff = kept.headOption.map(_._1).getOrElse(0)
    val bases = kept.map { case (_, dir) => resolve(dir).base }.toSet
    val doomed = allVersionDirs.collect {
      case (v, dir) if v < cutoff && !bases(dir) => Paths.get(dir)
    }
    doomed.foreach { dir =>
      val st = Files.walk(dir)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
    doomed.size
  }
}

object SnapshotStore {

  /** Cap on a deletion set: 4,096 ids, 32 KiB of `_DELETES`. A censor that
    * would grow the set past it compacts with a full write instead, so
    * the `isin` filter readers apply stays small. */
  val MaxDeletes: Int = 4096

  /** Ids deleted over a base, values of its column `idCol`. */
  final case class Deletes(idCol: String, ids: Set[Long])

  /** A committed version `dir`: the data version `base` it reads (`dir`
    * itself for a data version) and the deletion set over it, if any. */
  final case class Version(dir: String, base: String, deletes: Option[Deletes]) {
    def deletedIds: Set[Long] = deletes.fold(Set.empty[Long])(_.ids)
  }

  /** `deleted` := true for the set's ids, otherwise unchanged (added as
    * null when `df` lacks it): the soft-delete a full rewrite commits. */
  def markDeleted(df: DataFrame, d: Deletes): DataFrame = {
    val withDel =
      if (df.columns.contains("deleted")) df
      else df.withColumn("deleted", lit(null).cast("boolean"))
    withDel.withColumn("deleted",
      when(col(d.idCol).isin(d.ids.toSeq.sorted: _*), lit(true)).otherwise(col("deleted")))
  }
}
