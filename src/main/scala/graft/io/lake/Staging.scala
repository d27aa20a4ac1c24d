package graft.io.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The storage half of the Delta and Iceberg write protocols, in one
  * place. Every file either format adds to a table is written by ONE
  * distributed job under a hidden `<root>/.staging-<id>` directory,
  * then moved to the name its format chooses: invisible to readers
  * until a commit references it, unreferenced (and reclaimable) if the
  * commit never lands. A commit publishes its log or metadata file by
  * [[putIfAbsent]], so of two writers racing for one version exactly
  * one wins; the loser's next step (rebase, replay or refuse) is
  * [[Commit.optimistic]]'s, the one retry loop of both formats. A
  * write that dies between staging and the move leaves only its
  * staging directory, which [[sweep]] reclaims. */
object Staging {

  val Prefix = ".staging-"

  /** Staging directories younger than this may belong to an in-flight
    * writer, so no reclaim touches them, however short the retention
    * asked for; genuine crash debris is hours old. */
  val OrphanMinAgeMillis: Long = 3600000L

  /** One staged part file as `dest` sees it: Spark's part-file name,
    * its partition values in `partCols` order (unescaped; None = the
    * null partition), and its position among the `count` files of the
    * stage in [[stage]]'s sorted order. */
  final case class Part(name: String, values: Seq[Option[String]], index: Int, count: Int)

  /** A staged file at its final path. */
  final case class Staged(path: Path, values: Seq[Option[String]], len: Long)

  /** Write `df` as parquet in one job, Hive-partitioned by `partCols`,
    * move every part file to the path `dest` names, and remove the
    * staging directory. Files come back sorted by partition directory,
    * then by part-file name. */
  def stage(df: DataFrame, root: Path, partCols: Seq[String] = Nil)(
      dest: Part => Path): Seq[Staged] = {
    val f = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dir = new Path(root, Prefix + java.util.UUID.randomUUID().toString.take(8))
    (if (partCols.isEmpty) df.write else df.write.partitionBy(partCols: _*))
      .parquet(dir.toString)
    val dirPrefixes = partCols.map(c => ExternalCatalogUtils.escapePathName(c) + "=")
    def walk(d: Path, vals: Seq[Option[String]]): Seq[(FileStatus, Seq[Option[String]])] =
      f.listStatus(d).sortBy(_.getPath.getName).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (vals.size < partCols.size) {
          val pre = dirPrefixes(vals.size)
          if (st.isDirectory && name.startsWith(pre))
            walk(st.getPath, vals :+ partitionValue(name.substring(pre.length)))
          else Nil
        } else if (st.isFile && name.endsWith(".parquet")) Seq(st -> vals)
        else Nil
      }
    val found = walk(dir, Nil)
    // every name first: a failing `dest` leaves only the staging dir
    val out = found.zipWithIndex.map { case ((st, vals), i) =>
      (st.getPath, Staged(dest(Part(st.getPath.getName, vals, i, found.size)), vals, st.getLen))
    }
    out.map(_._2.path.getParent).distinct.foreach(f.mkdirs)
    out.foreach { case (src, Staged(dst, _, _)) =>
      if (!f.rename(src, dst)) { // HDFS refuses to replace a file
        f.delete(dst, false)
        require(f.rename(src, dst), s"rename $src -> $dst failed")
      }
    }
    f.delete(dir, true)
    out.map(_._2)
  }

  /** [[stage]] for a single-file write (a checkpoint, a stats file, a
    * consolidated delete file): `df` coalesces to one part, which
    * replaces `target`. Returns the file's length. */
  def stageOne(df: DataFrame, root: Path, target: Path): Long =
    stage(df.coalesce(1), root) { p =>
      require(p.count == 1, s"expected one staged file for $target, got ${p.count}")
      target
    }.head.len

  /** Delete the staged files whose record count (the caller's footer
    * read) is 0 and return the rest: an empty write partition's file
    * must not reach a log or manifest. */
  def dropEmpty[A](f: FileSystem, files: Seq[A])(path: A => Path, records: A => Long): Seq[A] = {
    val (empty, kept) = files.partition(records(_) == 0)
    empty.foreach(a => f.delete(path(a), false))
    kept
  }

  /** Publish the fully written `tmp` as `target` only if `target` does
    * not exist; returns whether this call published it. `tmp` is gone
    * afterwards either way. On `file:` this is `link(2)`, which fails
    * on an existing target: Hadoop's local renames, with or without
    * `Rename.NONE`, check and then rename, so two racing writers can
    * both "win". Elsewhere it is `FileContext` rename with
    * `Rename.NONE`, atomic on HDFS. */
  def putIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val won =
      if (f.getUri.getScheme == "file") {
        def local(p: Path) = new java.io.File(f.makeQualified(p).toUri).toPath
        try { java.nio.file.Files.createLink(local(target), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, f.getConf)
          fc.rename(fc.makeQualified(tmp), fc.makeQualified(target),
            org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if f.exists(target) => false
        }
    f.delete(tmp, false) // with its .crc sidecar on the local checksummed FS
    won
  }

  /** Reclaim the staging directories under `root` left by writes that
    * died before their move: those older than `retainMillis` and
    * [[OrphanMinAgeMillis]]. Returns how many were deleted. */
  def sweep(f: FileSystem, root: Path, retainMillis: Long): Int = {
    val cutoff = System.currentTimeMillis() - math.max(retainMillis, OrphanMinAgeMillis)
    f.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith(Prefix) &&
        st.getModificationTime < cutoff && f.delete(st.getPath, true))
  }

  private def partitionValue(escaped: String): Option[String] = {
    val v = ExternalCatalogUtils.unescapePathName(escaped)
    if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v)
  }
}
