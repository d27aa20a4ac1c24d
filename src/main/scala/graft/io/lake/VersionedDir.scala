package graft.io.lake

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** A directory of immutable `v<N>` versions behind one `_CURRENT`
  * pointer file: the commit layout of the exactly-once state sinks
  * ([[graft.streaming.AggStream]], [[graft.streaming.DimStream]],
  * [[graft.streaming.NbStream]]) and of the persisted ANN index. A
  * version is written in full, then the pointer swaps by rename with
  * overwrite (atomic on HDFS and local), so a reader never sees a
  * partial version and a crash before the swap leaves the previous one
  * live. */
object VersionedDir {

  val Pointer = "_CURRENT"

  /** The committed version dir under `root`, or None before the first
    * swap. */
  def current(conf: Configuration, root: String): Option[String] = {
    val r = new Path(root)
    val fs = r.getFileSystem(conf)
    val p = new Path(r, Pointer)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val v = try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8).trim
        finally in.close()
      Some(new Path(r, v).toString)
    }
  }

  /** Point `root`'s `_CURRENT` at its version dir `name`: written to
    * `_CURRENT.tmp`, then renamed over the pointer. */
  def swap(conf: Configuration, root: String, name: String): Unit = {
    val r = new Path(root)
    val tmp = new Path(r, s"$Pointer.tmp")
    val out = r.getFileSystem(conf).create(tmp, true)
    try out.write(name.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(r.toUri, conf).rename(tmp, new Path(r, Pointer),
      Options.Rename.OVERWRITE)
  }

  /** Commit batch `id` as version `v<id>`, unless the pointer already
    * names it or a later batch (a replay after a crash between this
    * commit and the caller's own checkpoint): `write(current, next)`
    * fills the dir `next` from the committed version, the pointer
    * swaps to it, and all but the newest `max(retain, 2)` version dirs
    * are deleted — the new one and its predecessor survive, so a
    * reader that resolved the pointer just before the swap still finds
    * its dir. */
  def commit(conf: Configuration, root: String, id: Long, retain: Int)(
      write: (Option[String], String) => Unit): Unit = {
    val cur = current(conf, root)
    if (cur.forall(d => new Path(d).getName.stripPrefix("v").toLong < id)) {
      val r = new Path(root)
      write(cur, new Path(r, s"v$id").toString)
      swap(conf, root, s"v$id")
      val fs = r.getFileSystem(conf)
      fs.listStatus(r)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
        .map(_.getPath)
        .sortBy(p => -p.getName.stripPrefix("v").toLong)
        .drop(math.max(retain, 2))
        .foreach(fs.delete(_, true))
    }
  }
}
