package graft.util

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}

/** The one commit rule for persisted state (pipeline stage snapshots,
  * checkpointed CC rounds, versioned streaming state): data lands first,
  * then a small commit record is written LAST through temp file + rename.
  * The record's presence is the only proof of commit, and the newest
  * commit is the highest-numbered directory that holds one.
  *
  * Reads are strict: only FileNotFoundException means "absent"; every
  * other I/O error fails the caller, so an unreadable record or listing
  * is never mistaken for a missing one.
  *
  * Records bypass a checksum wrapper (the local FS's `.crc` sidecar): its
  * rename is two renames, and a crash between them would leave a record
  * that no longer verifies. */
object Commit {
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Atomically (re)place `record` with `text` — the commit point. */
  def write(fs: FileSystem, record: Path, text: String): Unit = {
    val rfs = raw(fs)
    val tmp = new Path(record.getParent, record.getName + ".tmp")
    val out = rfs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    rfs.delete(record, false)
    if (!rfs.rename(tmp, record)) throw new IOException(s"rename failed for $record")
  }

  /** The record's text; None when it does not exist. */
  def read(fs: FileSystem, record: Path): Option[String] =
    try {
      val in = raw(fs).open(record)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Children of `dir`; empty when `dir` does not exist. */
  def list(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }

  /** The `<prefix><N>` subdirectories of `root` as (N, path), highest N first. */
  def numbered(fs: FileSystem, root: Path, prefix: String): Seq[(Long, Path)] =
    list(fs, root).flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(prefix))
        n.drop(prefix.length).toLongOption.map(_ -> st.getPath)
      else None
    }.sortBy(-_._1)
}
