package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Sidecar (state file / ledger / model) IO through the Hadoop
  * FileSystem API — resolved per-path by SCHEME, like the table
  * reads/writes around it. The index generations themselves are written
  * by Spark (scheme-aware already); sidecars written with `java.nio`
  * would silently land on the LOCAL disk for an `hdfs://`- or
  * `s3a://`-rooted space (the reference's backup target is
  * S3-compatible), building indexes that lose their ledger contract.
  * Every read/write here goes through the same FS handle the space path
  * resolves to, so lifecycle state rides wherever the table lives.
  *
  * Writes are tmp + rename-OVERWRITE (`FileContext.rename` — the atomic
  * replace; plain `FileSystem.rename` refuses existing destinations on
  * some FS), preserving the crash contract the `java.nio` ATOMIC_MOVE
  * gave on local paths. Each write has its own tmp name, so concurrent
  * writers never share a half-written file. Sidecar bytes are read and
  * written BELOW a client-side checksum layer (the local
  * `ChecksumFileSystem`): that layer keeps a `.crc` file beside each
  * file and renames the pair in two steps, so a reader could pair new
  * bytes with the old checksum and fail. Without it the swap is one
  * POSIX rename. Appends use true `FileSystem.append` where the
  * FS supports it and fall back to read-concat-rewrite otherwise — see
  * [[appendString]] for the cross-JVM writer contract.
  */
private[graft] object SidecarIO {

  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** The FS that holds a sidecar's bytes: the path's FS below any
    * client-side checksum layer (see the object doc). */
  private def bytesFs(p: Path): FileSystem = p.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  def readString(path: String): String = {
    val p = new Path(path)
    // read the OPENED file to its end: a length taken from a separate
    // stat may belong to the version a concurrent rename replaced
    val in = bytesFs(p).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def readLines(path: String): Seq[String] =
    readString(path).split("\n", -1).toSeq

  def writeString(path: String, s: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(s"$path.${java.util.UUID.randomUUID()}.tmp")
    val fs = bytesFs(p)
    val out = fs.create(tmp, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem =>
        // the raw local FS renames with rename(2): an atomic replace
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(s"could not move $tmp to $p")
        // a `.crc` left by an older checksummed write no longer matches
        fs.delete(c.getChecksumFile(p), false)
      case _ =>
        val fc =
          if (p.toUri.getScheme == null) FileContext.getFileContext(conf)
          else FileContext.getFileContext(p.toUri, conf)
        fc.rename(tmp, p, Options.Rename.OVERWRITE)
    }
    ()
  }

  /** Append — true `FileSystem.append` where the FS supports it (HDFS
    * and friends: O_APPEND semantics close the cross-JVM lost-update
    * window two read-concat-rewrite writers would have), falling back to
    * read-concat-rewrite on FSes that refuse append (the local
    * ChecksumFileSystem among them). ON THE FALLBACK PATH the
    * single-writer-per-space requirement stands: within one JVM the
    * lifecycle methods are `synchronized`, across JVMs a concurrent
    * writer can drop lines — run compaction and mutation from the
    * serving driver, not a side job. The final rename keeps readers
    * crash-consistent either way.
    */
  def appendString(path: String, s: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!exists(path)) writeString(path, s)
    else {
      // probe append support at OPEN time only — a failure after bytes
      // were written must propagate, not silently double-write via the
      // fallback
      val out = try Some(fs.append(p)) catch {
        case _: UnsupportedOperationException => None
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.toLowerCase.contains("not supported") => None
      }
      out match {
        case Some(o) =>
          try o.write(s.getBytes(StandardCharsets.UTF_8)) finally o.close()
        case None =>
          writeString(path, readString(path) + s)
      }
    }
  }

  def delete(path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true)
    ()
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf).mkdirs(p)
    ()
  }

  /** Child entry NAMES of a directory (not paths); empty if absent. */
  def listNames(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Child DIRECTORY names of a directory; empty if absent. */
  def listDirNames(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Modification time (epoch ms), None if absent/unreadable. */
  def modifiedAt(path: String): Option[Long] = {
    val p = new Path(path)
    try Some(p.getFileSystem(conf).getFileStatus(p).getModificationTime)
    catch { case _: java.io.IOException => None }
  }

  /** Non-overwriting move via `FileContext.rename(…, Rename.NONE)`:
    * throws if `dst` exists, with POSIX rename semantics — unlike
    * `FileSystem.rename`, which silently moves `src` INSIDE an existing
    * destination directory (the classic mv-into gotcha that would
    * corrupt a table swap that raced a recoverer).
    */
  def rename(src: String, dst: String): Unit = {
    val s = new Path(src)
    val fc =
      if (s.toUri.getScheme == null) FileContext.getFileContext(conf)
      else FileContext.getFileContext(s.toUri, conf)
    fc.rename(s, new Path(dst), Options.Rename.NONE)
    ()
  }

  /** Move-aside swap of a table directory: `path` moves to `path.old`,
    * `tmp` moves into `path`, then `path.old` is deleted. The rows are
    * under `path` or `path.old` at every instant (delete-then-rename
    * would lose everything between the two); a crash between the moves
    * leaves them under `path.old` for the owner's recovery to restore.
    * Every move throws on failure — a `FileSystem.rename` that returns
    * `false` would let the final delete remove the only copy. An absent
    * `path` (a first write) simply has nothing to move aside.
    */
  def swapIn(path: String, tmp: String): Unit = {
    val old = s"$path.old"
    delete(old)
    if (exists(path)) rename(path, old)
    rename(tmp, path)
    delete(old)
  }
}
