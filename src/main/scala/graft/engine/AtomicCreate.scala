package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The single-step atomic publish primitive shared by the commit layer
  * ([[ManifestTableStore]] manifest versions) and the index-artifact layer
  * ([[Materialize]] pointers): fully stage `content` to a hidden temp
  * sibling, then make it visible under `dst` with ONE atomic
  * create-if-absent operation — so `dst` either does not exist or is
  * complete, and concurrent publishers race on existence alone.
  *
  * The primitive is store-specific:
  *   - local FS: `link(2)` via `Files.createLink` — the one POSIX
  *     operation that is create-if-absent AND carries full content in a
  *     single syscall (`rename(2)` silently REPLACES an existing
  *     destination, and Hadoop's local `create(overwrite=false)` is a
  *     non-atomic exists-then-open);
  *   - HDFS-like stores: `FileContext.rename(tmp, dst, Rename.NONE)`, an
  *     atomic namenode transaction that fails if dst exists;
  *   - bare object stores without atomic create-if-absent need an
  *     external coordinator — the same caveat Delta documents.
  */
private[engine] object AtomicCreate {

  /** Publish `content` at `dst`; true iff THIS call created it (a false
    * return means a competitor won and dst holds the winner's complete
    * content). The parent directory is created if absent.
    */
  def publish(f: FileSystem, dst: HPath, content: Array[Byte]): Boolean = {
    f.mkdirs(dst.getParent)
    val tmp = new HPath(dst.getParent,
      s".tmp-${dst.getName}-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(content) finally out.close()
    val won =
      if (f.getScheme == "file") {
        def local(p: HPath) = java.nio.file.Paths.get(p.toUri.getPath)
        try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        import org.apache.hadoop.fs.Options
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, f.getConf)
        try { fc.rename(tmp, dst, Options.Rename.NONE); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
    f.delete(tmp, false) // local: dst hard-links the same inode; HDFS: moved
    won
  }

  /** Replace-publish for sidecars whose updates are DELIBERATE full
    * replacements (view definitions, approved mapping specs): delete
    * any existing file, then publish atomically. Shared so the
    * delete+publish shape lives once.
    */
  def replacePublish(f: FileSystem, dst: HPath,
      content: Array[Byte]): Unit = {
    if (f.exists(dst)) f.delete(dst, false)
    require(publish(f, dst, content), s"lost publish race for $dst")
  }

  /** Read a small sidecar file fully as UTF-8, None when absent — the
    * one read routine every sidecar consumer (view text, name
    * pointers, mapping specs) shares.
    */
  def readString(f: FileSystem, p: HPath): Option[String] =
    if (f.exists(p)) Some(readExisting(f, p)) else None

  /** [[readString]] for a file known to exist (a listed manifest
    * version, a pointer whose existence was just checked): throws
    * `FileNotFoundException` when absent, and costs one status probe
    * plus one open — no separate existence check on the commit path.
    */
  def readExisting(f: FileSystem, p: HPath): String = {
    val st = f.getFileStatus(p)
    val in = f.open(p)
    try {
      val buf = new Array[Byte](st.getLen.toInt)
      in.readFully(buf)
      new String(buf, "UTF-8")
    } finally in.close()
  }
}
