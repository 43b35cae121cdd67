package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit protocol of the durable tables ([[ContentStore]] and
  * [[graft.indexing.IndexStore]]), the snapshot-commit discipline cluster
  * table formats use:
  * {{{
  *   <dir>/_manifest   — the committed version: which staging roots it reads
  *   <dir>/w-<G>/…     — staging roots; rows are written into a root, never
  *                       moved or rewritten in place by a commit
  * }}}
  * A whole-version write fills a fresh root ([[nextRoot]]), then commits by
  * atomically replacing the manifest ([[writeSwapped]]); the roots the new
  * manifest no longer names are garbage ([[gcRoots]]). A reader takes one
  * manifest read and scans only the roots it names, so it sees one whole
  * committed version. At each crash point of a commit:
  *  - new root (partly) written, manifest tmp absent or torn: the live
  *    manifest still names the old version; the orphan root is deleted by
  *    the next commit;
  *  - manifest tmp complete, live manifest deleted: [[readSwapped]] adopts
  *    the tmp, so readers see the new version;
  *  - manifest swapped, old root not yet deleted: the new version; the next
  *    commit deletes the old root.
  *
  * Single writer per table directory. A reader that holds a DataFrame
  * across a later commit may see its files GC'd — re-open per read. */
object TableCommit {

  def manifest(dir: String): String = s"$dir/_manifest"

  /** Payload of the committed manifest, or None before the first commit. */
  def readManifest(fs: FileSystem, dir: String): Option[String] =
    readSwapped(fs, manifest(dir))

  /** THE commit point: swap in the manifest `body`, then delete every
    * staging root that is not `live` (superseded versions, aborted writes). */
  def commit(fs: FileSystem, dir: String, body: String, live: Set[String]): Unit = {
    writeSwapped(fs, manifest(dir), body)
    gcRoots(fs, dir, live)
  }

  /** Delete the staging roots of `dir` that are not `live`. */
  def gcRoots(fs: FileSystem, dir: String, live: Set[String]): Unit =
    roots(fs, dir).filterNot(p => live(p.getName)).foreach(fs.delete(_, true))

  /** Next staging-root name: max existing generation + 1 (single writer). */
  def nextRoot(fs: FileSystem, dir: String): String = {
    val g = roots(fs, dir).flatMap(_.getName.stripPrefix("w-").toIntOption)
    s"w-${if (g.isEmpty) 1 else g.max + 1}"
  }

  private def roots(fs: FileSystem, dir: String): Seq[Path] =
    Option(fs.globStatus(new Path(s"$dir/w-*"))).toSeq.flatten.map(_.getPath)

  /** Atomic single-file replace: write `<p>.tmp` with a length header (so
    * a torn tmp is detectable), delete live, rename. */
  def writeSwapped(fs: FileSystem, path: String, body: String): Unit = {
    val tmp = new Path(path + ".tmp")
    writeUtf8(fs, tmp, s"${body.getBytes("UTF-8").length}\n" + body)
    fs.delete(new Path(path), false)
    fs.rename(tmp, new Path(path))
    ()
  }

  /** Read a [[writeSwapped]] file, finishing an interrupted swap: with no
    * live file, a complete tmp is adopted and a torn one discarded. None if
    * the file has never been completely written. */
  def readSwapped(fs: FileSystem, path: String): Option[String] = {
    val live = new Path(path)
    val tmp = new Path(path + ".tmp")
    if (!fs.exists(live) && fs.exists(tmp)) {
      if (validPayload(readUtf8(fs, tmp)) != null) fs.rename(tmp, live)
      else fs.delete(tmp, false) // partial write; live was never deleted
    }
    if (!fs.exists(live)) None
    else Option(validPayload(readUtf8(fs, live))).orElse(
      throw new IllegalStateException(s"corrupt swapped file: $path"))
  }

  /** Payload of a header-framed file, or null when incomplete/corrupt. */
  private def validPayload(content: String): String = {
    val nl = content.indexOf('\n')
    if (nl < 0) return null
    val payload = content.substring(nl + 1)
    content.substring(0, nl).toLongOption match {
      case Some(len) if payload.getBytes("UTF-8").length == len => payload
      case _ => null
    }
  }

  private def writeUtf8(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
