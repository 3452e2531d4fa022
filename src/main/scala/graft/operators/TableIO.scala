package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

/** Filesystem seam for the table swap ([[TableSwap]]) and the merge
  * writer's listings and sidecars: atomic rename, directory listing and
  * small atomic file writes. The local implementation uses `java.nio`
  * same-volume renames; a cluster deployment backs the same interface with
  * the HDFS `rename` (atomic within a namespace) or an object-store commit
  * protocol, without touching merge logic.
  */
trait TableIO {
  def exists(path: String): Boolean
  /** (name, isDirectory) for each direct child; empty if `path` is not a
    * directory. */
  def listDir(path: String): Seq[(String, Boolean)]
  /** Atomic same-volume rename; fails rather than falling back to
    * copy+delete (the swap protocol's correctness depends on it). */
  def atomicMove(src: String, dst: String): Unit
  def createDirectories(path: String): Unit
  def deleteRecursively(path: String): Unit
  def readString(path: String): Option[String]
  /** Write-then-rename so readers never observe a torn small file. */
  def writeStringAtomic(path: String, content: String): Unit
  /** (name, size bytes) for each direct child FILE; empty if `path` is
    * not a directory. The maintenance plane (compaction targets) needs
    * sizes, not just names. */
  def fileSizes(path: String): Seq[(String, Long)]
  /** Last-modified epoch millis of `path`, 0 if it does not exist. The
    * vacuum grace period rests on this. */
  def lastModifiedMs(path: String): Long

  /** Small binary artifacts (e.g. the corpus gate's incremental bloom
    * filter) ride the same atomic write-then-rename contract. The
    * defaults tunnel through the string primitives as base64 so existing
    * implementations of the seam stay correct unchanged; implementations
    * with native byte IO should override. */
  def readBytes(path: String): Option[Array[Byte]] =
    readString(path).map(java.util.Base64.getDecoder.decode)
  def writeBytesAtomic(path: String, bytes: Array[Byte]): Unit =
    writeStringAtomic(path, java.util.Base64.getEncoder.encodeToString(bytes))
}

/** Local-filesystem implementation over `java.nio`. */
object LocalTableIO extends TableIO {
  private def p(s: String): Path = Paths.get(s)

  def exists(path: String): Boolean = Files.exists(p(path))

  def listDir(path: String): Seq[(String, Boolean)] = {
    if (!Files.isDirectory(p(path))) return Nil
    val s = Files.list(p(path))
    try {
      val b = Seq.newBuilder[(String, Boolean)]
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getFileName.toString, Files.isDirectory(f)))
      }
      b.result()
    } finally s.close()
  }

  def atomicMove(src: String, dst: String): Unit =
    Files.move(p(src), p(dst), StandardCopyOption.ATOMIC_MOVE)

  def createDirectories(path: String): Unit =
    Files.createDirectories(p(path))

  def deleteRecursively(path: String): Unit = {
    // Tolerates a CONCURRENT deleter of the same tree: a reader's
    // TableSwap.recoverCrashedSwap deletes the aside copy the resuming
    // swapper is also deleting (SwapRecoveryRaceSpec drives it for real),
    // and a per-node miss just means the peer got there first. A transient
    // DirectoryNotEmpty (peer still mid-children) is swept by the
    // bounded re-walk; a crash here would be worse than residue — the
    // maintenance vacuum reclaims anything left.
    var attempts = 0
    while (Files.exists(p(path)) && attempts < 3) {
      attempts += 1
      try Files.walk(p(path)).sorted(Comparator.reverseOrder[Path]())
        .forEach { f =>
          try Files.delete(f)
          catch { case _: java.io.IOException => () }
        }
      catch { case _: java.io.IOException => () } // root vanished mid-walk
    }
  }

  def fileSizes(path: String): Seq[(String, Long)] = {
    if (!Files.isDirectory(p(path))) return Nil
    val s = Files.list(p(path))
    try {
      val b = Seq.newBuilder[(String, Long)]
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f))
          b += ((f.getFileName.toString, Files.size(f)))
      }
      b.result()
    } finally s.close()
  }

  def lastModifiedMs(path: String): Long =
    if (!Files.exists(p(path))) 0L
    else scala.util.Try(Files.getLastModifiedTime(p(path)).toMillis).getOrElse(0L)

  def readString(path: String): Option[String] =
    if (!Files.exists(p(path))) None
    else scala.util.Try(new String(Files.readAllBytes(p(path)), "UTF-8")).toOption

  def writeStringAtomic(path: String, content: String): Unit =
    writeBytesAtomic(path, content.getBytes("UTF-8"))

  override def readBytes(path: String): Option[Array[Byte]] =
    if (!Files.exists(p(path))) None
    else scala.util.Try(Files.readAllBytes(p(path))).toOption

  /** Each write stages through its own `<path>.tmp.<uuid>`: writers
    * racing on one path (a reader's crash recovery and the resuming
    * swapper both stamp the swap marker) would otherwise truncate or move
    * away each other's staging file. The last move wins whole. The dot
    * keeps the name apart from a [[TableSwap.tmpPath]] dir. */
  override def writeBytesAtomic(path: String, bytes: Array[Byte]): Unit = {
    val tmp = p(s"$path.tmp.${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, p(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
