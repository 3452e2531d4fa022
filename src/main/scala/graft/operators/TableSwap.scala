package graft.operators

/** The rename-aside swap: how every writer of an engine table (silver
  * merges, compaction, the gold refresh) publishes a rewrite with nothing
  * but directory renames ([[TableIO.atomicMove]]). This object is the only
  * code that knows its names and steps; a writer stages its payload under
  * [[tmpPath]], calls one of the two replace shapes, then [[stamp]]s.
  *
  * '''Names''' for a table at `<t>`, all SIBLINGS of the table dir (inside
  * it, a leftover would corrupt partition discovery):
  *  - `<t>.tmp-<uid>`: the payload, complete before any step runs;
  *  - `<t>.old-<uid>`: the live table moved aside, or the dir holding the
  *    replaced bucket files;
  *  - `<t>.old-<uid>-<entry>`: one replaced partition dir moved aside;
  *  - `<t>.swapuid`: the marker, the uid of the last completed swap.
  *    Change detection (ResultCache, the memoized serving loaders,
  *    SilverStore's registration cache, gold's input uids) reads this one
  *    small file instead of hashing table contents.
  * Uids are dash-free (an 8-char uuid prefix, or gold's `gen<N>`), so an
  * aside's entry starts after its first dash.
  *
  * '''Whole-table replace''' ([[replace]]): move `<t>` aside, move the tmp
  * in ([[moveInTolerant]]), drop the aside. A delete-then-move swap would
  * lose the table if the process died between its steps.
  * '''Per-entry replace''' ([[replaceDirs]] for partition dirs,
  * [[replaceFiles]] for bucket files and their `.crc` siblings): move the
  * replaced entries aside, move their successors in, drop the asides and
  * the tmp. Writers that keep a counts sidecar (`<t>.counts.json`) write
  * it under the swap's uid BEFORE the replace, so sidecar and marker
  * disagree exactly while the swap is in flight. Every step of both shapes
  * is conditional on what is still on disk: re-running a crashed swap
  * under its uid converges (the additive gold merge and the enriched
  * partition swap resume this way).
  *
  * '''Crash windows''' and what recovers each:
  *  - before the first move: a lone tmp beside an intact table.
  *    [[Maintenance.vacuumInspect]] deletes it past its grace; the
  *    additive merge's next stage and a full gold rebuild sweep their own
  *    tables' strays sooner.
  *  - between a whole-table aside and its move-in: the live dir is
  *    MISSING beside a complete tmp and an aside of one uid, the only
  *    window a reader cannot serve. [[recoverCrashedSwap]] rolls it
  *    forward (QueryServer does on a stale-swap read, and every merge and
  *    incremental gold refresh first, through [[requireLive]]); vacuum
  *    quarantines both dirs because the live table is missing.
  *  - inside a per-entry replace: entries are part old, part new, one may
  *    sit aside. The sidecar's uid is not the marker's, so
  *    MergeWriter.currentCounts recounts and vacuum quarantines the
  *    residue; so does an aside or tmp entry whose live entry is missing.
  *    Re-running the swap completes it.
  *  - after the move-in, before the asides go: the table is complete;
  *    vacuum deletes the asides.
  *  - after the replace, before the stamp: new data, old marker. Counts
  *    recount on the uid mismatch; a serving frame memoized under the old
  *    uid may list vanished files, and its stale-swap read drops it
  *    (QueryServer.invalidateServingLoaders).
  * One writer per table; the only concurrency tolerated is a reader's
  * [[recoverCrashedSwap]] racing the swap's own move-in.
  */
object TableSwap {

  private def io: TableIO = MergeWriter.io

  private val TmpTag = ".tmp-"
  private val AsideTag = ".old-"

  def newUid(): String = java.util.UUID.randomUUID().toString.take(8)

  def tmpPath(path: String, uid: String): String = path + TmpTag + uid

  private def asidePath(path: String, uid: String): String =
    path + AsideTag + uid

  private def entryAsidePath(path: String, uid: String, entry: String) =
    s"${asidePath(path, uid)}-$entry"

  private[graft] def markerPath(path: String): String = path + ".swapuid"

  /** The marker's uid, "" when the table has none yet (still a valid
    * fingerprint: it changes when the first swap lands). */
  def markerUid(path: String): String =
    io.readString(markerPath(path)).getOrElse("")

  def stamp(path: String, uid: String): Unit =
    io.writeStringAtomic(markerPath(path), uid)

  // ------------------------------------------------------------ names
  def isTmpOf(table: String, name: String): Boolean =
    name.startsWith(table + TmpTag)

  def isAsideOf(table: String, name: String): Boolean =
    name.startsWith(table + AsideTag)

  /** Whether `name` is swap residue of any table. */
  def isResidue(name: String): Boolean =
    name.contains(TmpTag) || name.contains(AsideTag)

  /** The table names residue entry `name` may belong to: the prefix
    * before its first tmp tag and before its first aside tag. */
  def residueTables(name: String): Seq[String] =
    Seq(TmpTag, AsideTag).flatMap { tag =>
      val i = name.indexOf(tag)
      if (i > 0) Some(name.take(i)) else None
    }

  /** The entry named by an aside `<table>.old-<uid>-<entry>`: the uid is
    * dash-free, so the entry follows its first dash; it must look like a
    * partition dir (`col=value`, whose value may itself hold dashes). */
  def asideEntry(table: String, name: String): Option[String] = {
    val rest = name.stripPrefix(table + AsideTag)
    val i = rest.indexOf('-')
    if (i > 0) Some(rest.substring(i + 1)).filter(_.contains("="))
    else None
  }

  // ---------------------------------------------------------- replace
  /** Whole-table replace of `path` by `tmpPath(path, uid)`. */
  def replace(path: String, uid: String): Unit = {
    val tmp = tmpPath(path, uid)
    val aside = asidePath(path, uid)
    if (io.exists(tmp)) {
      if (io.exists(path)) {
        if (io.exists(aside)) io.deleteRecursively(aside)
        io.atomicMove(path, aside)
      }
      moveInTolerant(tmp, path)
    }
    io.deleteRecursively(aside)
  }

  /** Per-entry replace of the dirs `entries` (partition dirs) of `path`
    * by their namesakes under `tmpPath(path, uid)`. An entry whose
    * successor is gone from the tmp was already swapped (or never had
    * one): it is left as it is. */
  def replaceDirs(path: String, uid: String, entries: Seq[String]): Unit = {
    val tmp = tmpPath(path, uid)
    io.createDirectories(path)
    entries.foreach { e =>
      val src = s"$tmp/$e"
      val dst = s"$path/$e"
      val aside = entryAsidePath(path, uid, e)
      if (io.exists(src)) {
        if (io.exists(dst)) io.atomicMove(dst, aside)
        io.atomicMove(src, dst)
      }
      if (io.exists(aside)) io.deleteRecursively(aside)
    }
    io.deleteRecursively(tmp)
  }

  /** Per-entry replace of bucket files: `oldFiles` of `path` move aside
    * first (so a reader never sees an old and a new file of one bucket
    * at once), then every bucket file under `tmpPath(path, uid)` moves
    * in. Each file's `.crc` sibling travels with it, so the live dir never
    * keeps a stale checksum that a same-named later file could trip on. */
  def replaceFiles(path: String, uid: String, oldFiles: Seq[String]): Unit = {
    val tmp = tmpPath(path, uid)
    val aside = asidePath(path, uid)
    def moveWithCrc(srcDir: String, dstDir: String, f: String): Unit = {
      io.atomicMove(s"$srcDir/$f", s"$dstDir/$f")
      val crc = s".$f.crc"
      if (io.exists(s"$srcDir/$crc"))
        io.atomicMove(s"$srcDir/$crc", s"$dstDir/$crc")
    }
    io.createDirectories(aside)
    oldFiles.foreach { f =>
      if (io.exists(s"$path/$f")) moveWithCrc(path, aside, f) }
    if (io.exists(tmp))
      io.fileSizes(tmp).map(_._1)
        .filter(f => MergeWriter.bucketIdOfFile(f).nonEmpty)
        .foreach(f => moveWithCrc(tmp, path, f))
    io.deleteRecursively(aside)
    io.deleteRecursively(tmp)
  }

  // --------------------------------------------------------- recovery
  /** Reader-side ROLL-FORWARD of a whole-table swap that died between its
    * aside and its move-in: finish its steps (move the tmp in, drop the
    * aside, stamp) with the data it was publishing. The paired uid makes
    * this safe: per-entry swaps never take the live dir away, and their
    * tmp dirs hold PARTIAL entry sets (rolling one forward would truncate
    * the table). Anything else (a lone tmp of a first-ever write, several
    * pairs) is left for the next write to supersede. Losing the move race
    * to the resuming swapper ([[moveInTolerant]]) or another reader leaves
    * a live table either way. Returns true if it restored one at `path`. */
  private[graft] def recoverCrashedSwap(path: String): Boolean = {
    if (io.exists(path)) return false
    val slash = path.lastIndexOf('/')
    if (slash < 0) return false
    val (parent, name) = (path.take(slash), path.drop(slash + 1))
    if (!io.exists(parent)) return false
    val dirs = io.listDir(parent).collect { case (n, true) => n }.toSet
    val tmpUids = dirs.collect {
      case n if isTmpOf(name, n) => n.stripPrefix(name + TmpTag) }
    val asideUids = dirs.collect {
      case n if isAsideOf(name, n) => n.stripPrefix(name + AsideTag) }
    val paired = tmpUids.intersect(asideUids)
    if (paired.size != 1) return false
    val uid = paired.head
    val tmp = tmpPath(path, uid)
    // Marker snapshot + payload sentinel, taken BEFORE the move; the stamp
    // below needs both unchanged. Otherwise a restarted beat republishing
    // under a NEW uid between this move-in and this stamp would have its
    // marker regressed behind the live content. The sentinel is a
    // `_`-prefixed file (Spark readers ignore it) that travels with the
    // payload: still present at `path` means the live dir is still THIS
    // recovery's content. Same-uid peers write the same name.
    val markerBefore = io.readString(markerPath(path))
    val sentinel = s"_graft_recover_$uid"
    try io.writeStringAtomic(s"$tmp/$sentinel", uid)
    catch { case scala.util.control.NonFatal(_) => () } // tmp already won a race
    val moved =
      try { io.atomicMove(tmp, path); true }
      catch { case scala.util.control.NonFatal(_) => false }
    if (!moved)
      // Lost the race to a same-uid peer (which stamps this uid) or to a
      // different-uid republish (which stamped its own): only the mover
      // may stamp. Report whether a table is live; residue is vacuum's.
      return io.exists(path)
    io.deleteRecursively(asidePath(path, uid))
    // Compare-and-set stamp: a moved marker or a rotated-away sentinel
    // means a different-uid republish already stamped fresher content.
    if (io.readString(markerPath(path)) == markerBefore &&
        io.exists(s"$path/$sentinel"))
      stamp(path, uid)
    try io.deleteRecursively(s"$path/$sentinel")
    catch { case scala.util.control.NonFatal(_) => () } // rotated away mid-delete
    true
  }

  /** A writer's guard before it reads `path` to merge into it. A
    * whole-table swap that crashed between its aside and its move-in left
    * the live dir missing; a merge reading "no table" would rebuild it
    * from its batch alone, and vacuum, seeing a live dir again, would then
    * delete the aside holding the old rows. So roll such a swap forward
    * ([[recoverCrashedSwap]]); if the live dir is still missing beside an
    * aside of the table, the old rows exist only there: throw. A lone tmp
    * beside a missing table is a first-ever write that never published,
    * which the new write supersedes. */
  def requireLive(path: String): Unit =
    if (!io.exists(path) && !recoverCrashedSwap(path)) {
      val slash = path.lastIndexOf('/')
      val (parent, name) = (path.take(slash), path.drop(slash + 1))
      val asides =
        if (slash <= 0 || !io.exists(parent)) Nil
        else io.listDir(parent).collect { case (n, true) if isAsideOf(name, n) => n }
      if (asides.nonEmpty)
        throw new IllegalStateException(s"$path is missing and its rows " +
          s"are only in swap residue ${asides.sorted.mkString(", ")}; " +
          "restore the table before writing to it")
    }

  /** The swap's move-in, tolerant of [[recoverCrashedSwap]] stealing the
    * step: a failed move whose destination is live and whose source is
    * gone means a reader rolled this very swap forward (same uid, same
    * payload, marker already stamped) — the swapper proceeds to its own
    * idempotent tail. Any other failure shape rethrows. */
  private[graft] def moveInTolerant(tmp: String, path: String): Unit =
    try io.atomicMove(tmp, path)
    catch { case scala.util.control.NonFatal(e) =>
      if (!io.exists(path) || io.exists(tmp)) throw e
    }
}
