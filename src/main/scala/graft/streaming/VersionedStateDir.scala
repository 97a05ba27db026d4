package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The versioned-parquet state-dir protocol shared by the incremental
  * maintainers ([[ProjectionMaintenance]] for the co-purchase pair
  * support, [[MinhashMaintenance]] for the near-dup signature store +
  * pairs): immutable `v{batchId}` version paths and ONE commit record,
  * the `_current` pointer file. A commit writes
  * `"<batchId> <checkpoint query id>"` to a temp file and moves it over
  * the pointer with ATOMIC_MOVE, so the state's version and its lineage
  * land in one atomic write: readers resolve the pointer and scan
  * exactly one version, and a crash mid-write leaves a dangling
  * unreferenced dir, never a torn state or a state without its identity.
  * The id is the checkpoint's Structured Streaming query id (absent when
  * the checkpoint has no metadata, as in direct `applyBatch` replays). A
  * deleted/replaced checkpoint restarts batchIds at 0, which the replay
  * skip would read as stale; [[guardIdentity]] compares the recorded id
  * with the checkpoint's and fails LOUDLY at start instead of silently
  * dropping every new append. A start that dies before its first fold
  * records nothing, so it cannot tie the state to its checkpoint.
  *
  * Retention GC: committed versions older than the `keepVersions` most
  * recent are deleted after each commit; keepVersions >= 2 leaves the
  * previous version for readers that resolved the pointer just before
  * the commit, and versions NEWER than the pointer — crash orphans or a
  * concurrent committer's in-flight write — are never touched. A real
  * lakehouse would swap the pointer file for a table format's
  * transaction log; the shape (immutable versions + one atomic commit
  * record + retention) is the same. */
private[streaming] final class VersionedStateDir(
    stateDir: String, keepVersions: Int) {
  private val PointerFile = "_current"

  /** The commit record: (last folded batchId, its checkpoint query id);
    * (-1, None) for an empty state. */
  private def pointer(): (Long, Option[String]) = {
    val p = Paths.get(stateDir, PointerFile)
    if (!Files.exists(p)) (-1L, None)
    else Files.readString(p).trim.split(" ", 2) match {
      case Array(b, id) => (b.toLong, Some(id))
      case Array(b) => (b.toLong, None)
    }
  }

  /** Largest batchId already folded into the state (-1 = empty). */
  def lastApplied(): Long = pointer()._1

  def versionPath(batchId: Long): String = s"$stateDir/v$batchId"

  /** Fold `batchId` exactly once: skip it when the state already holds
    * it (Structured Streaming replays a batch under the SAME batchId
    * after a crash between state commit and checkpoint), else run
    * `fold`, which must finish writing every table under
    * [[versionPath]], then commit. False for a skipped replay. */
  def applyOnce(batchId: Long, checkpointDir: String)(fold: => Unit): Boolean =
    batchId > lastApplied() && { fold; commit(batchId, checkpointDir); true }

  /** Atomically replace the commit record, then GC stale versions. */
  private def commit(batchId: Long, checkpointDir: String): Unit = {
    val dir = Paths.get(stateDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$PointerFile.tmp")
    Files.writeString(tmp,
      (batchId.toString +: checkpointQueryId(checkpointDir).toSeq).mkString(" "))
    Files.move(tmp, dir.resolve(PointerFile),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    pruneVersions(batchId)
  }

  private def pruneVersions(committed: Long): Unit = {
    val dir = Paths.get(stateDir)
    if (!Files.isDirectory(dir)) return
    // Files.list / Files.walk streams hold an open directory fd until
    // closed, and this runs on EVERY micro-batch commit — a long-running
    // maintainer must not lean on GC to release them (ADVICE r17).
    val vs = scala.collection.mutable.ArrayBuffer.empty[(Long, java.nio.file.Path)]
    val listing = Files.list(dir)
    try listing.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
        vs += ((n.drop(1).toLong, p))
    } finally listing.close()
    vs.filter(_._1 <= committed).sortBy(-_._1).drop(keepVersions)
      .foreach { case (_, p) =>
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
  }

  /** The streaming-query id recorded in a checkpoint's metadata file
    * (None for a fresh checkpoint). Structured Streaming assigns one id
    * per checkpoint, writes it when the query is constructed (before the
    * first batch) and keeps it across restarts; a deleted/replaced
    * checkpoint gets a NEW id and restarts batchIds at 0. */
  private def checkpointQueryId(checkpointDir: String): Option[String] = {
    val p = Paths.get(checkpointDir, "metadata")
    if (!Files.exists(p)) None
    else """"id"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(Files.readString(p)).map(_.group(1))
  }

  /** Checkpoint-identity guard (ADVICE r16): fail loudly before the
    * stream starts when the state was built under a different
    * checkpoint than the one supplied — the silent-data-loss
    * alternative is batchIds restarting at 0 and every new append
    * skipping as a "replay". */
  def guardIdentity(checkpointDir: String): Unit = {
    val (last, stored) = pointer()
    (stored, checkpointQueryId(checkpointDir)) match {
      case (Some(s), Some(c)) if s != c =>
        throw new IllegalStateException(
          s"state dir $stateDir was built under checkpoint query id $s " +
            s"but $checkpointDir belongs to query id $c — a replaced " +
            "checkpoint restarts batchIds at 0 and the replay guard " +
            "would silently drop every new append. Point the maintainer " +
            "at the original checkpoint, or start a fresh state dir.")
      case (None, Some(c)) if last >= 0 =>
        throw new IllegalStateException(
          s"state dir $stateDir has committed versions but no recorded " +
            s"checkpoint identity, while $checkpointDir belongs to query " +
            s"id $c — the state's lineage cannot be verified (it may have " +
            "been built under a different, since-replaced checkpoint). " +
            "Refusing to start; rebuild the state or restore the " +
            "original checkpoint+identity pair.")
      case (Some(s), None) =>
        throw new IllegalStateException(
          s"state dir $stateDir (built under checkpoint query id $s) is " +
            s"non-empty but $checkpointDir has no metadata — the " +
            "checkpoint was deleted or replaced; refusing to start with " +
            "batchIds reset to 0 (every new append would be silently " +
            "skipped as stale).")
      case _ => ()
    }
  }
}
