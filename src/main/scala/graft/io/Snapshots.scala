package graft.io

import java.io.File
import java.nio.file.Files

/** STORE SNAPSHOT / ROLLBACK — poor-man's time travel for the swap-
  * committed store: every writer in this engine lands data as NEW
  * files and commits by directory rename (never an in-place byte
  * edit), so a HARDLINK copy of the store's files is a consistent,
  * immutable point-in-time snapshot at near-zero cost — later
  * compactions and removals unlink the old inodes from the live tree,
  * but the snapshot's links keep them alive. This is the single-
  * filesystem analogue of a table-format snapshot (Iceberg/Delta keep
  * a manifest of immutable files; we keep the links themselves), and
  * the ops answer to "an ingest went wrong, put the store back".
  *
  * Scope and caveats (documented, not hidden): snapshots live under
  * `store/.snapshots/<name>` on the SAME filesystem (hardlink
  * requirement); transient `.lock` / `.tmp` / `.trash` entries are not
  * part of a snapshot. Exclusion is two-level and REAL, not advisory:
  * the `.store` lease serializes snapshot ops against the multi-table
  * transactions that honor it (the ingest commit and fsck --repair
  * hold it end to end), and each entry's own table lease — held across
  * the whole walk — excludes the single-table maintenance swaps
  * (compact, postings/vector index maintenance), so no entry is ever
  * captured or parked mid-aside-rename. Sidecar writers must REPLACE,
  * never truncate (VectorIndex.writeMeta's tmp+atomic-move) — an
  * in-place write to a hardlinked inode would rewrite history.
  */
object Snapshots {

  private def isTransient(name: String): Boolean =
    name == ".snapshots" || name == ".rollback_trash" ||
      name.endsWith(".lock") || name.endsWith(".lock.guard") ||
      name.endsWith(".tmp") || name.endsWith(".trash")

  /** Every entry point validates the name — a relative-path name like
    * ".." would otherwise resolve `.snapshots/<name>` to the store
    * root itself, turning `dropsnapshot` into "delete the store".
    */
  /** Entries inside a SNAPSHOT that are never state: lease/guard
    * files and half-written tmps a `--scrub-snapshots` rewrite may
    * leave behind. `.trash` is deliberately NOT here — a scrub that
    * crashed mid-swap parks a table's ONLY copy at `<table>.trash`,
    * and restore/recover must carry it into the live tree so the
    * reader preambles can heal it (dropping it would roll back to a
    * store with no documents table at all).
    */
  private def isEphemeral(name: String): Boolean =
    name.endsWith(".lock") || name.endsWith(".lock.guard") ||
      name.endsWith(".tmp")

  private def checkName(name: String): Unit =
    require(name.nonEmpty && !name.contains("/") && !name.startsWith("."),
      s"snapshot name must be a plain identifier: $name")

  /** Hold every lease in `paths` (sorted — one global order, so two
    * multi-lock holders cannot deadlock) around `body`.
    */
  private def withAllLocks[A](paths: Seq[String])(body: => A): A =
    paths.sorted.distinct
      .foldRight(() => body)((p, acc) => () => Tables.withTableLock(p)(acc()))
      .apply()

  private def walk(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else Seq(f)

  /** Hardlink-copy `src`'s tree under `dst` (dirs recreated, files
    * linked — never copied).
    */
  private def linkTree(src: File, dst: File): (Long, Long) = {
    var n = 0L; var bytes = 0L
    walk(src).foreach { f =>
      val rel = src.toPath.relativize(f.toPath)
      val target = dst.toPath.resolve(rel)
      Files.createDirectories(target.getParent)
      Files.createLink(target, f.toPath)
      n += 1L; bytes += f.length()
    }
    (n, bytes)
  }

  /** Marker written into `.rollback_trash` BEFORE any entry parks: it
    * names the snapshot a restore is rolling to, so recovery after a
    * crash knows the direction to converge (roll FORWARD — the
    * snapshot is immutable and complete). Underscore-prefixed like the
    * manifest: never a table name (checkName rejects leading dots and
    * slashes, table entries never start with `_restore`).
    */
  private val IntentFile = "_restore_from"

  /** The snapshot's commit marker — written LAST by `create`, required
    * by `restore`/`list`: a snapshot directory without it is a crashed
    * create, never history.
    */
  private val ManifestFile = "_graft_snapshot.json"

  /** Converge an interrupted `restore`: a non-empty `.rollback_trash`
    * means a restore died between parking the live entries and
    * relinking the snapshot — the live tree may be EMPTY or partial
    * while both copies (parked + snapshot) survive. If the intent
    * marker names a snapshot that still exists, roll FORWARD: finish
    * the relink (dropping any partially-relinked live entries first —
    * trash and snapshot still hold every byte) and drop the trash,
    * exactly what the crashed restore would have done. If the intent
    * is unreadable or the snapshot is gone (unreachable under the
    * `.store` lease, kept as a fallback), park BACK: the pre-restore
    * live state returns, preferring the parked copy on a name clash so
    * the result is one consistent state, never a mix. Idempotent —
    * re-running after any crash point converges to the same store.
    *
    * Returns a description of the action taken, or None if there was
    * no interrupted restore to converge.
    */
  def recover(storeDir: String): Option[String] =
    Tables.withTableLock(s"$storeDir/.store") {
      recoverLocked(new File(storeDir))
    }

  private def recoverLocked(root: File): Option[String] = {
    val trash = new File(root, ".rollback_trash")
    if (!trash.isDirectory) return None
    val marker = new File(trash, IntentFile)
    val intent =
      if (marker.isFile)
        Some(new String(Files.readAllBytes(marker.toPath), "UTF-8").trim)
      else None
    // the marker travels THROUGH a crash, so its content gets the same
    // validation as every other snapshot-name entry point (a corrupt or
    // crafted ".." would resolve `.snapshots/<name>` to the store root
    // and recovery would destroy the store while "converging" it), and
    // roll-forward requires a COMPLETED snapshot — manifest present —
    // exactly like restore itself (a crashed create is never a restore
    // source)
    val target = intent
      .filter(n => scala.util.Try(checkName(n)).isSuccess)
      .map(n => new File(root, s".snapshots/$n"))
      .filter(s => s.isDirectory && new File(s, ManifestFile).exists())
    val result = target match {
      case Some(snap) =>
        // ephemeral entries (lease/guard/tmp files a snapshot SCRUB
        // leaves behind) are not snapshot state — never relink them;
        // `.trash` asides DO relink (see isEphemeral)
        val restored = Option(snap.listFiles()).getOrElse(Array.empty)
          .filterNot(e => e.getName == ManifestFile || isEphemeral(e.getName))
          .toSeq
        val liveNow = Option(root.listFiles()).getOrElse(Array.empty)
          .filterNot(e => isTransient(e.getName)).toSeq
        val leases = (restored.map(e => new File(root, e.getName).getPath) ++
          liveNow.map(_.getPath) ++
          Option(trash.listFiles()).getOrElse(Array.empty)
            .filterNot(_.getName == IntentFile)
            .map(e => new File(root, e.getName).getPath)).distinct
        withAllLocks(leases) {
          // a COMPLETED restore ends with ONLY the snapshot's entries
          // live: every current entry was parked and then dropped with
          // the trash. Converge to exactly that — live entries absent
          // from the snapshot (crash-before-park leftovers, or entries
          // created after the snapshot) go too; the snapshot + trash
          // still hold everything the converged state needs.
          val snapNames = restored.map(_.getName).toSet
          liveNow.filterNot(e => snapNames.contains(e.getName))
            .foreach(Tables.rmTree)
          restored.foreach { e =>
            val live = new File(root, e.getName)
            // a partially-relinked entry from the crashed attempt is
            // safe to drop: the snapshot still holds every byte
            if (live.exists()) Tables.rmTree(live)
            if (e.isDirectory) linkTree(e, live)
            else Files.createLink(live.toPath, e.toPath)
          }
          Tables.rmTree(trash)
        }
        s"completed interrupted restore from snapshot ${snap.getName}"
      case None =>
        // direction unknown (no/invalid marker, or the snapshot is
        // incomplete/gone). With the marker written before ANY park and
        // `drop` converging before it deletes, the only states that
        // reach here in practice hold an EMPTY trash (crash between
        // mkdir and marker write) — park-back is the conservative
        // fallback for manually-damaged stores: parked entries return,
        // preferring the parked copy on a name clash.
        val parked = Option(trash.listFiles()).getOrElse(Array.empty)
          .filterNot(_.getName == IntentFile).toSeq
        // live entries whose names are NOT in the parked set are kept:
        // with a partially-parked trash they may be the only copy of
        // healthy pre-restore tables, so deleting them is never safe
        // here — but when the trash is non-empty they may also be a
        // crashed relink's leftovers, i.e. the converged store can be a
        // MIX of pre-restore and snapshot entries. Surface the
        // survivors in the action string so fsck/operators see the mix
        // instead of a silent "converged".
        val parkedNames = parked.map(_.getName).toSet
        val extras =
          if (parked.isEmpty) Seq.empty
          else Option(root.listFiles()).getOrElse(Array.empty)
            .filterNot(e => isTransient(e.getName))
            .map(_.getName).filterNot(parkedNames.contains).sorted.toSeq
        withAllLocks(parked.map(e => new File(root, e.getName).getPath)) {
          parked.foreach { e =>
            val live = new File(root, e.getName)
            if (live.exists()) Tables.rmTree(live)
            // the rollback's own park/relink moves whole store entries
            // as one unit under every lease — not a Tables.swap
            require(e.renameTo(live), s"parking back $e failed")
          }
          Tables.rmTree(trash)
        }
        "parked interrupted rollback state back into the live store" +
          (if (extras.isEmpty) ""
           else s"; kept live entries not in the parked set (inspect: " +
             s"possible crashed-relink leftovers): ${extras.mkString(", ")}")
    }
    Some(result)
  }

  /** Create snapshot `name`: one hardlink per data file, a manifest
    * beside them. Returns (n_files, n_bytes). Refuses to overwrite an
    * existing snapshot (a snapshot is immutable history). Converges
    * any interrupted restore first — snapshotting a half-relinked live
    * tree would freeze the crash state into history.
    */
  def create(storeDir: String, name: String): (Long, Long) =
    Tables.withTableLock(s"$storeDir/.store") {
      checkName(name)
      val root = new File(storeDir)
      require(root.isDirectory, s"no store at $storeDir")
      recoverLocked(root)
      val snap = new File(root, s".snapshots/$name")
      // the manifest is the snapshot's COMMIT MARKER (written last): a
      // dir without one is a crashed create — incomplete, not history.
      // Immutability protects completed snapshots only; a crashed
      // create retries clean instead of wedging the name forever.
      if (snap.exists() && !new File(snap, ManifestFile).exists())
        Tables.rmTree(snap)
      require(!snap.exists(), s"snapshot $name already exists — immutable")
      // a writer that crashed mid-swap parked a table's ONLY copy at
      // `<table>.trash`; the walk below excludes trash (isTransient),
      // so snapshotting without healing first would capture a store
      // MISSING that table — and a later rollback would serve it
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".trash"))
        .foreach(t => Tables.restoreFromTrash(t.getPath.stripSuffix(".trash")))
      Files.createDirectories(snap.toPath)
      // exclusion is two-level: the `.store` lease serializes against
      // the MULTI-table writers that honor it (the ingest transaction,
      // fsck --repair, other snapshot ops), and each entry's own table
      // lease — held across the WHOLE walk — excludes the single-table
      // maintenance swaps (compact, postings/vector maintenance), so
      // no entry is captured mid-aside-rename
      val entries = Option(root.listFiles()).getOrElse(Array.empty)
        .filterNot(e => isTransient(e.getName)).toSeq
      withAllLocks(entries.map(_.getPath)) {
        var n = 0L; var bytes = 0L
        entries.foreach { e =>
          val (dn, db) =
            if (e.isDirectory) linkTree(e, new File(snap, e.getName))
            else {
              Files.createLink(new File(snap, e.getName).toPath, e.toPath)
              (1L, e.length())
            }
          n += dn; bytes += db
        }
        Faults.point("snapshot.create.after-links")
        Files.write(new File(snap, ManifestFile).toPath,
          s"""{"name": "$name", "n_files": $n, "n_bytes": $bytes}"""
            .getBytes("UTF-8"))
        (n, bytes)
      }
    }

  /** Restore the store to snapshot `name`: the CURRENT entries park in
    * `.rollback_trash` first (crash between park and restore leaves
    * both the parked state and the intact snapshot — nothing is ever
    * the only copy), then the snapshot hardlinks back into place, then
    * the parked state drops. Snapshots taken AFTER `name` survive a
    * rollback (history is not rewritten, only the live tree).
    */
  def restore(storeDir: String, name: String): (Long, Long) =
    Tables.withTableLock(s"$storeDir/.store") {
      checkName(name)
      val root = new File(storeDir)
      // converge any earlier interrupted restore BEFORE parking: the
      // parked state under .rollback_trash may be the ONLY copy of the
      // pre-crash live tree, and the old code's rmTree(trash) below
      // would have destroyed it while the live tree was still partial
      recoverLocked(root)
      val snap = new File(root, s".snapshots/$name")
      require(snap.isDirectory, s"no snapshot $name under $storeDir")
      require(new File(snap, ManifestFile).exists(),
        s"snapshot $name has no manifest — a crashed create, not history")
      val trash = new File(root, ".rollback_trash")
      val current = Option(root.listFiles()).getOrElse(Array.empty)
        .filterNot(e => isTransient(e.getName)).toSeq
      // a scrubbed snapshot may hold ephemeral lease/guard/tmp files —
      // those are not state, and relinking one into the live root
      // would collide with the live lease machinery; `.trash` asides
      // DO relink (a crashed scrub's parked only-copy — the live
      // reader preamble heals it after the rollback)
      val restored = Option(snap.listFiles()).getOrElse(Array.empty)
        .filterNot(e => e.getName == ManifestFile || isEphemeral(e.getName))
        .toSeq
      // hold every affected entry's lease (current AND restored names)
      // for the whole park-and-relink — a single-table maintenance op
      // must never find its directory parked out from under its lease
      val leases = (current.map(_.getPath) ++
        restored.map(e => new File(root, e.getName).getPath)).distinct
      withAllLocks(leases) {
        Tables.rmTree(trash)
        Files.createDirectories(trash.toPath)
        // intent FIRST: from here on, a crash at ANY point leaves a
        // .rollback_trash whose marker names the snapshot, so recovery
        // (fsck preamble, or the next snapshot op) rolls forward
        Files.write(new File(trash, IntentFile).toPath, name.getBytes("UTF-8"))
        Faults.point("snapshot.restore.after-intent")
        current.foreach { e => // parks the entry for rollback, not a Tables.swap
          require(e.renameTo(new File(trash, e.getName)),
            s"parking $e for rollback failed")
        }
        Faults.point("snapshot.restore.after-park")
        var n = 0L; var bytes = 0L
        restored.foreach { e =>
          val (dn, db) =
            if (e.isDirectory) linkTree(e, new File(root, e.getName))
            else {
              Files.createLink(new File(root, e.getName).toPath, e.toPath)
              (1L, e.length())
            }
          n += dn; bytes += db
          Faults.point("snapshot.restore.mid-relink")
        }
        Faults.point("snapshot.restore.after-relink")
        Tables.rmTree(trash)
        (n, bytes)
      }
    }

  /** Resolve a snapshot for READ-ONLY querying (`Main search/get/
    * profile --snapshot=<name>`): the hardlink tree under
    * `.snapshots/<name>` is a complete, consistent, immutable store of
    * its moment — every table, index, sidecar, and artifact — so
    * queries open tables from it IN PLACE: no park, no relink, no
    * lease, the live store untouched. "What did this query return
    * before yesterday's ingest" without a rollback. Same name
    * validation as every snapshot entry point; requires a COMPLETED
    * snapshot (manifest present — a crashed create is not history).
    */
  def openRoot(storeDir: String, name: String): String = {
    checkName(name)
    val snap = new File(storeDir, s".snapshots/$name")
    require(snap.isDirectory && new File(snap, ManifestFile).exists(),
      s"no snapshot $name under $storeDir")
    snap.toString
  }

  /** Names of COMPLETED snapshots (manifest present), sorted — a
    * crashed create's partial dir is not history and never lists.
    */
  def list(storeDir: String): Seq[String] =
    Option(new File(storeDir, ".snapshots").listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && new File(d, ManifestFile).exists())
      .map(_.getName).sorted

  /** Drop snapshot `name` — unlinks its hardlinks, so inodes shared
    * with the live tree (or other snapshots) survive and only
    * snapshot-exclusive bytes are reclaimed. Under the same writer
    * lease as create/restore.
    */
  def drop(storeDir: String, name: String): Unit =
    Tables.withTableLock(s"$storeDir/.store") {
      checkName(name)
      // converge a pending interrupted restore FIRST — its intent
      // marker may name exactly this snapshot, and deleting the roll-
      // forward source would strand the parked state with no direction
      recoverLocked(new File(storeDir))
      val snap = new File(storeDir, s".snapshots/$name")
      require(snap.isDirectory, s"no snapshot $name under $storeDir")
      Faults.point("snapshot.drop.before-rm")
      Tables.rmTree(snap)
    }
}
