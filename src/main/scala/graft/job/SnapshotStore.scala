package graft.job

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot/manifest layer over partitioned Parquet.
  *
  * No Iceberg runtime exists in this sandbox (verified; see SURVEY.md
  * §7.0), so the checkpoint contract of the north rule — "checkpointed
  * snapshots carrying lineage (warc_ts range, partition id, row counts,
  * extraction-version hash) so the job resumes idempotently" — is
  * realized with the same mechanics Iceberg uses: immutable data files
  * + a JSON manifest per snapshot + an atomically-replaced
  * `version-hint.text` pointer. Snapshot sequence numbering mirrors the
  * reference's monotonic DocumentVersion.number
  * (/root/reference/ocrworker/db/api.py:128-137).
  *
  * Layout:
  *   <root>/data/snap-<seq>/...parquet       immutable per-snapshot data
  *   <root>/snapshots/v<seq>.json            manifest (lineage + files)
  *   <root>/version-hint.text                current sequence (atomic)
  */
final case class PartitionLineage(
    partitionId: Int,
    rowCount: Long,
    errorCount: Long,
    warcTsMin: Long,
    warcTsMax: Long)

final case class Snapshot(
    sequence: Int,
    parent: Int,              // -1 for first
    extractionVersion: String,
    dataDir: String,
    partitions: Seq[PartitionLineage],
    rowCount: Long,
    inputFiles: Seq[String] = Nil,  // input files consumed by THIS snapshot
    routing: String = "strict",     // engine-selection mode: strict | routed
    replaces: Int = 0)              // >0: this data dir REWRITES snapshots 1..replaces
                                    // (compaction — Iceberg rewrite_data_files analog)

object SnapshotStore {

  def currentSequence(root: String): Int = {
    val hint = Paths.get(root, "version-hint.text")
    if (Files.exists(hint)) new String(Files.readAllBytes(hint), UTF_8).trim.toInt else 0
  }

  /** Data dirs of committed snapshots with rows — read from MANIFESTS
    * (authoritative, Iceberg-style), never from directory listings: a
    * crashed writer may leave stray uncommitted dirs on disk.
    * `upTo` caps the sequence for time travel.
    *
    * The walk runs TOP-DOWN and stops at the first compaction snapshot
    * (`replaces` > 0): its data dir is the verbatim rewrite of every
    * snapshot at or below its boundary, so the replaced dirs are not
    * read again (they stay on disk for time travel below the boundary
    * until [[expireReplaced]] reclaims them). A committed snapshot
    * whose data dir is MISSING is an integrity error, never a silent
    * skip — a partial union would silently drop rows. */
  def dataDirs(root: String, upTo: Int = Int.MaxValue): Seq[String] = {
    val seq = math.min(currentSequence(root), upTo)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = seq
    var stop = false
    while (i >= 1 && !stop) {
      val m = readManifest(root, i)
      val dir = parseStringField(m, "data_dir")
      val rows = parseLongField(m, "row_count")
      if (rows > 0 && dir.nonEmpty) {
        out += resolveDataDir(root, dir).getOrElse(throw new IllegalStateException(
          s"snapshot v$i at $root commits $rows rows but its data dir $dir is missing — " +
            "expired or externally deleted; reads below a compaction boundary require " +
            "the replaced dirs to still exist"))
      }
      if (parseLongField(m, "replaces") > 0) stop = true else i -= 1
    }
    out.reverse.toSeq
  }

  private def parseStringField(json: String, key: String): String = {
    val k = "\"" + key + "\":\""
    val i = json.indexOf(k)
    if (i < 0) return ""
    val start = i + k.length
    val sb = new java.lang.StringBuilder()
    var j = start
    while (j < json.length && json.charAt(j) != '"') {
      val c = json.charAt(j)
      if (c == '\\' && j + 1 < json.length) { sb.append(json.charAt(j + 1)); j += 2 }
      else { sb.append(c); j += 1 }
    }
    sb.toString
  }

  private def parseLongField(json: String, key: String): Long = {
    val k = "\"" + key + "\":"
    val i = json.indexOf(k)
    if (i < 0) return 0L
    var j = i + k.length
    val sb = new java.lang.StringBuilder()
    while (j < json.length && (json.charAt(j).isDigit || json.charAt(j) == '-')) {
      sb.append(json.charAt(j)); j += 1
    }
    if (sb.length() == 0) 0L else sb.toString.toLong
  }

  def nextDataDir(root: String): (Int, String) = {
    val next = currentSequence(root) + 1
    (next, s"$root/data/snap-$next")
  }

  /** Commit: write manifest JSON, then atomically flip version-hint.
    * Write-temp-then-rename gives the same crash-atomicity Iceberg's
    * catalog swap provides on a local FS. */
  def commit(root: String, snap: Snapshot): Unit = {
    val snapDir = Paths.get(root, "snapshots")
    Files.createDirectories(snapDir)
    val manifest = renderManifest(snap)
    val mPath = snapDir.resolve(s"v${snap.sequence}.json")
    writeAtomic(mPath, manifest.getBytes(UTF_8))
    writeAtomic(Paths.get(root, "version-hint.text"), snap.sequence.toString.getBytes(UTF_8))
  }

  /** (dataDir, rowCount, replaces) of snapshot `seq`, straight from its
    * manifest — the per-snapshot handle sidecar emitters (WET catch-up)
    * need without re-running dataDirs' whole-chain walk. */
  def snapshotInfo(root: String, seq: Int): (String, Long, Long) = {
    val m = readManifest(root, seq)
    (parseStringField(m, "data_dir"),
      parseLongField(m, "row_count"),
      parseLongField(m, "replaces"))
  }

  /** Relocation-tolerant data-dir resolution, the ONE policy every
    * consumer (reads, incremental reads, expiry, sidecar catch-up)
    * shares: manifests record the data_dir as written at commit time,
    * so a store that was MOVED or COPIED wholesale (cache promotion,
    * table rename, volume migration) carries stale absolute paths. The
    * layout is canonical — <root>/data/<basename> — so the dir under
    * the CURRENT root wins whenever it exists; the recorded path is
    * only trusted as a fallback (a store that genuinely keeps data
    * outside root/data). Preferring the current root also means a
    * copy-based migration never reads from — or lets expiry DELETE —
    * the source table's dirs. None = genuinely missing everywhere. */
  def resolveDataDir(root: String, dir: String): Option[String] = {
    val relocated = Paths.get(root, "data",
      Paths.get(dir).getFileName.toString).toString
    if (Files.exists(Paths.get(relocated))) Some(relocated)
    else if (Files.exists(Paths.get(dir))) Some(dir)
    else None
  }

  def readManifest(root: String, seq: Int): String = {
    new String(Files.readAllBytes(Paths.get(root, "snapshots", s"v$seq.json")), UTF_8)
  }

  /** Single-file publish: write a sibling temp file, then rename it over
    * `target` (manifests, the version hint, consumer checkpoints). */
  private[job] def writeAtomic(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.createDirectories(target.getParent)
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def renderManifest(s: Snapshot): String = {
    val parts = s.partitions.map { p =>
      s"""{"partition_id":${p.partitionId},"row_count":${p.rowCount},"error_count":${p.errorCount},"warc_ts_min":${p.warcTsMin},"warc_ts_max":${p.warcTsMax}}"""
    }.mkString("[", ",", "]")
    val inputs = s.inputFiles.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    s"""{"sequence":${s.sequence},"parent":${s.parent},"extraction_version":"${esc(s.extractionVersion)}","routing":"${esc(s.routing)}","replaces":${s.replaces},"data_dir":"${esc(s.dataDir)}","row_count":${s.rowCount},"partitions":$parts,"input_files":$inputs}"""
  }

  /** The chain's identity — (routing mode, extraction version) — read
    * in ONE manifest pass (each commit guard needs both; two separate
    * walks doubled per-commit manifest I/O on long streaming chains).
    * A snapshot pins the identity iff it committed rows OR consumed
    * input files: consumed files matter even at 0 rows, because resume
    * skips them forever — a new kernel re-running over a chain whose
    * 0-row snapshot already consumed (say) unparseable segments would
    * otherwise silently never re-extract them. Only the pure
    * bootstrap/no-op snapshot (0 rows, 0 inputs) pins nothing, so an
    * EMPTY outRoot survives kernel upgrades. Manifests older than the
    * routing field read as "strict", the historical default. A chain
    * mixing either field across pinning snapshots is a corruption of
    * the byte-identity contract and is reported as such. */
  def chainIdentity(root: String): (Option[String], Option[String]) = {
    val seq = currentSequence(root)
    val rowBearing = (1 to seq).map(readManifest(root, _))
      .filter(m => parseLongField(m, "row_count") > 0 ||
        parseStringArray(m, "input_files").nonEmpty)
    def distinctOrThrow(vals: Seq[String], what: String): Option[String] =
      vals.distinct match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => throw new IllegalStateException(
          s"snapshot chain at $root mixes $what ${many.mkString(",")} — " +
            "the table violates the byte-identity contract; rebuild from a clean outRoot")
      }
    val routing = distinctOrThrow(rowBearing.map { m =>
      val r = parseStringField(m, "routing")
      if (r.isEmpty) "strict" else r
    }, "extraction routing modes")
    val version = distinctOrThrow(
      rowBearing.map(parseStringField(_, "extraction_version")).filter(_.nonEmpty),
      "extraction versions")
    (routing, version)
  }

  /** The extraction_version every row-bearing committed snapshot was
    * produced under — None for an empty chain. The kernel that produced
    * the bytes is part of the table's identity. */
  def committedExtractionVersion(root: String): Option[String] =
    chainIdentity(root)._2

  /** Routing mode of the committed table (see [[chainIdentity]]). */
  def committedRouting(root: String): Option[String] =
    chainIdentity(root)._1

  /** Union of input files consumed by all committed snapshots. */
  def committedInputFiles(root: String): Set[String] = {
    val seq = currentSequence(root)
    (1 to seq).flatMap { i =>
      val m = readManifest(root, i)
      parseStringArray(m, "input_files")
    }.toSet
  }

  /** Minimal extractor for a `"key":["a","b"]` JSON string array written
    * by renderManifest (escapes limited to \" \\ \\uXXXX). */
  private def parseStringArray(json: String, key: String): Seq[String] = {
    val k = "\"" + key + "\":["
    val i = json.indexOf(k)
    if (i < 0) return Nil
    var j = i + k.length
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder()
    var inStr = false
    var done = false
    while (!done && j < json.length) {
      val c = json.charAt(j)
      if (!inStr) {
        if (c == '"') { inStr = true; sb.setLength(0) }
        else if (c == ']') done = true
        j += 1
      } else {
        if (c == '\\' && j + 1 < json.length) {
          val e = json.charAt(j + 1)
          if (e == 'u' && j + 5 < json.length) {
            sb.append(Integer.parseInt(json.substring(j + 2, j + 6), 16).toChar)
            j += 6
          } else { sb.append(e); j += 2 }
        } else if (c == '"') { inStr = false; out += sb.toString; j += 1 }
        else { sb.append(c); j += 1 }
      }
    }
    out.toSeq
  }

  /** Single-writer guard: snapshot sequences are allocated by reading
    * version-hint, so two concurrent writers would both claim seq N+1
    * and the later manifest would silently orphan the earlier data.
    * A create-exclusive lock file (the local-FS stand-in for Iceberg's
    * catalog CAS) makes the race an explicit error instead. */
  def acquireLock(root: String): Unit = {
    val lock = Paths.get(root, "commit.lock")
    Files.createDirectories(lock.getParent)
    try {
      Files.write(lock,
        s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}".getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // read is racy: the holder may release between our failed create
        // and this read — report what we can without crashing on it
        val holder =
          try new String(Files.readAllBytes(lock), UTF_8)
          catch { case _: java.io.IOException => "released concurrently; retry" }
        throw new IllegalStateException(
          s"another writer holds $root/commit.lock ($holder); " +
            "if it crashed, delete the lock file to recover")
    }
  }

  def releaseLock(root: String): Unit =
    Files.deleteIfExists(Paths.get(root, "commit.lock"))

  /** Incremental (changelog) read window: data dirs of the rows ADDED
    * by snapshots `fromExclusive+1 .. to` — the Iceberg
    * incremental-scan analog a downstream consumer uses to process
    * only what arrived since its last checkpointed sequence, instead
    * of rescanning the whole table (the difference between O(batch)
    * and O(10^12) per consumption cycle).
    *
    * The store is append-only except compaction, and a compaction
    * snapshot (`replaces` > 0) REWRITES existing rows without adding
    * any — so it contributes nothing to a change window (Iceberg's
    * incremental reads skip replace/rewrite snapshots the same way).
    * Zero-row snapshots (idempotent no-op resumes) also contribute
    * nothing. An out-of-range window is an ERROR, never a clamp; a
    * window whose dirs were reclaimed by [[expireReplaced]] fails the
    * same missing-dir integrity check as [[dataDirs]]. */
  def changedDataDirs(root: String, fromExclusive: Int, to: Int): Seq[String] = {
    val current = currentSequence(root)
    require(fromExclusive >= 0 && to <= current && fromExclusive <= to,
      s"invalid change window ($fromExclusive, $to] at $root (committed: 1..$current)")
    (fromExclusive + 1 to to).flatMap { i =>
      val m = readManifest(root, i)
      val dir = parseStringField(m, "data_dir")
      val rows = parseLongField(m, "row_count")
      if (rows > 0 && dir.nonEmpty && parseLongField(m, "replaces") == 0L) {
        Some(resolveDataDir(root, dir).getOrElse(throw new IllegalStateException(
          s"snapshot v$i at $root commits $rows rows but its data dir $dir is missing — " +
            "expired or externally deleted; incremental reads over expired snapshots " +
            "must restart from a full scan at the compaction boundary")))
      } else None
    }
  }

  /** Sequence of the latest compaction snapshot (replaces > 0), 0 if
    * the chain has never been compacted. */
  def latestCompaction(root: String): Int =
    (currentSequence(root) to 1 by -1)
      .find(i => parseLongField(readManifest(root, i), "replaces") > 0)
      .getOrElse(0)

  /** Reclaim the space of snapshots rewritten by the LATEST compaction:
    * deletes their data dirs. Manifests are KEPT — file-level resume
    * bookkeeping (input_files unions) and lineage history stay intact,
    * exactly like Iceberg's expire_snapshots dropping data files while
    * metadata history survives. After expiry, time travel BELOW the
    * compaction boundary fails the [[dataDirs]] integrity check
    * explicitly instead of returning partial data; reads at or above
    * the boundary are untouched (they never descend past it).
    * Returns the deleted dirs. */
  def expireReplaced(root: String): Seq[String] = {
    val c = latestCompaction(root)
    if (c == 0) return Nil
    val r = parseLongField(readManifest(root, c), "replaces").toInt
    val dirs = (1 to r).flatMap { i =>
      val m = readManifest(root, i)
      val dir = parseStringField(m, "data_dir")
      if (dir.nonEmpty && parseLongField(m, "row_count") > 0)
        // current-root-first resolution: a moved store reclaims its
        // OWN dirs, and a copy-migrated store never deletes the
        // source table's data (already-gone dirs have nothing to do)
        resolveDataDir(root, dir)
      else None
    }.distinct
    dirs.foreach(deleteRecursively)
    dirs
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }

  def listFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(f => f.toString.endsWith(".parquet")).map(_.toString).toSeq
  }
}
