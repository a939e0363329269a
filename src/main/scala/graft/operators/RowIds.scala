package graft.operators

import java.nio.file.{Files, Path, Paths}

/** ROW TRACKING (Delta's rowTracking feature): every row of a
  * row-tracking table carries a stable long `_row_id`, assigned once
  * at commit and preserved across the operations that do not
  * logically change the row — appends elsewhere, merge-on-read
  * deletes/updates (the row's file hard-links through), compaction
  * and copy-on-write rewrites (the id MATERIALIZES into the rewritten
  * file as a physical `_graft_row_id` column). Row ids are the
  * substrate of row-level lineage: an incremental consumer can ask
  * "which ROWS changed" instead of diffing by business key.
  *
  * Representation:
  *   - `_graft_rowids` sidecar per version dir: the commit's row-id
  *     high-water mark plus one line per data file — its BASE row id
  *     (derived ids are `base + _pos`) and whether the file
  *     materializes ids physically. Written inside the files-manifest
  *     funnel BEFORE the manifest (the commit's visibility point), so
  *     a visible commit always carries its row-id facts; carried
  *     (hard-linked) files keep their entries verbatim — commit cost
  *     is O(new files), like the stats sidecar.
  *   - `_graft_rowid_hwm` at the table root: the global high-water
  *     mark, advanced monotonically at every assignment. It survives
  *     ROLLBACK and RESTORE (which resurrect OLD sidecar entries), so
  *     a dropped version's ids are never reissued — Delta's
  *     rowIdHighWaterMark rationale. Gaps are legal; reuse never is.
  *   - fresh files are assigned bases in sorted-name order (the
  *     manifest order) from the commit's starting mark — deterministic
  *     given the file set, no executor coordination.
  *
  * Feature gating: `row-tracking` is a WRITER feature
  * ([[Versioned.SupportedWriterFeatures]]) — a build that ignored it
  * would commit files without id assignments and break lineage, but
  * READING the data columns stays legal everywhere (ids are opt-in
  * metadata), so no reader feature is flagged. Reference shape: the
  * pipeline's Mongo `_id`-keyed idempotent upserts
  * (mongodb_utils.py:21-37) lean on exactly this kind of stable
  * per-row identity to reconcile increments.
  */
object RowIds {

  /** Per-version sidecar name. Line 1: `hwm <n>`; then one
    * `b <base> <ver> <name>` (derived: id = base + position, every row
    * stamped with adding-commit `ver`) or `m <base> <ver> <name>`
    * (file materializes `_graft_row_id`/`_graft_row_ver` physically)
    * per file. */
  private[graft] val Sidecar = "_graft_rowids"

  /** Writer-feature name in the table protocol. */
  val Feature = "row-tracking"

  /** Physical column name a REWRITE materializes ids under. Hidden
    * from every schema-inference surface (engine-internal prefix). */
  val MaterializedCol = "_graft_row_id"

  /** Physical column a REWRITE materializes per-row COMMIT VERSIONS
    * under (Delta's row commit versions — the partner fact: WHICH
    * commit last created/modified the row, so an incremental consumer
    * can scan `_row_commit_version > N` instead of diffing). Derived
    * rows inherit their FILE's adding commit (a file's rows are
    * exactly the rows that commit created: appends create files,
    * merge-on-read updates insert new files, DV deletes touch no
    * surviving row); rewrites carry the per-row value. */
  val MaterializedVerCol = "_graft_row_ver"

  /** Root-level monotone high-water mark file. */
  private[graft] val HwmFile = "_graft_rowid_hwm"

  /** base row id, the commit version that added the file's rows, and
    * whether the file materializes per-row ids/versions physically. */
  final case class Entry(base: Long, ver: Long, materialized: Boolean)

  def enabled(root: String): Boolean =
    Versioned.writerFeatures(root).contains(Feature)

  /** (commit high-water mark, file → entry) of one version dir; None
    * when the version predates row tracking. Line format after the
    * `hwm <n>` head: `b|m <base> <ver> <name>`. */
  def read(vdir: Path): Option[(Long, Map[String, Entry])] = {
    val p = vdir.resolve(Sidecar)
    if (!Files.exists(p)) return None
    val lines = new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    require(lines.nonEmpty && lines.head.startsWith("hwm "),
      s"graft-versioned: malformed row-id sidecar in $vdir")
    val hwm = lines.head.drop(4).trim.toLong
    val entries = lines.tail.filter(_.nonEmpty).map { l =>
      val kind = l.charAt(0)
      require((kind == 'b' || kind == 'm') && l.charAt(1) == ' ',
        s"graft-versioned: malformed row-id line '$l' in $vdir")
      val rest = l.drop(2)
      val parts = rest.split(" ", 3)
      require(parts.length == 3,
        s"graft-versioned: malformed row-id line '$l' in $vdir")
      parts(2) -> Entry(parts(0).toLong, parts(1).toLong, kind == 'm')
    }.toMap
    Some((hwm, entries))
  }

  private def writeSidecar(vdir: Path, hwm: Long,
                           entries: Seq[(String, Entry)]): Unit = {
    val body = (s"hwm $hwm" +: entries.sortBy(_._1).map { case (n, e) =>
      s"${if (e.materialized) "m" else "b"} ${e.base} ${e.ver} $n"
    }).mkString("\n")
    Files.write(vdir.resolve(Sidecar),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // root hwm: read-modify-write of one small file, serialized in the
  // driver JVM and published atomically (the protocol-file
  // discipline) — two concurrent commits advancing it cannot lose an
  // advance, and a reader never sees a torn value
  private val hwmLock = new Object

  private[graft] def rootHwm(root: Path): Long = {
    val p = root.resolve(HwmFile)
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  private def advanceRootHwm(root: Path, to: Long): Unit =
    hwmLock.synchronized {
      if (to > rootHwm(root))
        graft.sources.CommitStore.active.publishFile(root.resolve(HwmFile),
          to.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Commit hook, run inside the files-manifest funnel AFTER the stats
    * sidecar lands and BEFORE the manifest (the visibility point):
    * carry entries for files the base version already tracks, assign
    * fresh bases to new files in sorted-name order starting at the
    * monotone mark, flag files that materialize ids (detected from the
    * just-written stats sidecar's column-presence markers — no extra
    * footer reads), and advance the root mark. New files belong to
    * `commitVer`, the version the commit is about to claim. */
  private[graft] def commit(root: Path, vdir: Path, dataNames: Seq[String],
                            carryFrom: Option[Path], commitVer: Long): Unit = {
    val carriedState = carryFrom.flatMap(read)
    val carried = carriedState.map(_._2).getOrElse(Map.empty)
    val stats = FileStats.read(vdir)
    val freshStats = dataNames.sorted.filterNot(carried.contains).map {
      n => n -> stats.getOrElse(n, FileStats.collect(vdir.resolve(n)))
    }
    // reserve the commit's whole id range atomically: read the root
    // mark AND advance it past every fresh row inside ONE critical
    // section, so two concurrent assignments (a bootstrap racing an
    // INSERT, or any pair of commit paths) can never hand out
    // overlapping bases — bases are then assigned from the reserved
    // [start, start+totalFresh) range with the lock released
    val totalFresh = freshStats.map(_._2.rows).sum
    val start = hwmLock.synchronized {
      val base = math.max(carriedState.map(_._1).getOrElse(0L),
        rootHwm(root))
      advanceRootHwm(root, base + totalFresh)
      base
    }
    var hwm = start
    val freshEntries = freshStats.map { case (n, st) =>
      val e = Entry(hwm, commitVer, st.cols.contains(MaterializedCol))
      hwm += st.rows
      n -> e
    }.toMap
    val entries = dataNames.sorted.map { n =>
      n -> carried.getOrElse(n, freshEntries(n))
    }
    writeSidecar(vdir, hwm, entries)
  }

  /** Bootstrap at feature-enable time: assign ids to the CURRENT
    * version's files (history before enablement has no ids — reading
    * `_row_id` on a pre-enablement snapshot refuses loudly at scan
    * time). No-op when the current version already has a sidecar. */
  def bootstrap(root: String): Unit = {
    Versioned.latestVersion(root).foreach { v =>
      val vdir = Paths.get(root, s"v=$v")
      if (read(vdir).isEmpty)
        commit(Paths.get(root), vdir,
          Versioned.dataFiles(vdir).map(_.getFileName.toString),
          carryFrom = None, commitVer = v)
    }
  }

  /** File → entry of the version dir, for scan planning; empty when
    * the version predates row tracking. */
  def baseMap(vdir: Path): Map[String, Entry] =
    read(vdir).map(_._2).getOrElse(Map.empty)
}
