package graft.operators

import java.nio.file.{Files, Path}

/** Merge-on-read DELETION VECTORS for the version store — the sidecar
  * format + lifecycle helpers behind `deletionVectors=true` tables.
  *
  * A DV-mode DELETE does not rewrite any data file: the new version
  * HARD-LINKS every data file of the old one and adds (or extends) a
  * per-file sidecar naming the deleted ROW POSITIONS; readers skip
  * those positions at scan time. A one-row DELETE on a 1 GB file costs
  * one tiny sidecar write instead of a 1 GB rewrite — the Delta/Iceberg
  * answer to file-rewrite amplification on point-mutation workloads
  * (the reference's cleanup deletes run per-record,
  * del_unuse_record_in_mrestate.py:17-19, del_unuse_record_in_kilid.py:
  * 20-24 — exactly the shape copy-on-write punishes).
  * `sys.compact` materializes DVs away (the rewrite drops dead rows and
  * carries no sidecars).
  *
  * Layout: `v=N/_dv/<dataFileName>.dv` (underscore dir — invisible to
  * Spark's own file index and to [[Versioned.listParquet]]). The commit
  * manifest (`_graft_files`) lists sidecars as `d <name>` lines, so a
  * stray alien `.dv` is as invisible as a stray data file.
  *
  * Encoding: magic `GDV1`, row-position count, then the positions as
  * sorted distinct big-endian longs. Positions are absolute row
  * ordinals within the data file (row-group start index + offset in
  * group). 8 bytes/deleted row is the right trade for the
  * point-delete workloads DVs exist for; a dense-delete workload
  * should prefer copy-on-write (and a bitmap encoding can slot in
  * behind the magic header without touching callers). File names are
  * immutable across versions (hard-links carry names), so a sidecar
  * keyed by data-file name stays valid for every commit that carries
  * the file forward.
  */
object DeletionVectors {

  private val Magic = 0x47445631 // "GDV1"

  val DvDirName = "_dv"
  val Suffix = ".dv"

  def dvDir(vdir: Path): Path = vdir.resolve(DvDirName)

  def dvPath(vdir: Path, dataFileName: String): Path =
    dvDir(vdir).resolve(dataFileName + Suffix)

  /** data file name ← its sidecar name ("x.parquet.dv" → "x.parquet"). */
  def dataNameOf(dvName: String): String = dvName.stripSuffix(Suffix)

  /** Sorted distinct deleted positions of one sidecar. */
  def read(p: Path): Array[Long] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(p)))
    try {
      val magic = in.readInt()
      require(magic == Magic,
        s"graft-versioned: $p is not a deletion vector (magic $magic)")
      val n = in.readInt()
      require(n >= 0, s"graft-versioned: corrupt deletion vector $p (count $n)")
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = in.readLong(); i += 1 }
      out
    } finally in.close()
  }

  /** Number of deleted positions — header-only read, O(1). */
  def cardinality(p: Path): Long = {
    val in = new java.io.DataInputStream(Files.newInputStream(p))
    try {
      require(in.readInt() == Magic,
        s"graft-versioned: $p is not a deletion vector")
      in.readInt().toLong
    } finally in.close()
  }

  def write(p: Path, positions: Array[Long]): Unit = {
    Files.createDirectories(p.getParent)
    val sorted = positions.distinct.sorted
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(p)))
    try {
      out.writeInt(Magic)
      out.writeInt(sorted.length)
      sorted.foreach(out.writeLong)
    } finally out.close()
  }

  /** The version's sidecars, data-file-name → sidecar path:
    * manifest-resolved when the commit wrote one (stray sidecars
    * invisible), `_dv` listing otherwise. */
  def dvMap(vdir: Path): Map[String, Path] =
    Versioned.manifestEntries(vdir) match {
      case Some((_, dvNames)) => dvNames.map { n =>
        val p = dvDir(vdir).resolve(n)
        require(Files.exists(p),
          s"graft-versioned: manifest of $vdir lists missing deletion " +
            s"vector '$n' — the commit is corrupt")
        dataNameOf(n) -> p
      }.toMap
      case None =>
        val d = dvDir(vdir)
        if (!Files.isDirectory(d)) Map.empty
        else {
          val stream = Files.list(d)
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala
              .filter(_.getFileName.toString.endsWith(Suffix))
              .map(p => dataNameOf(p.getFileName.toString) -> p)
              .toMap
          } finally stream.close()
        }
    }

  def hasDvs(vdir: Path): Boolean = dvMap(vdir).nonEmpty

  /** Carry EVERY sidecar of `srcVdir` into `stagedVdir` (restore/clone
    * paths — the file set transfers unchanged, so the DVs must too).
    * Returns the carried sidecar names for the staged manifest. */
  def carryAll(srcVdir: Path, stagedVdir: Path): Seq[String] =
    carry(dvMap(srcVdir).values.toSeq, stagedVdir)

  /** Carry only the sidecars of the named CARRIED data files
    * (row-level commit paths: replaced files get fresh content, so
    * their old DVs must NOT follow). Returns carried sidecar names. */
  def carryFor(srcVdir: Path, stagedVdir: Path,
               carriedDataNames: Set[String]): Seq[String] =
    carry(dvMap(srcVdir).collect {
      case (dataName, src) if carriedDataNames(dataName) => src
    }.toSeq, stagedVdir)

  private def carry(srcs: Seq[Path], stagedVdir: Path): Seq[String] = {
    if (srcs.nonEmpty) Files.createDirectories(dvDir(stagedVdir))
    srcs.map(graft.sources.VersionedWriteIo.linkInto(_, dvDir(stagedVdir))
      .getFileName.toString)
  }

  def merge(existing: Array[Long], add: Array[Long]): Array[Long] =
    (existing ++ add).distinct.sorted
}
