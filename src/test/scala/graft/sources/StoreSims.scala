package graft.sources

import java.nio.file.{Files, Path}

import graft.operators.Versioned

/** Object-store emulation (the S3+coordinator shape): the version
  * CLAIM is a putIfAbsent on a concurrent map (the conditional put /
  * DynamoDB LogStore entry — the only atomic primitive assumed), the
  * data then moves by per-file COPY + DELETE — deliberately not a
  * rename, and deliberately after the claim. `spuriousLosses` makes
  * the first N claims report "lost" even when free, forcing the
  * callers' rebase loops to run. */
final class ObjectStoreSim(spuriousLosses: Int) extends CommitStore {
  val claims = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  // a version is COMMITTED when its copy finished — the claim record,
  // not the directory listing, is the log (the seam's list contract)
  val completed = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private val spurious =
    new java.util.concurrent.atomic.AtomicInteger(spuriousLosses)
  val lostClaims = new java.util.concurrent.atomic.AtomicInteger(0)

  private def key(root: Path, version: Long): String =
    root.resolve(s"v=$version").toString

  /** Did `root/v=<version>` publish through this store's claim? */
  def claimed(root: String, version: Long): Boolean =
    claims.containsKey(key(java.nio.file.Paths.get(root), version))

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    if (spurious.getAndUpdate(x => math.max(0, x - 1)) > 0) {
      lostClaims.incrementAndGet()
      return false
    }
    val target = root.resolve(s"v=$version")
    val won = Files.notExists(target) &&
      claims.putIfAbsent(key(root, version), true) == null
    if (!won) { lostClaims.incrementAndGet(); return false }
    // non-atomic data movement AFTER the atomic claim: copy the
    // staged tree file by file, then delete the staging dir; a
    // racing lister must not see this half-copied dir as committed
    Files.createDirectories(target)
    val stream = Files.walk(staged)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val rel = staged.relativize(p)
        if (Files.isDirectory(p)) {
          if (rel.toString.nonEmpty)
            Files.createDirectories(target.resolve(rel.toString))
        } else Files.copy(p, target.resolve(rel.toString))
      }
    } finally stream.close()
    Versioned.deleteRecursively(staged)
    completed.put(key(root, version), true)
    true
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    PosixCommitStore.publishFile(target, bytes)

  // the log: every directory the sim didn't claim (pre-existing
  // history) plus claims whose copy COMPLETED — never an in-flight one
  override def listVersions(root: Path): Seq[Long] =
    PosixCommitStore.listVersions(root).filter { v =>
      val k = key(root, v)
      !claims.containsKey(k) || completed.containsKey(k)
    }

  override def latestVersion(root: Path): Option[Long] =
    listVersions(root).lastOption
}

/** The POSIX store with injected faults. `beforeClaim` runs ahead of
  * every version claim (a racing writer's commit lands there);
  * metadata files `failFile` selects crash between the temp write and
  * the rename — the temp stays behind, the publish throws. */
final class FaultyPosixStore(failFile: Path => Boolean) extends CommitStore {
  @volatile var beforeClaim: () => Unit = () => ()

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    beforeClaim()
    PosixCommitStore.publishVersion(root, staged, version)
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    if (!failFile(target)) PosixCommitStore.publishFile(target, bytes)
    else {
      PosixCommitStore.writeTemp(target, bytes)
      throw new IllegalStateException(
        s"injected crash publishing ${target.getFileName}")
    }

  override def listVersions(root: Path): Seq[Long] =
    PosixCommitStore.listVersions(root)

  override def latestVersion(root: Path): Option[Long] =
    PosixCommitStore.latestVersion(root)
}
