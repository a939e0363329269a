package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

/** The COMMIT-ATOMICITY seam of the versioned store.
  *
  * Every transactional guarantee the format makes — serialized
  * multi-writer appends, file-level conflict rebase, torn-write-free
  * metadata — reduces to three storage primitives, isolated here so
  * the POSIX assumptions live in ONE class. Every version publish —
  * DSv2 appends, overwrites, streaming epochs, row-level and delta
  * commits, restore, clone, convert and `Versioned.writeNext` — runs
  * through the one commit loop [[VersionedWriteIo.commit]], which
  * claims through [[publishVersion]]; every small metadata file (latest
  * hint, tags, protocol, checkpoint, row-id mark, catalog manifests)
  * publishes through [[publishFile]]:
  *
  *  1. [[CommitStore.publishVersion]] — publish a fully-staged
  *     directory as `v=N` iff nobody else has: the put-if-absent that
  *     serializes writers (Delta's LogStore `write(..., overwrite =
  *     false)` contract).
  *  2. [[CommitStore.publishFile]] — replace a small metadata file
  *     (latest hint, tags, protocol) so readers see old or new bytes,
  *     never a torn write. Last-writer-wins by design.
  *  3. [[CommitStore.listVersions]] — enumerate the committed log.
  *
  * The default [[PosixCommitStore]] implements 1–2 with same-filesystem
  * atomic rename — correct on POSIX filesystems and on rename-atomic
  * stores (HDFS, ABFS, GCS). On S3-class stores rename is neither
  * atomic nor cheap and `v=N` claims race: a deployment there supplies
  * a store whose [[CommitStore.publishVersion]] claims the version
  * through a conditional put / coordinator (the S3+DynamoDB LogStore
  * answer, or S3's If-None-Match conditional PUT) and moves the data
  * non-atomically AFTER the claim — the commit loop only requires the
  * CLAIM to be atomic and fail-closed, never the data movement
  * (CommitStoreSpec proves serialization under exactly such a store
  * for every publish path). Install via
  * [[CommitStore.withStore]] (scoped) or [[CommitStore.install]]
  * (process-wide, at session bring-up).
  */
trait CommitStore {

  /** Atomically CLAIM and publish `staged` as `root/v=<version>`:
    * returns true when this writer won the claim, false when the
    * version already exists or was claimed concurrently — the caller
    * re-reads the log and rebases (the optimistic-concurrency loop).
    * Requirements: fail-closed (two callers of the same version never
    * both see true) and claim-atomic; after true, readers of the log
    * must be able to resolve the version. */
  def publishVersion(root: Path, staged: Path, version: Long): Boolean

  /** Atomically replace a small metadata file: readers observe the old
    * or the new content, never a torn write. Last-writer-wins. */
  def publishFile(target: Path, bytes: Array[Byte]): Unit

  /** COMMITTED version numbers under a root, ascending — the log
    * listing. On a store whose data movement is non-atomic this must
    * report only versions whose publish COMPLETED (the claim record is
    * the truth); a raw directory listing would surface half-copied
    * versions to concurrent committers. */
  def listVersions(root: Path): Seq[Long]

  /** Latest committed version. Stores with a cheaper resolution than a
    * full listing (the POSIX hint probe) override this. */
  def latestVersion(root: Path): Option[Long] = listVersions(root).lastOption
}

/** Same-filesystem implementation: `Files.move(ATOMIC_MOVE)` is both
  * the claim and the data movement (rename into an existing `v=N`
  * fails, and the moved directory appears all-or-nothing). */
object PosixCommitStore extends CommitStore {

  override def publishVersion(root: Path, staged: Path,
                              version: Long): Boolean = {
    val target = root.resolve(s"v=$version")
    // fail-closed pre-check: POSIX rename(2) silently REPLACES an
    // existing EMPTY target directory, which would un-commit a claim.
    // A real commit is never empty (manifest + files land atomically
    // with it), so this only hardens the contract — the rename below
    // still atomically rejects the non-empty race
    if (Files.exists(target)) return false
    try {
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      // v=N claimed concurrently — the caller re-checks and rebases
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.FileSystemException => false
    }
  }

  override def publishFile(target: Path, bytes: Array[Byte]): Unit =
    Files.move(writeTemp(target, bytes), target,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

  /** The temp half of [[publishFile]], beside `target`: named
    * `_graft_*.tmp` so a crash between write and rename leaves only
    * what `sys.vacuum`'s temp sweeps remove. */
  private[graft] def writeTemp(target: Path, bytes: Array[Byte]): Path = {
    val tmp = Files.createTempFile(target.getParent,
      "_graft_" + target.getFileName.toString + "_", ".tmp")
    Files.write(tmp, bytes)
  }

  // on POSIX the rename IS atomic, so the directory listing is the log
  override def listVersions(root: Path): Seq[Long] =
    graft.operators.Versioned.listVersionsPosix(root.toString)

  override def latestVersion(root: Path): Option[Long] =
    graft.operators.Versioned.latestVersionPosix(root.toString)
}

object CommitStore {
  @volatile private var current: CommitStore = PosixCommitStore

  /** The process-wide store every commit path routes through. */
  def active: CommitStore = current

  /** Process-wide install (deployment bring-up). */
  def install(store: CommitStore): Unit = { current = store }

  /** Scoped install — the test hook; restores the previous store. */
  def withStore[T](store: CommitStore)(body: => T): T = {
    val prev = current
    current = store
    try body finally current = prev
  }
}
