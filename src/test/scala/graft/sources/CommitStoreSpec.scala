package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** The commit-atomicity seam: every publish path of the one commit
  * loop must serialize through ANY [[CommitStore]] whose version claim
  * is fail-closed — including an object-store-shaped one whose
  * "rename" is copy+delete (non-atomic data movement) and whose claims
  * spuriously fail (a racing conditional put) — and faults at the seam
  * (a throwing hint publish, a competing commit) must fail loudly or
  * not at all. The POSIX default's put-if-absent contract is pinned
  * directly. */
class CommitStoreSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def df(t: (Long, Long, String)*): DataFrame =
    t.toDF("id", "price", "tag")

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("PosixCommitStore.publishVersion is put-if-absent: an existing " +
      "version loses the claim and the staging dir survives for rebase") {
    val root = Files.createTempDirectory("cs_posix_")
    Files.createDirectories(root.resolve("v=0"))
    val staged = Files.createTempDirectory(root, "_staging_")
    Files.write(staged.resolve("part-x.parquet"), Array[Byte](1, 2, 3))
    assert(!PosixCommitStore.publishVersion(root, staged, 0L),
      "claiming an existing version must fail closed")
    assert(Files.isDirectory(staged) &&
      Files.exists(staged.resolve("part-x.parquet")),
      "a lost claim must leave the staged output intact for the retry")
    assert(PosixCommitStore.publishVersion(root, staged, 1L))
    assert(Files.exists(root.resolve("v=1").resolve("part-x.parquet")))
    assert(Files.notExists(staged))
  }

  test("publishFile replaces atomically and leaves no sweepable temp") {
    val root = Files.createTempDirectory("cs_hint_")
    val target = root.resolve("_graft_latest")
    PosixCommitStore.publishFile(target, "7".getBytes)
    assert(new String(Files.readAllBytes(target)) === "7")
    PosixCommitStore.publishFile(target, "8".getBytes)
    assert(new String(Files.readAllBytes(target)) === "8")
    val stream = Files.list(root)
    val leftovers =
      try {
        val it = stream.iterator()
        var acc = List.empty[String]
        while (it.hasNext) acc ::= it.next().getFileName.toString
        acc.filter(_.endsWith(".tmp"))
      } finally stream.close()
    assert(leftovers.isEmpty, s"tmp leftovers: $leftovers")
  }

  // the 4-writer serialization test, over the POSIX default and the
  // object-store sim (whose spurious losses force the rebase loop)
  Seq[(String, () => CommitStore)](
    "PosixCommitStore" -> (() => PosixCommitStore),
    "a copy+delete object-store sim with racing claims (the claim loop, " +
      "not rename, is the truth)" -> (() => new ObjectStoreSim(spuriousLosses = 3))
  ).foreach { case (label, mkStore) =>
    test(s"concurrent appends serialize through $label") {
      val store = mkStore()
      CommitStore.withStore(store) {
        val root = Files.createTempDirectory("cs_conc_").toString
        df((0L, 0L, "base")).write.format("graft-versioned")
          .option("create", "true").mode("append").save(root)
        val schema = df((0L, 0L, "")).schema
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = (1 to 4).map { i =>
          new Thread(() => {
            try {
              val bw = new GraftBatchWrite(root, schema, replace = false,
                commitTs = Some(1000L + i), queryId = s"cs$i")
              val w = bw.createBatchWriterFactory(null).createWriter(0, i.toLong)
              w.write(org.apache.spark.sql.catalyst.InternalRow(
                i.toLong, i * 10L,
                org.apache.spark.unsafe.types.UTF8String.fromString(s"w$i")))
              bw.commit(Array(w.commit()))
            } catch { case t: Throwable => errors.add(t) }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join(60000))
        assert(errors.isEmpty, s"concurrent commit failed: ${errors.peek()}")
        // 1 bootstrap + 4 appends serialized into distinct versions; the
        // final snapshot holds every writer's row plus the base — no
        // append was lost to a stale prev-link
        assert(Versioned.versions(root) === Seq(0L, 1L, 2L, 3L, 4L))
        assert(rows(Versioned.read(spark, root)) === rows(df(
          (0L, 0L, "base"), (1L, 10L, "w1"), (2L, 20L, "w2"),
          (3L, 30L, "w3"), (4L, 40L, "w4"))))
        store match {
          case sim: ObjectStoreSim =>
            assert(sim.lostClaims.get() >= 3,
              "the spurious losses must have exercised the rebase loop")
            // every version's content came through the copy+delete
            // path — the sim, not posix rename, published them all
            assert(sim.claims.size() === 5)
          case _ =>
        }
      }
    }
  }

  test("row-level commits rebase through the sim exactly as on POSIX " +
      "(disjoint DV deletes both land)") {
    val sim = new ObjectStoreSim(spuriousLosses = 1)
    CommitStore.withStore(sim) {
      val root = Files.createTempDirectory("cs_rl_").toString
      df((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .repartition(3, $"id").write.format("graft-versioned")
        .option("create", "true").mode("append").save(root)
      import org.apache.spark.sql.functions.col
      VersionedWriteIo.deleteViaDv(spark, root, col("id") === 1L)
      VersionedWriteIo.deleteViaDv(spark, root, col("id") === 3L)
      assert(rows(Versioned.read(spark, root)) === rows(df((2L, 20L, "b"))))
      assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    }
  }

  // restore, clone, convert and writeNext publish through the same
  // loop as the DSv2 commits. Each case seeds under the POSIX default
  // and returns (root, the publish under test, expected rows); the
  // publish then runs under a sim whose first claim is lost
  private def seeded(tag: String): String = {
    val root = Files.createTempDirectory(s"cs_${tag}_").toString
    Versioned.writeNext(df((1L, 10L, "a"), (2L, 20L, "b")), root, Some(1000L))
    Versioned.writeNext(df((3L, 30L, "c")), root, Some(2000L))
    root
  }

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"cs_${tag}_").resolve("t").toString

  Seq[(String, () => (String, () => Long, Seq[String]))](
    "restoreTo" -> { () =>
      val root = seeded("restore")
      (root, () => Versioned.restoreTo(root, 0L, Some(3000L)),
        Seq("[1,10,a]", "[2,20,b]"))
    },
    "cloneTo" -> { () =>
      val (src, dst) = (seeded("clone"), freshDir("clone_dst"))
      (dst, () => { Versioned.cloneTo(src, dst, srcVersion = Some(0L)); 0L },
        Seq("[1,10,a]", "[2,20,b]"))
    },
    "convertFrom" -> { () =>
      val (dir, dst) = (freshDir("convert_src"), freshDir("convert_dst"))
      df((5L, 50L, "e")).write.parquet(dir)
      (dst, () => Versioned.convertFrom(dir, dst), Seq("[5,50,e]"))
    },
    "writeNext" -> { () =>
      val root = seeded("next")
      (root, () => Versioned.writeNext(df((4L, 40L, "d")), root),
        Seq("[4,40,d]"))
    }
  ).foreach { case (path, setup) =>
    test(s"$path publishes through the CommitStore and survives a lost claim") {
      val (root, publish, expected) = setup()
      val sim = new ObjectStoreSim(spuriousLosses = 1)
      val v = CommitStore.withStore(sim)(publish())
      assert(sim.lostClaims.get() === 1, "the lost claim must have been retried")
      assert(sim.claimed(root, v), s"v=$v must publish through the store's claim")
      assert(Versioned.latestVersion(root) === Some(v))
      assert(rows(Versioned.read(spark, root)) === expected)
    }
  }

  test("a won claim whose hint publish throws still commits; the next " +
      "commit lands after it") {
    val root = Files.createTempDirectory("cs_hint_fault_").toString
    Versioned.writeNext(df((1L, 10L, "a")), root)
    val hintFails = new FaultyPosixStore(_.getFileName.toString == "_graft_latest")
    CommitStore.withStore(hintFails) {
      assert(Versioned.writeNext(df((2L, 20L, "b")), root) === 1L)
      df((3L, 30L, "c")).write.format("graft-versioned")
        .mode("append").save(root)
    }
    // the hint still says v=0: resolution probes past it
    assert(new String(Files.readAllBytes(Paths.get(root, "_graft_latest"))) === "0")
    assert(Versioned.latestVersion(root) === Some(2L))
    assert(Versioned.writeNext(df((4L, 40L, "d")), root) === 3L)
    assert(rows(Versioned.read(spark, root, Some(2L))) ===
      Seq("[2,20,b]", "[3,30,c]"))
  }

  test("restoreTo against a real competing commit fails loudly, naming the root") {
    val root = seeded("restore_race")
    val racer = new FaultyPosixStore(_ => false)
    // a competing writer commits v=2 just before the restore's claim
    racer.beforeClaim = () => {
      racer.beforeClaim = () => ()
      Versioned.writeNext(df((9L, 90L, "z")), root)
    }
    val e = intercept[IllegalStateException] {
      CommitStore.withStore(racer)(Versioned.restoreTo(root, 0L))
    }
    assert(e.getMessage.contains(s"concurrent commit under $root"), e.getMessage)
    // the competitor's commit stands; the restore left nothing behind
    assert(Versioned.versions(root) === Seq(0L, 1L, 2L))
    assert(rows(Versioned.read(spark, root)) === Seq("[9,90,z]"))
    val left = Files.list(Paths.get(root))
    try assert(!left.iterator().asScala.exists(
      _.getFileName.toString.startsWith("_staging")))
    finally left.close()
  }

  test("two writeNext racing for one version both commit (no overwrite)") {
    val root = seeded("next_race")
    val racer = new FaultyPosixStore(_ => false)
    racer.beforeClaim = () => {
      racer.beforeClaim = () => ()
      Versioned.writeNext(df((7L, 70L, "x")), root)
    }
    val v = CommitStore.withStore(racer)(
      Versioned.writeNext(df((8L, 80L, "y")), root))
    // the racer took v=2; the loser retried onto v=3 instead of
    // deleting the racer's committed version
    assert(v === 3L)
    assert(rows(Versioned.read(spark, root, Some(2L))) === Seq("[7,70,x]"))
    assert(rows(Versioned.read(spark, root, Some(3L))) === Seq("[8,80,y]"))
  }
}
