package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.{RowIds, Versioned}

/** Row tracking (Delta's rowTracking): stable `_row_id` assignment at
  * commit, preservation across appends and merge-on-read mutations,
  * monotone high-water mark across rollback, bootstrap on live
  * enablement, and the fail-loud matrix (pre-enablement snapshots,
  * reserved names). */
class RowTrackingSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_rowid_spec_").toString
    spark.conf.set("spark.sql.catalog.grid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grid.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grid.ns")
    w
  }

  private def sql(s: String): DataFrame = { warehouse; spark.sql(s) }

  private def ids(table: String): Map[Long, Long] =
    sql(s"SELECT id, _row_id FROM $table").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("appends assign dense, unique, monotone ids; reads are stable") {
    sql("DROP TABLE IF EXISTS grid.ns.rt1")
    sql("CREATE TABLE grid.ns.rt1 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt1 VALUES (1, 10), (2, 20)")
    val first = ids("grid.ns.rt1")
    assert(first.values.toSet.size === 2, "ids must be unique")
    sql("INSERT INTO grid.ns.rt1 VALUES (3, 30)")
    val second = ids("grid.ns.rt1")
    // earlier rows keep their ids; the new row gets a FRESH id
    assert(second.filter(_._1 <= 2) === first)
    assert(!first.values.toSet.contains(second(3L)))
    // stable across re-reads
    assert(ids("grid.ns.rt1") === second)
  }

  test("concurrent INSERTs reserve disjoint id ranges (atomic hwm)") {
    sql("DROP TABLE IF EXISTS grid.ns.rtc")
    sql("CREATE TABLE grid.ns.rtc (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    // N threads race their commits through the claim loop; the id
    // RANGE reservation is a separate critical section (RowIds.commit)
    // — whatever the interleaving, every committed row's id must be
    // unique, else two assignments overlapped
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (0 until 6).map { w =>
      Future {
        sql(s"INSERT INTO grid.ns.rtc " +
          s"SELECT id, id * 10 FROM RANGE(${w * 100}, ${w * 100 + 40}) " +
          s"AS t(id)")
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val all = ids("grid.ns.rtc")
    assert(all.size === 240, "every writer's rows must land")
    assert(all.values.toSet.size === 240,
      "row ids must be globally unique across racing commits")
  }

  test("merge-on-read DELETE: survivors keep their ids verbatim") {
    sql("DROP TABLE IF EXISTS grid.ns.rt2")
    sql("CREATE TABLE grid.ns.rt2 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    sql("INSERT INTO grid.ns.rt2 VALUES (1, 10), (2, 20), (3, 30)")
    val before = ids("grid.ns.rt2")
    sql("DELETE FROM grid.ns.rt2 WHERE id = 2")
    val after = ids("grid.ns.rt2")
    assert(after.keySet === Set(1L, 3L))
    assert(after === before.filter(_._1 != 2L),
      "surviving rows must keep their exact ids across a DV delete")
  }

  test("time travel WITHIN the tracked history keeps per-version ids") {
    sql("DROP TABLE IF EXISTS grid.ns.rt3")
    sql("CREATE TABLE grid.ns.rt3 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt3 VALUES (1, 10)")
    sql("INSERT INTO grid.ns.rt3 VALUES (2, 20)")
    val cur = ids("grid.ns.rt3")
    val v0 = sql("SELECT id, _row_id FROM grid.ns.rt3 VERSION AS OF 0")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v0 === cur.filter(_._1 == 1L),
      "the old snapshot's rows carry the same ids they have today")
  }

  test("enablement on a live table bootstraps the current version only") {
    sql("DROP TABLE IF EXISTS grid.ns.rt4")
    sql("CREATE TABLE grid.ns.rt4 (id BIGINT, v BIGINT) USING `graft-versioned`")
    sql("INSERT INTO grid.ns.rt4 VALUES (1, 10)") // v0: pre-enablement
    sql("INSERT INTO grid.ns.rt4 VALUES (2, 20)") // v1: pre-enablement
    sql("ALTER TABLE grid.ns.rt4 SET TBLPROPERTIES ('rowTracking'='true')")
    val cur = ids("grid.ns.rt4") // bootstrap covers the CURRENT version
    assert(cur.keySet === Set(1L, 2L))
    assert(cur.values.toSet.size === 2)
    // the pre-enablement snapshot has no ids — loud, never null
    val e = intercept[Exception] {
      sql("SELECT id, _row_id FROM grid.ns.rt4 VERSION AS OF 0").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("row"),
      s"expected a row-tracking refusal, got: ${e.getMessage}")
    // new inserts extend from the bootstrap mark without reuse
    sql("INSERT INTO grid.ns.rt4 VALUES (3, 30)")
    val withNew = ids("grid.ns.rt4")
    assert(withNew.filter(_._1 <= 2) === cur)
    assert(withNew.values.toSet.size === 3)
  }

  test("rollback never leads to id reuse (root mark is monotone)") {
    sql("DROP TABLE IF EXISTS grid.ns.rt5")
    sql("CREATE TABLE grid.ns.rt5 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt5 VALUES (1, 10)")
    sql("INSERT INTO grid.ns.rt5 VALUES (2, 20)")
    val dropped = ids("grid.ns.rt5")(2L)
    val root = s"$warehouse/ns/rt5"
    Versioned.rollback(root) // drops v=1 (the id-2 commit)
    sql("REFRESH TABLE grid.ns.rt5")
    sql("INSERT INTO grid.ns.rt5 VALUES (9, 90)")
    val after = ids("grid.ns.rt5")
    assert(after(9L) > dropped,
      s"rolled-back id $dropped must never be reissued, got ${after(9L)}")
  }

  test("reserved names refuse at CREATE and on enablement") {
    sql("DROP TABLE IF EXISTS grid.ns.rt6")
    val e1 = intercept[Exception] {
      sql("CREATE TABLE grid.ns.rt6 (id BIGINT, _row_id BIGINT) " +
        "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    }
    assert(e1.getMessage.contains("reserves column name"))
  }

  test("compaction materializes ids: stable across OPTIMIZE") {
    sql("DROP TABLE IF EXISTS grid.ns.rt8")
    sql("CREATE TABLE grid.ns.rt8 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt8 VALUES (1, 10), (2, 20)")
    sql("INSERT INTO grid.ns.rt8 VALUES (3, 30)")
    sql("INSERT INTO grid.ns.rt8 VALUES (4, 40)")
    val before = ids("grid.ns.rt8")
    val root = s"$warehouse/ns/rt8"
    val cv = Versioned.compact(spark, root)
    sql("REFRESH TABLE grid.ns.rt8")
    val after = ids("grid.ns.rt8")
    assert(after === before,
      "every row must keep its exact id across compaction")
    // the rewritten files carry the MATERIALIZED flag in the sidecar
    val entries = RowIds.read(java.nio.file.Paths.get(root, s"v=$cv")).get._2
    assert(entries.values.forall(_.materialized),
      s"compacted files must be flagged materialized, got $entries")
    // and the logical schema stays clean — no internal column leaks
    assert(!sql("SELECT * FROM grid.ns.rt8").columns
      .contains(RowIds.MaterializedCol))
    // appends after compaction continue derived, without reuse
    sql("INSERT INTO grid.ns.rt8 VALUES (5, 50)")
    val withNew = ids("grid.ns.rt8")
    assert(withNew.filter(_._1 <= 4) === before)
    assert(withNew.values.toSet.size === 5)
  }

  test("copy-on-write DELETE (translatable predicate): survivors keep ids") {
    sql("DROP TABLE IF EXISTS grid.ns.rt9")
    sql("CREATE TABLE grid.ns.rt9 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt9 VALUES (1, 10), (2, 20), (3, 30)")
    val before = ids("grid.ns.rt9")
    sql("DELETE FROM grid.ns.rt9 WHERE id = 2")
    val after = ids("grid.ns.rt9")
    assert(after === before.filter(_._1 != 2L),
      "survivors must keep their ids across the copy-on-write delete")
  }

  test("UPDATE without deletionVectors refuses, naming the fix") {
    sql("DROP TABLE IF EXISTS grid.ns.rt10")
    sql("CREATE TABLE grid.ns.rt10 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt10 VALUES (1, 10)")
    val e = intercept[Exception] {
      sql("UPDATE grid.ns.rt10 SET v = 11 WHERE id = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("deletionVectors")),
      s"expected the merge-on-read guidance, got: ${msgs(e)}")
  }

  test("MoR UPDATE on a DV table: EVERY row keeps its id, touched or not") {
    sql("DROP TABLE IF EXISTS grid.ns.rt11")
    sql("CREATE TABLE grid.ns.rt11 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    sql("INSERT INTO grid.ns.rt11 VALUES (1, 10), (2, 20), (3, 30)")
    val before = ids("grid.ns.rt11")
    sql("UPDATE grid.ns.rt11 SET v = 21 WHERE id = 2")
    val after = ids("grid.ns.rt11")
    // the rowTracking contract: an UPDATE is delete+reinsert in the
    // delta protocol, but the reinserted row MATERIALIZES its source
    // id into the insert file — the id is stable across the update,
    // only _row_commit_version bumps
    assert(after === before,
      "an UPDATE must not change any row's id — the reinsert carries it")
    assert(sql("SELECT v FROM grid.ns.rt11 WHERE id = 2")
      .collect().head.getLong(0) === 21L)
  }

  test("MoR MERGE update keeps ids; MERGE insert mints fresh ones") {
    sql("DROP TABLE IF EXISTS grid.ns.rt11m")
    sql("CREATE TABLE grid.ns.rt11m (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    sql("INSERT INTO grid.ns.rt11m VALUES (1, 10), (2, 20), (3, 30)")
    val before = ids("grid.ns.rt11m")
    sql("""MERGE INTO grid.ns.rt11m t
          |USING (SELECT * FROM VALUES (2L, 200L), (4L, 400L) AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
          |""".stripMargin)
    val after = ids("grid.ns.rt11m")
    assert(after.filterKeys(_ != 4L).toMap === before,
      "matched-update rows must keep their ids through the MERGE")
    assert(!before.values.toSet.contains(after(4L)),
      "the MERGE-inserted row must mint a fresh id")
    assert(after.values.toSet.size === after.size, "ids stay unique")
  }

  private def vers(table: String): Map[Long, Long] =
    sql(s"SELECT id, _row_commit_version FROM $table").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("row commit versions: per-commit assignment, rewrite-stable") {
    sql("DROP TABLE IF EXISTS grid.ns.rt12")
    sql("CREATE TABLE grid.ns.rt12 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    sql("INSERT INTO grid.ns.rt12 VALUES (1, 10), (2, 20)") // v0
    sql("INSERT INTO grid.ns.rt12 VALUES (3, 30)")          // v1
    assert(vers("grid.ns.rt12") === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // an incremental consumer reads exactly the rows since v0
    assert(sql("SELECT id FROM grid.ns.rt12 WHERE _row_commit_version > 0")
      .collect().map(_.getLong(0)).toSet === Set(3L))
    // compaction must PRESERVE per-row versions, not stamp its own
    val root = s"$warehouse/ns/rt12"
    Versioned.compact(spark, root)
    sql("REFRESH TABLE grid.ns.rt12")
    assert(vers("grid.ns.rt12") === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // a MoR UPDATE recreates the touched row AT the update commit;
    // untouched rows keep their original commit versions
    val vNow = Versioned.latestVersion(root).get
    sql("UPDATE grid.ns.rt12 SET v = 21 WHERE id = 2")
    val after = vers("grid.ns.rt12")
    assert(after(1L) === 0L && after(3L) === 1L)
    assert(after(2L) === vNow + 1,
      s"updated row must carry the update commit, got ${after(2L)}")
    // a MoR DELETE bumps no surviving row
    sql("DELETE FROM grid.ns.rt12 WHERE id = 3")
    assert(vers("grid.ns.rt12") === Map(1L -> 0L, 2L -> (vNow + 1)))
  }

  test("writeNext assigns fresh rows the version it claims") {
    sql("DROP TABLE IF EXISTS grid.ns.rt15")
    sql("CREATE TABLE grid.ns.rt15 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt15 VALUES (1, 10)") // v0
    sql("INSERT INTO grid.ns.rt15 VALUES (2, 20)") // v1
    import spark.implicits._
    val root = s"$warehouse/ns/rt15"
    // staged outside `v=N`, the write still learns its version at the claim
    assert(Versioned.writeNext(Seq((3L, 30L)).toDF("id", "v"), root) === 2L)
    sql("REFRESH TABLE grid.ns.rt15")
    assert(vers("grid.ns.rt15") === Map(3L -> 2L))
  }

  test("clone and restore preserve ids and commit versions") {
    sql("DROP TABLE IF EXISTS grid.ns.rt13")
    sql("CREATE TABLE grid.ns.rt13 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt13 VALUES (1, 10)")
    sql("INSERT INTO grid.ns.rt13 VALUES (2, 20)")
    val src = s"$warehouse/ns/rt13"
    val srcIds = ids("grid.ns.rt13")
    // clone: the new root inherits the protocol and carries the
    // row-id entries — `_row_id` works on the clone, ids identical
    val dst = java.nio.file.Files
      .createTempDirectory("graft_rt_clone_").resolve("t").toString
    Versioned.cloneTo(src, dst)
    val cloneIds = spark.read.format("graft-versioned").load(dst)
      .selectExpr("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cloneIds === srcIds,
      "a clone must preserve every row's id (shared immutable files)")
    // a post-clone insert into the clone continues above the carried
    // mark — never a collision with carried ids
    import spark.implicits._
    Seq((9L, 90L)).toDF("id", "v").write.format("graft-versioned")
      .mode("append").save(dst)
    val afterIns = spark.read.format("graft-versioned").load(dst)
      .selectExpr("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterIns.values.toSet.size === 3,
      s"clone-side insert must not reuse carried ids, got $afterIns")
    // restore: the restored-over commit keeps the old entries
    Versioned.restoreTo(src, 0L)
    sql("REFRESH TABLE grid.ns.rt13")
    assert(ids("grid.ns.rt13") === srcIds.filter(_._1 == 1L),
      "restore must resurrect the old snapshot's exact ids")
  }

  test("CALL sys.detail: one-row summary with features, props, hwm") {
    sql("DROP TABLE IF EXISTS grid.ns.rt14")
    sql("CREATE TABLE grid.ns.rt14 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES " +
      "('rowTracking'='true', 'deletionVectors'='true')")
    sql("INSERT INTO grid.ns.rt14 VALUES (1, 10), (2, 20)")
    sql("INSERT INTO grid.ns.rt14 VALUES (3, 30)")
    sql("DELETE FROM grid.ns.rt14 WHERE id = 2")
    val d = sql("CALL grid.sys.detail(table => 'ns.rt14')").collect()
    assert(d.length === 1)
    val r = d(0)
    assert(r.getAs[Long]("current_version") === 2L)
    assert(r.getAs[Long]("num_versions") === 3L)
    assert(r.getAs[Long]("num_rows") === 2L) // 3 inserted − 1 DV'd
    assert(r.getAs[Long]("deleted_rows") === 1L)
    assert(r.getAs[String]("writer_features").contains("row-tracking"))
    assert(r.getAs[String]("reader_features").contains("deletion-vectors"))
    assert(r.getAs[String]("properties").contains("rowTracking=true"))
    assert(r.getAs[Long]("row_id_hwm") === 3L)
    assert(!r.isNullAt(r.fieldIndex("last_commit_ts")))
  }

  test("sidecar carries entries and mark through the commit chain") {
    sql("DROP TABLE IF EXISTS grid.ns.rt7")
    sql("CREATE TABLE grid.ns.rt7 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('rowTracking'='true')")
    sql("INSERT INTO grid.ns.rt7 VALUES (1, 10), (2, 20)")
    sql("INSERT INTO grid.ns.rt7 VALUES (3, 30)")
    val root = s"$warehouse/ns/rt7"
    val v1 = java.nio.file.Paths.get(root, "v=1")
    val Some((hwm, entries)) = RowIds.read(v1)
    assert(hwm === 3L, s"3 rows assigned, mark must be 3, got $hwm")
    // carried file keeps its base; entries cover every data file
    val dataNames = Versioned.dataFiles(v1).map(_.getFileName.toString).toSet
    assert(entries.keySet === dataNames)
    val v0Entries = RowIds.read(java.nio.file.Paths.get(root, "v=0")).get._2
    v0Entries.foreach { case (n, e) =>
      assert(entries(n) === e, s"carried file $n must keep its entry")
    }
  }
}
