package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Versioned

/** The graft TableCatalog: SQL DDL/DML against version-store tables —
  * CREATE/DROP/RENAME/SHOW, INSERT INTO (append → new version), INSERT
  * OVERWRITE (snapshot replace), SQL time travel (VERSION AS OF /
  * TIMESTAMP AS OF), path interop with the Versioned helpers, and the
  * fail-loud matrix (partitioned DDL, ALTER, unsupported types, missing
  * versions). */
class GraftCatalogSpec extends AnyFunSuite with SparkSpec {

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_cat_spec_").toString
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    w
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def sql(s: String): DataFrame = { warehouse; spark.sql(s) }

  test("CREATE TABLE + INSERT INTO appends versions; SELECT sees latest") {
    sql("DROP TABLE IF EXISTS gtest.ns.t1")
    sql("CREATE TABLE gtest.ns.t1 (id BIGINT, price BIGINT, tag STRING) USING `graft-versioned`")
    assert(sql("SELECT * FROM gtest.ns.t1").count() === 0L) // empty before first insert
    sql("INSERT INTO gtest.ns.t1 VALUES (1, 100, 'a'), (2, 200, 'b')")
    sql("INSERT INTO gtest.ns.t1 VALUES (3, 300, 'c')")
    assert(rows(sql("SELECT * FROM gtest.ns.t1")) ===
      Seq("[1,100,a]", "[2,200,b]", "[3,300,c]"))
    // on disk: two versions under <warehouse>/ns/t1, v1 = v0 ∪ insert
    val root = s"$warehouse/ns/t1"
    assert(Versioned.versions(root) === Seq(0L, 1L))
    assert(Versioned.read(spark, root, Some(0L)).count() === 2L)
  }

  test("SQL time travel: VERSION AS OF pins, TIMESTAMP AS OF resolves stamps") {
    sql("DROP TABLE IF EXISTS gtest.ns.t2")
    sql("CREATE TABLE gtest.ns.t2 (id BIGINT, v BIGINT) USING `graft-versioned`")
    // stamp deterministically via the path API into the same table dir
    val root = s"$warehouse/ns/t2"
    import spark.implicits._
    Seq((1L, 10L)).toDF("id", "v").write.format("graft-versioned")
      .option("create", "true").option("commitTs", "2000").mode("append").save(root)
    Seq((2L, 20L)).toDF("id", "v").write.format("graft-versioned")
      .option("commitTs", "4000").mode("append").save(root)
    assert(rows(sql("SELECT * FROM gtest.ns.t2 VERSION AS OF 0")) === Seq("[1,10]"))
    assert(rows(sql("SELECT * FROM gtest.ns.t2")) === Seq("[1,10]", "[2,20]"))
    // stamps are micros: 3000 µs after epoch picks v=0
    assert(rows(sql(
      "SELECT * FROM gtest.ns.t2 TIMESTAMP AS OF '1970-01-01 00:00:00.003'")) ===
      Seq("[1,10]"))
  }

  test("INSERT OVERWRITE replaces the snapshot; history keeps the old rows") {
    sql("DROP TABLE IF EXISTS gtest.ns.t3")
    sql("CREATE TABLE gtest.ns.t3 (id BIGINT, tag STRING) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t3 VALUES (1, 'a'), (2, 'b')")
    sql("INSERT OVERWRITE gtest.ns.t3 VALUES (9, 'z')")
    assert(rows(sql("SELECT * FROM gtest.ns.t3")) === Seq("[9,z]"))
    assert(rows(sql("SELECT * FROM gtest.ns.t3 VERSION AS OF 0")) ===
      Seq("[1,a]", "[2,b]"))
  }

  test("SHOW TABLES / DROP / rename; namespaces are real") {
    sql("DROP TABLE IF EXISTS gtest.ns.t4a")
    sql("DROP TABLE IF EXISTS gtest.ns.t4b")
    sql("CREATE TABLE gtest.ns.t4a (id BIGINT) USING `graft-versioned`")
    val listed = sql("SHOW TABLES IN gtest.ns").collect().map(_.getString(1)).toSet
    assert(listed.contains("t4a"))
    sql("ALTER TABLE gtest.ns.t4a RENAME TO ns.t4b")
    sql("INSERT INTO gtest.ns.t4b VALUES (5)")
    assert(rows(sql("SELECT * FROM gtest.ns.t4b")) === Seq("[5]"))
    sql("DROP TABLE gtest.ns.t4b")
    assert(!sql("SHOW TABLES IN gtest.ns").collect()
      .map(_.getString(1)).contains("t4b"))
  }

  test("PARTITIONED BY identity maps to the clusterBy layout; other transforms loud") {
    sql("DROP TABLE IF EXISTS gtest.ns.tp")
    sql("CREATE TABLE gtest.ns.tp (id BIGINT, d STRING) " +
      "USING `graft-versioned` PARTITIONED BY (d)")
    val props = sql("SHOW TBLPROPERTIES gtest.ns.tp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("partitionedBy").contains("d"), props)
    assert(props.get("clusterBy").contains("d"), props)
    // the mapping shows in DESCRIBE's partitioning section too
    assert(spark.table("gtest.ns.tp").queryExecution.analyzed.toString
      .nonEmpty) // resolution sanity; partitioning() surfaced below
    sql("INSERT INTO gtest.ns.tp SELECT id, concat('d', id % 4) " +
      "FROM range(0, 100)")
    assert(sql("SELECT count(*) FROM gtest.ns.tp WHERE d = 'd1'")
      .collect()(0).getLong(0) === 25L)
    // bucket + truncate transforms ACCEPT (BucketPartitionSpec /
    // TruncateSpec cover semantics); an unsupported key type is loud
    sql("DROP TABLE IF EXISTS gtest.ns.tpb")
    sql("CREATE TABLE gtest.ns.tpb (id BIGINT) " +
      "USING `graft-versioned` PARTITIONED BY (bucket(4, id))")
    val bprops = sql("SHOW TBLPROPERTIES gtest.ns.tpb").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bprops.get("partitionedBy").contains("bucket(4,id)"), bprops)
    assert(bprops.get("clusterBy").contains("id_bucket"), bprops)
    sql("DROP TABLE IF EXISTS gtest.ns.tpt")
    sql("CREATE TABLE gtest.ns.tpt (id BIGINT, s STRING) " +
      "USING `graft-versioned` PARTITIONED BY (truncate(4, s))")
    val tprops = sql("SHOW TBLPROPERTIES gtest.ns.tpt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tprops.get("partitionedBy").contains("truncate(4,s)"), tprops)
    assert(tprops.get("clusterBy").contains("s_trunc"), tprops)
    val truncated = intercept[Exception] {
      sql("CREATE TABLE gtest.ns.tpx (id BIGINT, f DOUBLE) " +
        "USING `graft-versioned` PARTITIONED BY (truncate(4, f))")
    }
    assert(chain(truncated).exists(_.contains("truncate")), chain(truncated))
    // both spellings at once is ambiguous: loud
    val both = intercept[Exception] {
      sql("CREATE TABLE gtest.ns.tpc (id BIGINT, d STRING) " +
        "USING `graft-versioned` PARTITIONED BY (d) " +
        "TBLPROPERTIES ('clusterBy'='id')")
    }
    assert(chain(both).exists(_.contains("two spellings")), chain(both))
    // the partition column is load-bearing: DROP refuses
    val drop = intercept[Exception] {
      sql("ALTER TABLE gtest.ns.tp DROP COLUMN d")
    }
    assert(chain(drop).exists(_.contains("partitionedBy")), chain(drop))
    // the mapping is the contract: direct clusterBy edits refuse
    val setClus = intercept[Exception] {
      sql("ALTER TABLE gtest.ns.tp SET TBLPROPERTIES ('clusterBy'='id')")
    }
    assert(chain(setClus).exists(_.contains("cannot be set directly")),
      chain(setClus))
    val unsetClus = intercept[Exception] {
      sql("ALTER TABLE gtest.ns.tp UNSET TBLPROPERTIES ('clusterBy')")
    }
    assert(chain(unsetClus).exists(_.contains("cannot be unset directly")),
      chain(unsetClus))
    // rename follows the layout contract
    sql("ALTER TABLE gtest.ns.tp RENAME COLUMN d TO site")
    val renamed = sql("SHOW TBLPROPERTIES gtest.ns.tp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(renamed.get("partitionedBy").contains("site"), renamed)
    assert(renamed.get("clusterBy").contains("site"), renamed)
    assert(sql("SELECT count(*) FROM gtest.ns.tp WHERE site = 'd1'")
      .collect()(0).getLong(0) === 25L)
  }

  test("sys.partitions: per-value footprint from stats, spanning honest") {
    sql("DROP TABLE IF EXISTS gtest.ns.sp")
    sql("CREATE TABLE gtest.ns.sp (id BIGINT, d STRING) " +
      "USING `graft-versioned` PARTITIONED BY (d) " +
      "TBLPROPERTIES ('writePartitions'='4')")
    sql("INSERT INTO gtest.ns.sp SELECT id, concat('p', id % 4) " +
      "FROM range(0, 400)")
    val rows = sql("CALL gtest.sys.partitions(table => 'ns.sp')")
      .collect().map(r => (Option(r.getString(0)), r.getInt(1),
        r.getLong(2), r.getBoolean(4)))
    assert(rows.map(_._3).sum === 400L, s"rows account: ${rows.toSeq}")
    val clean = rows.filter(_._1.isDefined)
    assert(clean.map(_._1.get).sorted.toSeq
      .containsSlice(Seq("p0", "p1", "p2", "p3")) ||
      rows.exists(_._4), s"values or spanning: ${rows.toSeq}")
    // explicit column works on any clustered/plain table; unpartitioned
    // and unclustered without a column is loud
    sql("DROP TABLE IF EXISTS gtest.ns.spu")
    sql("CREATE TABLE gtest.ns.spu (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.spu SELECT id FROM range(0, 10)")
    val loud = intercept[Exception](
      sql("CALL gtest.sys.partitions(table => 'ns.spu')"))
    assert(chain(loud).exists(_.contains("unpartitioned")), chain(loud))
    val byCol = sql(
      "CALL gtest.sys.partitions(table => 'ns.spu', column => 'id')")
      .collect()
    assert(byCol.map(_.getLong(2)).sum === 10L)
  }

  test("sys.purge: refusal matrix names the fix; tags keep resolving") {
    // deletion vectors anywhere in history: positions would shift
    sql("DROP TABLE IF EXISTS gtest.ns.pd")
    sql("CREATE TABLE gtest.ns.pd (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    sql("INSERT INTO gtest.ns.pd SELECT id, id FROM range(0, 50)")
    sql("DELETE FROM gtest.ns.pd WHERE id < 5")
    val dv = intercept[Exception](sql(
      "CALL gtest.sys.purge(table => 'ns.pd', where => 'id = 7')"))
    assert(chain(dv).exists(_.contains("deletion-vector")), chain(dv))
    // stored change feeds: the purged rows live in the diffs too
    sql("DROP TABLE IF EXISTS gtest.ns.pf")
    sql("CREATE TABLE gtest.ns.pf (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('changeFeedKeys'='id')")
    sql("INSERT INTO gtest.ns.pf SELECT id, id FROM range(0, 10)")
    val feed = intercept[Exception](sql(
      "CALL gtest.sys.purge(table => 'ns.pf', where => 'id = 7')"))
    assert(chain(feed).exists(_.contains("change feeds")), chain(feed))
    // type-widening tables: a rewrite would silently re-type narrow files
    sql("DROP TABLE IF EXISTS gtest.ns.pw")
    sql("CREATE TABLE gtest.ns.pw (id BIGINT, n INT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.pw SELECT id, CAST(id AS INT) FROM range(0, 10)")
    sql("ALTER TABLE gtest.ns.pw ALTER COLUMN n TYPE BIGINT")
    val wide = intercept[Exception](sql(
      "CALL gtest.sys.purge(table => 'ns.pw', where => 'id = 7')"))
    assert(chain(wide).exists(_.contains("type-widening")), chain(wide))
    // the happy path: purge a tagged multi-version history — the tag
    // keeps resolving, its content just lost the purged rows
    sql("DROP TABLE IF EXISTS gtest.ns.pt")
    sql("CREATE TABLE gtest.ns.pt (id BIGINT, v BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.pt SELECT id, id * 3 FROM range(0, 100)")
    sql("CALL gtest.sys.tag(table => 'ns.pt', name => 'release', version => 0)")
    sql("INSERT INTO gtest.ns.pt SELECT id, id * 3 FROM range(100, 200)")
    val out = sql("CALL gtest.sys.purge(table => 'ns.pt', " +
      "where => 'id % 10 = 3')").collect()(0)
    assert(out.getLong(1) === 20L, s"rows purged: ${out.toSeq}")
    assert(sql("SELECT count(*) FROM gtest.ns.pt VERSION AS OF 'release' " +
      "WHERE id % 10 = 3").collect()(0).getLong(0) === 0L,
      "the tagged snapshot must be purged too")
    assert(sql("SELECT count(*) FROM gtest.ns.pt VERSION AS OF 'release'")
      .collect()(0).getLong(0) === 90L)
    assert(sql("SELECT count(*) FROM gtest.ns.pt").collect()(0)
      .getLong(0) === 180L)
  }

  test("compact(where): renamed columns translate, bad shapes loud") {
    sql("DROP TABLE IF EXISTS gtest.ns.cw")
    sql("CREATE TABLE gtest.ns.cw (id BIGINT, k BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('clusterBy'='k', " +
      "'writePartitions'='4')")
    (0 to 1).foreach(_ => sql(
      "INSERT INTO gtest.ns.cw SELECT id, id % 4 FROM range(0, 400)"))
    // predicate written against the RENAMED logical name must select
    // files through their physical birth-name stats
    sql("ALTER TABLE gtest.ns.cw RENAME COLUMN k TO part")
    val root = java.nio.file.Paths.get(s"$warehouse/ns/cw")
    val before = graft.operators.Versioned.dataFiles(root.resolve("v=1")).size
    sql("CALL gtest.sys.compact(table => 'ns.cw', where => 'part = 1')")
    val after = graft.operators.Versioned.dataFiles(root.resolve("v=2")).size
    assert(after < before, s"slice must pack ($before -> $after)")
    assert(sql("SELECT count(*) FROM gtest.ns.cw WHERE part = 1")
      .collect()(0).getLong(0) === 200L, "rows invariant")
    // where + zorder is a contradiction (slice vs full-table layout)
    val both = intercept[Exception](sql(
      "CALL gtest.sys.compact(table => 'ns.cw', where => 'part = 1', " +
        "zorder_by => 'id')"))
    assert(chain(both).exists(_.contains("cannot combine")), chain(both))
    // an untranslatable predicate is loud, not a silent full rewrite
    val bad = intercept[Exception](sql(
      "CALL gtest.sys.compact(table => 'ns.cw', where => 'part % 2 = 0')"))
    assert(chain(bad).exists(_.contains("file-statistics-selectable")),
      chain(bad))
  }

  test("fail-loud: ALTER, unsupported type, missing version") {
    sql("DROP TABLE IF EXISTS gtest.ns.t5")
    val badType = intercept[Exception] {
      sql("CREATE TABLE gtest.ns.t5 (id BIGINT, xs ARRAY<INT>) USING `graft-versioned`")
    }
    assert(chain(badType).exists(_.contains("unsupported column type")))
    sql("CREATE TABLE gtest.ns.t5 (id BIGINT) USING `graft-versioned`")
    // ADD/RENAME/DROP COLUMN are supported via column mapping
    // (SchemaEvolutionSpec); retype stays fail-loud, and DROP of the
    // last column is refused
    val alter = intercept[Exception] {
      sql("ALTER TABLE gtest.ns.t5 DROP COLUMN id")
    }
    assert(chain(alter).exists(_.contains("last column")), chain(alter))
    val retype = intercept[Exception] {
      sql("ALTER TABLE gtest.ns.t5 ALTER COLUMN id TYPE INT")
    }
    // Spark's own analyzer rejects type changes before the catalog
    // even sees them — the loud refusal happens upstream
    assert(chain(retype).exists(_.contains("NOT_SUPPORTED_CHANGE_COLUMN")),
      chain(retype))
    sql("INSERT INTO gtest.ns.t5 VALUES (1)")
    val missing = intercept[Exception] {
      sql("SELECT * FROM gtest.ns.t5 VERSION AS OF 7").collect()
    }
    assert(chain(missing).exists(_.contains("does not exist")))
  }

  test("CALL sys.compact rewrites the snapshot as a new version with fewer files") {
    sql("DROP TABLE IF EXISTS gtest.ns.t6")
    sql("CREATE TABLE gtest.ns.t6 (id BIGINT) USING `graft-versioned`")
    import spark.implicits._
    spark.range(0, 400).select($"id").repartition(8)
      .createOrReplaceTempView("t6_src")
    sql("INSERT INTO gtest.ns.t6 SELECT * FROM t6_src WHERE id < 200")
    sql("INSERT INTO gtest.ns.t6 SELECT * FROM t6_src WHERE id >= 200")
    val root = s"$warehouse/ns/t6"
    val filesBefore = fileCount(s"$root/v=1")
    val res = sql("CALL gtest.sys.compact(table => 'ns.t6')").collect()
    assert(res.map(_.getLong(0)).toSeq === Seq(2L))
    assert(fileCount(s"$root/v=2") < filesBefore,
      s"compacted version should have fewer files than $filesBefore")
    assert(sql("SELECT * FROM gtest.ns.t6").count() === 400L)
    assert(sql("SELECT * FROM gtest.ns.t6 VERSION AS OF 1").count() === 400L)
  }

  test("CALL sys.rollback and sys.retain drive the version lifecycle from SQL") {
    sql("DROP TABLE IF EXISTS gtest.ns.t7")
    sql("CREATE TABLE gtest.ns.t7 (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t7 VALUES (1)")
    sql("INSERT INTO gtest.ns.t7 VALUES (2)")
    sql("INSERT INTO gtest.ns.t7 VALUES (3)")
    val rb = sql("CALL gtest.sys.rollback(table => 'ns.t7')").collect()
    assert(rb.map(_.getLong(0)).toSeq === Seq(1L)) // v=2 dropped, v=1 current
    assert(sql("SELECT * FROM gtest.ns.t7").count() === 2L)
    val kept = sql("CALL gtest.sys.retain(table => 'ns.t7', keep => 1)").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(1L)) // only v=1 survives
    assert(sql("SELECT * FROM gtest.ns.t7").count() === 2L)
    val gone = intercept[Exception] {
      sql("SELECT * FROM gtest.ns.t7 VERSION AS OF 0").collect()
    }
    assert(chain(gone).exists(_.contains("does not exist")))
  }

  test("clusterBy table property: every INSERT range-clusters its files") {
    sql("DROP TABLE IF EXISTS gtest.ns.t9")
    sql("CREATE TABLE gtest.ns.t9 (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy' = 'id', 'writePartitions' = '6')")
    import spark.implicits._
    spark.range(0, 30000).selectExpr("id", "id % 5 AS v")
      .repartition(8, $"v").createOrReplaceTempView("t9_src")
    sql("INSERT INTO gtest.ns.t9 SELECT * FROM t9_src")
    val files = Versioned.dataFiles(
      java.nio.file.Paths.get(s"$warehouse/ns/t9/v=0"))
    assert(files.size > 1)
    val spans = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(org.apache.spark.sql.functions.min($"id"),
          org.apache.spark.sql.functions.max($"id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"clustered insert produced overlapping files: $spans")
      case _ => ()
    }
    // DDL-time validation of the property
    val bad = intercept[Exception] {
      sql("CREATE TABLE gtest.ns.t9bad (id BIGINT) USING `graft-versioned` " +
        "TBLPROPERTIES ('clusterBy' = 'missing')")
    }
    assert(chain(bad).exists(_.contains("clusterBy column 'missing'")))
  }

  test("CALL sys.vacuum sweeps stale staging leftovers, spares fresh ones") {
    sql("DROP TABLE IF EXISTS gtest.ns.t10")
    sql("CREATE TABLE gtest.ns.t10 (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t10 VALUES (1)")
    val root = java.nio.file.Paths.get(s"$warehouse/ns/t10")
    // a crashed writer's leftover (old mtime) and a live one (fresh)
    val stale = root.resolve("_staging_crashed_001")
    val live = root.resolve("_staging_live_002")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.createDirectories(live)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    // DRY RUN first: same listing, nothing deleted
    val wouldRemove = sql("CALL gtest.sys.vacuum(table => 'ns.t10', " +
      "older_than_ms => 1800000, dry_run => true)")
      .collect().map(_.getString(0)).toSeq
    assert(wouldRemove === Seq("_staging_crashed_001"))
    assert(java.nio.file.Files.exists(stale),
      "dry_run must not delete anything")
    val removed = sql(
      "CALL gtest.sys.vacuum(table => 'ns.t10', older_than_ms => 1800000)")
      .collect().map(_.getString(0)).toSeq
    assert(removed === Seq("_staging_crashed_001"))
    assert(!java.nio.file.Files.exists(stale))
    assert(java.nio.file.Files.exists(live))
    assert(sql("SELECT * FROM gtest.ns.t10").count() === 1L) // data untouched
  }

  test("vacuum sweeps unmanifested strays in version dirs; pre-manifest dirs untouched") {
    import java.nio.file.{Files => JF, Paths => JP}
    import java.nio.file.attribute.FileTime
    sql("DROP TABLE IF EXISTS gtest.ns.t10b")
    sql("CREATE TABLE gtest.ns.t10b (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t10b VALUES (1), (2)")
    val vdir = JP.get(s"$warehouse/ns/t10b/v=0")
    val oldTs = FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    // plant: an old alien data file, a FRESH alien, an old stray DV,
    // and an old bloom temp file — none named by the commit manifest
    val alienOld = vdir.resolve("alien-old.parquet")
    val alienNew = vdir.resolve("alien-new.parquet")
    JF.write(alienOld, Array[Byte](1, 2, 3)); JF.setLastModifiedTime(alienOld, oldTs)
    JF.write(alienNew, Array[Byte](4, 5, 6))
    val dvDir = graft.operators.DeletionVectors.dvDir(vdir)
    JF.createDirectories(dvDir)
    val strayDv = dvDir.resolve("ghost.parquet.dv")
    JF.write(strayDv, Array[Byte](7)); JF.setLastModifiedTime(strayDv, oldTs)
    val tmp = vdir.resolve("_graft_bloom_x.tmp")
    JF.write(tmp, Array[Byte](8)); JF.setLastModifiedTime(tmp, oldTs)
    val removed = sql(
      "CALL gtest.sys.vacuum(table => 'ns.t10b', older_than_ms => 1800000)")
      .collect().map(_.getString(0)).toSeq
    assert(removed === Seq("v=0/_dv/ghost.parquet.dv",
      "v=0/_graft_bloom_x.tmp", "v=0/alien-old.parquet"), removed.toString)
    assert(!JF.exists(alienOld) && !JF.exists(strayDv) && !JF.exists(tmp))
    assert(JF.exists(alienNew), "fresh stray must survive the age gate")
    assert(sql("SELECT * FROM gtest.ns.t10b").count() === 2L)
    // pre-manifest dirs: the listing is the truth — never swept
    val bare = java.nio.file.Files
      .createTempDirectory("graft_premanifest_").toString
    import spark.implicits._
    Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$bare/v=0")
    val planted = JP.get(s"$bare/v=0/extra.parquet")
    JF.write(planted, Array[Byte](9)); JF.setLastModifiedTime(planted, oldTs)
    assert(VersionedWriteIo.vacuumOrphans(bare, 0L) === Seq.empty)
    assert(JF.exists(planted))
  }

  test("vacuum sweeps every stale _graft_*.tmp sidecar temp in version dirs") {
    import java.nio.file.{Files => JF, Paths => JP}
    sql("DROP TABLE IF EXISTS gtest.ns.t10c")
    sql("CREATE TABLE gtest.ns.t10c (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t10c VALUES (1), (2)")
    val vdir = JP.get(s"$warehouse/ns/t10c/v=0")
    val oldTs = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    // what crashed ndv, stats and sidecar-rewrite publishes leave behind
    val planted = Seq("_graft_ndv_x.tmp", "_graft_stats_x.tmp", "_graft_sc_x.tmp")
    planted.foreach { n =>
      JF.write(vdir.resolve(n), Array[Byte](1))
      JF.setLastModifiedTime(vdir.resolve(n), oldTs)
    }
    val removed = sql(
      "CALL gtest.sys.vacuum(table => 'ns.t10c', older_than_ms => 1800000)")
      .collect().map(_.getString(0)).toSeq
    assert(removed === planted.sorted.map("v=0/" + _), removed.toString)
    assert(planted.forall(n => !JF.exists(vdir.resolve(n))))
    assert(sql("SELECT * FROM gtest.ns.t10c").count() === 2L)
  }

  test("a crashed catalog manifest publish leaves only debris sys.vacuum removes") {
    import java.nio.file.{Files => JF, Paths => JP}
    sql("DROP TABLE IF EXISTS gtest.ns.t10d")
    sql("CREATE TABLE gtest.ns.t10d (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t10d VALUES (1)")
    val root = JP.get(s"$warehouse/ns/t10d")
    def tmps: Seq[String] = {
      val st = JF.list(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(".tmp")).toList
      } finally st.close()
    }
    val crash = new FaultyPosixStore(_ => true)
    val e = intercept[Exception] {
      CommitStore.withStore(crash) {
        sql("ALTER TABLE gtest.ns.t10d SET TBLPROPERTIES " +
          "('targetFileBytes'='1048576')")
      }
    }
    assert(chain(e).exists(_.contains("injected crash")), chain(e))
    assert(tmps.nonEmpty, "the crash must leave its temp file behind")
    Thread.sleep(5) // the temp must be strictly older than the cutoff
    sql("CALL gtest.sys.vacuum(table => 'ns.t10d', older_than_ms => 0)").collect()
    assert(tmps.isEmpty, tmps)
    assert(sql("SELECT * FROM gtest.ns.t10d").count() === 1L)
  }

  test("sys.manifest exports externally-readable file lists; refuses when wrong") {
    import spark.implicits._
    sql("DROP TABLE IF EXISTS gtest.ns.tman")
    sql("CREATE TABLE gtest.ns.tman (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('deletionVectors'='true')")
    sql("INSERT INTO gtest.ns.tman SELECT id, id * 2 FROM range(0, 100)")
    sql("INSERT INTO gtest.ns.tman SELECT id, id * 2 FROM range(100, 150)")
    val files = sql("CALL gtest.sys.manifest(table => 'ns.tman')")
      .collect().map(_.getString(0)).toSeq
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    // an EXTERNAL plain parquet read of the exported list = the table
    val external = spark.read.parquet(files: _*)
    assert(external.count() === 150L)
    assert(external.agg(org.apache.spark.sql.functions.sum("v"))
      .collect()(0).getLong(0) ===
      sql("SELECT sum(v) FROM gtest.ns.tman").collect()(0).getLong(0))
    // a version addressed explicitly exports too
    assert(sql("CALL gtest.sys.manifest(table => 'ns.tman', version => 0)")
      .collect().length > 0)
    // DV'd snapshot: a plain read would resurrect deleted rows — refuse
    sql("DELETE FROM gtest.ns.tman WHERE id < 10")
    val e = intercept[Exception](
      sql("CALL gtest.sys.manifest(table => 'ns.tman')").collect())
    assert(e.getMessage.contains("deletion-vector"), e.getMessage)
    assert(e.getMessage.contains("sys.compact"), e.getMessage)
    sql("CALL gtest.sys.compact(table => 'ns.tman')")
    val afterCompact = sql("CALL gtest.sys.manifest(table => 'ns.tman')")
      .collect().map(_.getString(0)).toSeq
    assert(spark.read.parquet(afterCompact: _*).count() === 140L)
    // a column-mapped table would expose physical names — refuse
    sql("ALTER TABLE gtest.ns.tman RENAME COLUMN v TO w")
    val e2 = intercept[Exception](
      sql("CALL gtest.sys.manifest(table => 'ns.tman')").collect())
    assert(e2.getMessage.contains("PHYSICAL column names"), e2.getMessage)
  }

  test("DELETE FROM is copy-on-write: survivors in a new version, history pinned") {
    sql("DROP TABLE IF EXISTS gtest.ns.t11")
    sql("CREATE TABLE gtest.ns.t11 (id BIGINT, tag STRING) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.t11 VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, NULL)")
    sql("DELETE FROM gtest.ns.t11 WHERE tag = 'a' OR id = 2")
    // null-predicate rows are KEPT (tag = 'a' is NULL for id=4)
    assert(rows(sql("SELECT * FROM gtest.ns.t11")) === Seq("[4,null]"))
    // the pre-delete snapshot is still addressable
    assert(sql("SELECT * FROM gtest.ns.t11 VERSION AS OF 0").count() === 4L)
    assert(Versioned.versions(s"$warehouse/ns/t11") === Seq(0L, 1L))
    // TRUNCATE TABLE: empty survivors, another version
    sql("TRUNCATE TABLE gtest.ns.t11")
    assert(sql("SELECT * FROM gtest.ns.t11").count() === 0L)
    assert(sql("SELECT * FROM gtest.ns.t11 VERSION AS OF 1").count() === 1L)
    // a predicate outside the translatable vocabulary takes the
    // row-level rewrite (ReplaceData) instead of the metadata path —
    // same copy-on-write result, one more version
    sql("INSERT INTO gtest.ns.t11 VALUES (5, 'e'), (6, 'f'), (7, 'g')")
    sql("DELETE FROM gtest.ns.t11 WHERE id % 2 = 0")
    assert(rows(sql("SELECT * FROM gtest.ns.t11")) ===
      Seq("[5,e]", "[7,g]"))
  }

  test("sys.compact re-clusters a clustered table: file spans disjoint again") {
    sql("DROP TABLE IF EXISTS gtest.ns.tc")
    sql("CREATE TABLE gtest.ns.tc (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='4')")
    // two appends over the SAME key range: every file of v=1 spans the
    // full range's half-stripes, so compaction must re-sort to restore
    // disjoint min/max spans
    sql("INSERT INTO gtest.ns.tc SELECT id, id FROM range(0, 4000) WHERE id % 2 = 0")
    sql("INSERT INTO gtest.ns.tc SELECT id, id FROM range(0, 4000) WHERE id % 2 = 1")
    sql("CALL gtest.sys.compact(table => 'ns.tc', target_file_bytes => 16384)")
    val cur = graft.operators.Versioned.versions(s"$warehouse/ns/tc").max
    val files = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$warehouse/ns/tc/v=$cur"))
    assert(files.size > 1, s"expected multiple compacted files: $files")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(org.apache.spark.sql.functions.min("id"),
             org.apache.spark.sql.functions.max("id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"compacted file spans overlap: $spans")
      case _ => ()
    }
    assert(sql("SELECT count(*) FROM gtest.ns.tc").collect()(0).getLong(0) === 4000L)
  }

  test("CALL sys.history lists versions newest-first with stamps and footprint") {
    sql("DROP TABLE IF EXISTS gtest.ns.th")
    sql("CREATE TABLE gtest.ns.th (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.th SELECT id FROM range(0, 100)")
    // session-conf commit message rides SQL verbs (which take no options)
    spark.conf.set("graft.versioned.commitMessage", "daily load")
    try sql("INSERT INTO gtest.ns.th SELECT id FROM range(100, 150)")
    finally spark.conf.set("graft.versioned.commitMessage", "")
    sql("UPDATE gtest.ns.th SET id = id + 1000 WHERE id < 20")
    val h = sql("CALL gtest.sys.history(table => 'ns.th')").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    // every DSv2 commit is stamped; stamps are non-decreasing in time
    val stamps = h.map(_.getLong(1)).toSeq
    assert(stamps.forall(_ > 0) && stamps.reverse == stamps.reverse.sorted)
    // operation kinds from the commits' own markers: the UPDATE is a
    // row-level commit, the two inserts plain writes
    assert(h.map(_.getString(2)).toSeq === Seq("rowlevel", "write", "write"))
    assert(h.forall(r => r.getInt(3) > 0 && r.getLong(4) > 0))
    assert(h.forall(!_.getBoolean(5))) // no changeFeedKeys on this table
    assert(h.forall(r => r.getInt(6) === 0 && r.getLong(7) === 0L),
      "a copy-on-write table carries no deletion vectors")
    // the conf-scoped message landed on exactly the one commit it covered
    assert(h.map(r => Option(r.getString(9))).toSeq ===
      Seq(None, Some("daily load"), None))
  }

  test("CALL sys.files lists a snapshot's data files with rows and DV state") {
    sql("DROP TABLE IF EXISTS gtest.ns.tf")
    sql("CREATE TABLE gtest.ns.tf (id BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id', 'writePartitions'='4', " +
      "'deletionVectors'='true')")
    sql("INSERT INTO gtest.ns.tf SELECT id FROM range(0, 1000)")
    sql("DELETE FROM gtest.ns.tf WHERE id < 10")
    val f = sql("CALL gtest.sys.files(table => 'ns.tf')").collect()
    assert(f.length === 4)
    assert(f.forall(r => r.getLong(1) > 0))                  // bytes
    assert(f.map(_.getLong(2)).sum === 1000L)                // sidecar rows
    assert(f.map(_.getLong(3)).sum === 10L)                  // DV'd rows
    // pinned version: pre-delete snapshot shows zero deletions
    val f0 = sql("CALL gtest.sys.files(table => 'ns.tf', version => 0)")
      .collect()
    assert(f0.map(_.getLong(3)).sum === 0L)
    // missing version fails loudly
    val e = intercept[Exception] {
      sql("CALL gtest.sys.files(table => 'ns.tf', version => 9)").collect()
    }
    assert(chain(e).exists(_.contains("does not exist")), chain(e).toString)
  }

  test("CALL sys.history surfaces the merge-on-read state") {
    sql("DROP TABLE IF EXISTS gtest.ns.thdv")
    sql("CREATE TABLE gtest.ns.thdv (id BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('deletionVectors'='true')")
    sql("INSERT INTO gtest.ns.thdv SELECT id FROM range(0, 100)")
    sql("DELETE FROM gtest.ns.thdv WHERE id < 20")
    val h = sql("CALL gtest.sys.history(table => 'ns.thdv')").collect()
      .map(r => r.getLong(0) -> (r.getInt(6), r.getLong(7))).toMap
    assert(h(0L) === ((0, 0L)))
    assert(h(1L)._2 === 20L, s"20 DV'd rows expected: $h")
    assert(h(1L)._1 > 0)
  }

  test("sys.restore brings an old snapshot back as a NEW commit; history intact") {
    sql("DROP TABLE IF EXISTS gtest.ns.tr")
    sql("CREATE TABLE gtest.ns.tr (id BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.tr SELECT id FROM range(0, 10)")          // v0
    sql("INSERT OVERWRITE gtest.ns.tr SELECT id FROM range(100, 103)")  // v1
    val v = sql("CALL gtest.sys.restore(table => 'ns.tr', version => 0)")
      .collect()(0).getLong(0)
    assert(v === 2L)
    assert(sql("SELECT count(*) FROM gtest.ns.tr").collect()(0).getLong(0) === 10L)
    // nothing deleted: the restored-over overwrite is still addressable
    assert(sql("SELECT count(*) FROM gtest.ns.tr VERSION AS OF 1")
      .collect()(0).getLong(0) === 3L)
    // file-level: the restored version shares inodes with v=0
    def inodes(v: Long) = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$warehouse/ns/tr/v=$v"))
      .map(p => java.nio.file.Files.getAttribute(p, "unix:ino")).toSet
    assert(inodes(2L) === inodes(0L), "restore must hard-link, not copy")
    val bad = intercept[Exception] {
      sql("CALL gtest.sys.restore(table => 'ns.tr', version => 9)")
    }
    assert(chain(bad).exists(_.contains("does not exist")), chain(bad))
  }

  test("sys.restore by TIMESTAMP resolves like TIMESTAMP AS OF; arg matrix loud") {
    sql("DROP TABLE IF EXISTS gtest.ns.trt")
    sql("CREATE TABLE gtest.ns.trt (id BIGINT) USING `graft-versioned`")
    // controlled stamps via the session commit option is not available
    // to SQL INSERT — stamp directly through the path API
    val root = s"$warehouse/ns/trt"
    import spark.implicits._
    graft.operators.Versioned.writeNext(
      (0L until 10L).toDF("id"), root, commitTs = Some(1000L)) // v0
    graft.operators.Versioned.writeNext(
      (100L until 103L).toDF("id"), root, commitTs = Some(2000L)) // v1
    val v = sql("CALL gtest.sys.restore(table => 'ns.trt', " +
      "timestamp_micros => 1500)").collect()(0).getLong(0)
    assert(v === 2L) // restored v0 (latest stamp <= 1500) as a new commit
    assert(sql("SELECT count(*) FROM gtest.ns.trt").collect()(0).getLong(0) === 10L)
    // exactly-one-of matrix
    def fails(call: String, frag: String): Unit = {
      val e = intercept[Exception](sql(call))
      assert(chain(e).exists(_.contains(frag)), chain(e))
    }
    fails("CALL gtest.sys.restore(table => 'ns.trt')", "exactly ONE")
    fails("CALL gtest.sys.restore(table => 'ns.trt', version => 0, " +
      "timestamp_micros => 1500)", "exactly ONE")
    fails("CALL gtest.sys.restore(table => 'ns.trt', " +
      "timestamp_micros => 5)", "no version committed at or before")
  }

  test("sys.vacuum sweeps crashed sidecar temp files at the root and in feed dirs") {
    sql("DROP TABLE IF EXISTS gtest.ns.tvt")
    sql("CREATE TABLE gtest.ns.tvt (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('changeFeedKeys'='id')")
    sql("INSERT INTO gtest.ns.tvt SELECT id, id FROM range(0, 5)")
    val root = java.nio.file.Paths.get(s"$warehouse/ns/tvt")
    // plant crashed-publish leftovers: root-level sidecar tmp + one in
    // the feed dir, plus a FRESH one the age gate must spare
    val staleRoot = root.resolve("_graft_tags_dead.tmp")
    java.nio.file.Files.write(staleRoot, "x".getBytes)
    val feedDir = java.nio.file.Paths.get(
      graft.operators.Versioned.feedDir(root.toString, 0L))
    val staleFeed = feedDir.resolve("_graft_files_dead.tmp")
    java.nio.file.Files.write(staleFeed, "x".getBytes)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000)
    java.nio.file.Files.setLastModifiedTime(staleRoot, old)
    java.nio.file.Files.setLastModifiedTime(staleFeed, old)
    val fresh = root.resolve("_graft_protocol_live.tmp")
    java.nio.file.Files.write(fresh, "x".getBytes)
    val removed = sql(
      "CALL gtest.sys.vacuum(table => 'ns.tvt', older_than_ms => 1800000)")
      .collect().map(_.getString(0)).toSeq
    assert(removed.exists(_.contains("_graft_tags_dead.tmp")), removed)
    assert(removed.exists(_.contains("_graft_files_dead.tmp")), removed)
    assert(!java.nio.file.Files.exists(staleRoot))
    assert(!java.nio.file.Files.exists(staleFeed))
    assert(java.nio.file.Files.exists(fresh), "age gate must spare fresh tmps")
    // the table and its feed still read exactly
    assert(sql("SELECT count(*) FROM gtest.ns.tvt").collect()(0).getLong(0) === 5L)
    assert(spark.read.format("graft-versioned").option("changeFeed", "true")
      .load(root.toString).count() === 5L)
  }

  test("sys.clone: shallow clone shares files, then diverges independently") {
    sql("DROP TABLE IF EXISTS gtest.ns.src")
    sql("DROP TABLE IF EXISTS gtest.ns.dst")
    sql("CREATE TABLE gtest.ns.src (id BIGINT, v BIGINT) USING `graft-versioned` " +
      "TBLPROPERTIES ('clusterBy'='id')")
    sql("INSERT INTO gtest.ns.src SELECT id, id * 3 FROM range(0, 100)")
    sql("CALL gtest.sys.clone(source => 'ns.src', target => 'ns.dst')")
    assert(sql("SELECT sum(v) FROM gtest.ns.dst").collect()(0).getLong(0) ===
      (0L until 100L).map(_ * 3).sum)
    // shared inodes at clone time
    def inodes(t: String, v: Long) = graft.operators.Versioned.dataFiles(
      java.nio.file.Paths.get(s"$warehouse/ns/$t/v=$v"))
      .map(p => java.nio.file.Files.getAttribute(p, "unix:ino")).toSet
    assert(inodes("dst", 0L) === inodes("src", 0L))
    // the clone carries the layout contract and diverges independently
    sql("INSERT INTO gtest.ns.dst SELECT id, 0 FROM range(100, 110)")
    assert(sql("SELECT count(*) FROM gtest.ns.dst").collect()(0).getLong(0) === 110L)
    assert(sql("SELECT count(*) FROM gtest.ns.src").collect()(0).getLong(0) === 100L)
    val dup = intercept[Exception] {
      sql("CALL gtest.sys.clone(source => 'ns.src', target => 'ns.dst')")
    }
    assert(chain(dup).exists(m => m.contains("already exists") ||
      m.contains("TABLE_OR_VIEW_ALREADY_EXISTS")), chain(dup))
  }

  test("sys.clone(ref) pins the schema contract to the resolved version") {
    sql("DROP TABLE IF EXISTS gtest.ns.psrc")
    sql("DROP TABLE IF EXISTS gtest.ns.pdst")
    sql("DROP TABLE IF EXISTS gtest.ns.pdst_cur")
    sql("CREATE TABLE gtest.ns.psrc (id BIGINT, v BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.psrc SELECT id, id * 3 FROM range(0, 40)")
    sql("CALL gtest.sys.tag(table => 'ns.psrc', name => 'pre', version => 0)")
    // evolve PAST the tag: a new column and rows that carry it
    sql("ALTER TABLE gtest.ns.psrc ADD COLUMN note STRING")
    sql("INSERT INTO gtest.ns.psrc SELECT id, id, 'late' FROM range(100, 110)")
    sql("CALL gtest.sys.clone(source => 'ns.psrc', " +
      "target => 'ns.pdst', ref => 'pre')")
    // the pinned clone advertises the SNAPSHOT's schema — not the
    // evolved one (the later ADD COLUMN must not leak in)
    assert(spark.table("gtest.ns.pdst").schema.fieldNames.toSeq ===
      Seq("id", "v"))
    // reads equal the source's VERSION AS OF on the pinned columns
    val asOf = sql("SELECT id, v FROM gtest.ns.psrc VERSION AS OF 0 " +
      "ORDER BY id").collect().toSeq
    assert(sql("SELECT id, v FROM gtest.ns.pdst ORDER BY id")
      .collect().toSeq === asOf)
    // a plain (no-ref) clone still carries the CURRENT contract
    sql("CALL gtest.sys.clone(source => 'ns.psrc', target => 'ns.pdst_cur')")
    assert(spark.table("gtest.ns.pdst_cur").schema.fieldNames.toSeq ===
      Seq("id", "v", "note"))
  }

  test("sys.clone(ref) pin unions ALL footers of a heterogeneous snapshot") {
    sql("DROP TABLE IF EXISTS gtest.ns.hsrc")
    sql("DROP TABLE IF EXISTS gtest.ns.hdst")
    sql("CREATE TABLE gtest.ns.hsrc (id BIGINT, v BIGINT) USING `graft-versioned`")
    sql("INSERT INTO gtest.ns.hsrc SELECT id, id FROM range(0, 30)")
    sql("ALTER TABLE gtest.ns.hsrc ADD COLUMN note STRING")
    // v=1 now holds HETEROGENEOUS footers: the carried-forward v=0
    // files lack `note`, this insert's files carry it — the pin must
    // union the footers, not sample one (a single pre-ADD footer would
    // silently drop a column whose data the snapshot really carries)
    sql("INSERT INTO gtest.ns.hsrc SELECT id, id, 'late' FROM range(100, 120)")
    sql("CALL gtest.sys.tag(table => 'ns.hsrc', name => 'mixed', version => 1)")
    sql("CALL gtest.sys.clone(source => 'ns.hsrc', " +
      "target => 'ns.hdst', ref => 'mixed')")
    assert(spark.table("gtest.ns.hdst").schema.fieldNames.toSeq ===
      Seq("id", "v", "note"))
    // the carried data is really there: old rows null-fill, new carry it
    assert(sql("SELECT count(*) FROM gtest.ns.hdst WHERE note = 'late'")
      .collect()(0).getLong(0) === 20L)
    assert(sql("SELECT count(*) FROM gtest.ns.hdst WHERE note IS NULL")
      .collect()(0).getLong(0) === 30L)
  }

  test("fail-loud: unknown procedure, missing table argument") {
    val unknown = intercept[Exception] {
      sql("CALL gtest.sys.optimize(table => 'ns.t1')")
    }
    assert(chain(unknown).exists(m =>
      m.contains("unknown procedure") || m.contains("not found")), chain(unknown))
    sql("CREATE TABLE IF NOT EXISTS gtest.ns.t8 (id BIGINT) USING `graft-versioned`")
    val missing = intercept[Exception] {
      sql("CALL gtest.sys.compact(table => 'ns.nope')")
    }
    assert(chain(missing).exists(m =>
      m.contains("TABLE_OR_VIEW_NOT_FOUND") || m.contains("cannot be found")),
      chain(missing))
  }

  private def fileCount(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScalaCount(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  private implicit class IterOps(it: java.util.Iterator[java.nio.file.Path]) {
    def asScalaCount(p: java.nio.file.Path => Boolean): Int = {
      var n = 0
      while (it.hasNext) if (p(it.next())) n += 1
      n
    }
  }

  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("CALL sys.fsck: clean table all-zero; planted corruption reported") {
    sql("DROP TABLE IF EXISTS gtest.ns.fsck1")
    sql("CREATE TABLE gtest.ns.fsck1 (id BIGINT, v BIGINT) " +
      "USING `graft-versioned` TBLPROPERTIES ('deletionVectors'='true')")
    sql("INSERT INTO gtest.ns.fsck1 SELECT id, id FROM range(0, 100)")
    sql("INSERT INTO gtest.ns.fsck1 SELECT id, id FROM range(100, 200)")
    sql("DELETE FROM gtest.ns.fsck1 WHERE id = 5") // a DV sidecar exists
    def report(): Map[(Long, String), (Long, String)] =
      sql("CALL gtest.sys.fsck(table => 'ns.fsck1')").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getString(3))).toMap
    val clean = report()
    assert(clean.nonEmpty)
    assert(clean.forall(_._2._1 == 0L), s"clean table must fsck clean: " +
      clean.filter(_._2._1 != 0L).toString)
    assert(clean.keys.exists(_._2 == "manifest-data-files"))
    assert(clean.keys.exists(_._2 == "manifest-dv-files"))
    assert(clean.keys.exists(_._2 == "stats-coverage"))
    // plant: delete one manifest-listed data file + leave a staging dir
    val root = java.nio.file.Paths.get(s"$warehouse/ns/fsck1")
    val victim = graft.operators.Versioned
      .dataFiles(root.resolve("v=0")).head
    java.nio.file.Files.delete(victim)
    java.nio.file.Files.createDirectories(
      root.resolve("_staging_crashed_attempt"))
    val bad = report() // reports, never throws
    assert(bad((0L, "manifest-data-files"))._1 >= 1L,
      "the missing data file must be reported")
    assert(bad((0L, "manifest-data-files"))._2
      .contains(victim.getFileName.toString))
    assert(bad((-1L, "staging-leftovers"))._1 === 1L)
  }
}
