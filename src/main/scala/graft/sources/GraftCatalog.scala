package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Versioned

/** TableCatalog plugin over a warehouse of version-store roots — the
  * surface that makes the engine's versioned tables first-class SQL
  * citizens (the reference's versioned loads,
  * price_prediction_data_pipeline.py:140-177, addressed by name instead
  * of path):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/graft")
  *
  * CREATE NAMESPACE graft.feeds
  * CREATE TABLE graft.feeds.listings (id BIGINT, price BIGINT, tag STRING)
  *   USING graft-versioned
  * INSERT INTO graft.feeds.listings SELECT ...        -- commits v=next (append)
  * INSERT OVERWRITE graft.feeds.listings SELECT ...   -- snapshot replace
  * SELECT * FROM graft.feeds.listings VERSION AS OF 0 -- SQL time travel
  * SELECT * FROM graft.feeds.listings TIMESTAMP AS OF '...'
  * }}}
  *
  * Layout on disk: `<warehouse>/<ns...>/<table>` is a plain
  * [[Versioned]] root (v=N snapshot dirs + optional _changes feed), plus
  * a `_graft_schema.json` manifest (the declared schema, Catalyst JSON)
  * and `_graft_namespace` markers on namespace dirs. Everything the
  * path-based API wrote stays readable by name and vice versa — the
  * catalog adds naming, not a new format.
  *
  * Schema evolution is metadata-only ([[alterTable]]): `ADD COLUMN`
  * appends a nullable column (pre-evolution files null-fill on read),
  * and layout TBLPROPERTIES / CHECK constraints can be SET/UNSET.
  * `PARTITIONED BY` accepts IDENTITY, BUCKET and TEMPORAL
  * (years/months/days/hours) transforms and maps them onto the
  * clusterBy + file-stats-skipping layout ([[partitionContract]],
  * [[PartitionTransforms]]); `truncate` and narrowing column retypes
  * stay loudly unsupported (a retype would change the meaning of
  * immutable history; only the INT→BIGINT / FLOAT→DOUBLE widenings
  * are legal).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private val SchemaManifest = "_graft_schema.json"
  private val PropsManifest = "_graft_props.json"
  private val ConstraintsManifest = "_graft_constraints"
  private val ColMapManifest = "_graft_colmap"
  private val NsMarker = "_graft_namespace"
  // every manifest above publishes through CommitStore.publishFile: a
  // concurrent reader sees the old contract or the new one, never a
  // half-written manifest, and a crashed publish leaves only
  // `_graft_*.tmp` debris that sys.vacuum sweeps

  /** COLUMN MAPPING manifest: `m<TAB>logical<TAB>physical` per live
    * column plus `r<TAB>physical` per retired (dropped) physical name.
    * Files always store PHYSICAL names (fixed at column birth), so
    * RENAME moves only the logical name (metadata-only, old files stay
    * readable) and DROP retires the physical name so a later ADD of
    * the same logical name can never read the dropped column's bytes.
    * Absent manifest = identity mapping (the common case). */
  private def readColMap(ident: Identifier): Option[(Map[String, String], Set[String])] = {
    val p = tablePath(ident).resolve(ColMapManifest)
    if (!Files.exists(p)) None
    else {
      val lines = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
      Some((
        lines.collect { case l if l.startsWith("m\t") =>
          val Array(_, lg, ph) = l.split("\t", 3); lg -> ph
        }.toMap,
        lines.collect { case l if l.startsWith("r\t") =>
          l.split("\t", 2)(1)
        }.toSet))
    }
  }

  private def writeColMap(ident: Identifier, map: Map[String, String],
                          retired: Set[String]): Unit =
    CommitStore.active.publishFile(tablePath(ident).resolve(ColMapManifest),
      (map.toSeq.sortBy(_._1).map { case (l, p) => s"m\t$l\t$p" } ++
        retired.toSeq.sorted.map(p => s"r\t$p"))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Current mapping as a complete map over `schema`'s columns
    * (identity-filled), plus retired physical names. */
  private def colMapState(ident: Identifier,
                          schema: StructType): (Map[String, String], Set[String]) =
    readColMap(ident) match {
      case Some((m, r)) =>
        (schema.fieldNames.map(n => n -> m.getOrElse(n, n)).toMap, r)
      case None => (schema.fieldNames.map(n => n -> n).toMap, Set.empty)
    }

  /** Persisted CHECK constraints: one `name<TAB>predicateSql` line. */
  private def readConstraints(ident: Identifier): Seq[(String, String)] = {
    val p = tablePath(ident).resolve(ConstraintsManifest)
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.split("\t", 2)).collect {
        case Array(n, sql) if n.nonEmpty => (n, sql)
      }.toSeq
  }

  private def writeConstraints(ident: Identifier,
                               cs: Seq[(String, String)]): Unit = {
    val p = tablePath(ident).resolve(ConstraintsManifest)
    if (cs.isEmpty) Files.deleteIfExists(p)
    else CommitStore.active.publishFile(p, cs.map { case (n, sql) => s"$n\t$sql" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def nsPath(ns: Array[String]): Path = ns.foldLeft(warehouse)(_.resolve(_))
  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace).resolve(ident.name)
  private def manifestOf(ident: Identifier): Path =
    tablePath(ident).resolve(SchemaManifest)

  private def listDirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val stream = Files.list(p)
      try stream.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally stream.close()
    }

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    listDirs(nsPath(namespace))
      .filter(d => Files.exists(d.resolve(SchemaManifest)))
      .map(d => Identifier.of(namespace, d.getFileName.toString))
      .sortBy(_.name).toArray
  }

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ------------------------------------------------ FunctionCatalog
  // Spark's storage-partitioned-join machinery resolves a scan's
  // reported partition transforms (and a write's required clustering)
  // through the table's catalog — the Iceberg pattern. `bucket` is the
  // the functions the transforms need; Spark looks them up with an
  // empty namespace (V2ExpressionUtils), user SQL may qualify them.
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"),
      Identifier.of(namespace, "truncate"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else if (ident.name.equalsIgnoreCase("truncate")) GraftTruncateFunction
    else if (ident.name.toLowerCase.startsWith("truncate_"))
      // the SPJ spelling: width in the name (see PartitionTransforms
      // .spjV2 — KeyGroupedPartitioning admits one-reference
      // transforms only), any positive width resolves
      scala.util.Try(ident.name.drop("truncate_".length).toInt).toOption
        .filter(_ > 0).map(GraftTruncateWidthFunction)
        .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def loadTable(ident: Identifier): Table = tableWith(ident, Map.empty)

  /** SQL `VERSION AS OF <n>` — resolved by the same DSv2 scan rules as
    * `.option("versionAsOf", n)`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // a version number, or a TAG name (`VERSION AS OF 'train-v1'`) —
    // resolution (and the loud unknown-ref error) happens in
    // Versioned.resolveRef at scan planning
    require(version.nonEmpty,
      "graft catalog: VERSION AS OF wants a version number or tag name")
    tableWith(ident, Map("versionAsOf" -> version))
  }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands the literal as epoch
    * MICROS, which is exactly the stamp space the DSv2 writer commits
    * in (stampValue), so SQL time travel works out of the box on any
    * DSv2-written table. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableWith(ident, Map("timestampAsOf" -> timestamp.toString))

  private def tableWith(ident: Identifier, extra: Map[String, String]): Table = {
    val m = manifestOf(ident)
    if (!Files.exists(m)) throw new NoSuchTableException(ident)
    val schema = DataType.fromJson(new String(Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
    // table-level layout contract: a persisted clusterBy property makes
    // EVERY insert range-cluster + sort on those columns (the write
    // enforces it via RequiresDistributionAndOrdering)
    val props = tablePath(ident).resolve(PropsManifest)
    val persisted =
      if (!Files.exists(props)) Map.empty[String, String]
      else new String(Files.readAllBytes(props),
          java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.map(_.split("=", 2)).collect {
          case Array(k, v) if k.nonEmpty => k -> v
        }.toMap
    // graftCatalogManaged marks the schema as MANIFEST-authoritative:
    // the write builder validates appends against it (it may have
    // evolved past the stored files) instead of footer inference
    val colMapOpt = readColMap(ident).map { case (m, _) =>
      "colmap" -> GraftVersionedTable.serializeColMap(
        schema.fieldNames.map(n => n -> m.getOrElse(n, n)).toMap)
    }
    val opts = persisted ++ Map("path" -> tablePath(ident).toString,
      "graftCatalogManaged" -> "true") ++ colMapOpt ++ extra
    val constraints: Array[Constraint] = readConstraints(ident).map {
      case (n, sql) => Constraint.check(n).predicateSql(sql).build(): Constraint
    }.toArray
    new GraftVersionedTable(schema, new CaseInsensitiveStringMap(opts.asJava),
      constraints)
  }

  /** `bloomFilterColumns` entries must exist and be integral/string —
    * the two type families whose equality the per-file Bloom filters
    * can hash consistently on both the build and probe side. */
  private def validateBloomCols(value: String, schema: StructType): Unit =
    value.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: bloomFilterColumns column '$c' not in table " +
            s"schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
      import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft catalog: bloomFilterColumns column '$c' is " +
            s"${dt.simpleString} — Bloom membership needs an integral or " +
            "string column (equality must hash identically at build and probe)")
      }
    }

  /** Shared extraction for every Column[]-taking DDL entry (CREATE,
    * staged CREATE/REPLACE): the (schema-with-default-metadata,
    * auto-column specs) pair, fully validated. */
  private def columnContract(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : (StructType, Seq[AutoColumns.Spec]) = {
    val specs: Seq[graft.sources.AutoColumns.Spec] = columns.toSeq.flatMap { c =>
      (Option(c.generationExpression()), Option(c.identityColumnSpec())) match {
        case (Some(e), _) =>
          require(!e.contains('\t') && !e.contains('\n'),
            s"graft catalog: generation expression of '${c.name}' must " +
              "not contain tabs or newlines")
          Some(AutoColumns.Generated(c.name, e))
        case (_, Some(s)) =>
          require(c.dataType == LongType,
            s"graft catalog: IDENTITY column '${c.name}' must be BIGINT, " +
              s"got ${c.dataType.simpleString}")
          Some(AutoColumns.Identity(c.name, s.getStart, s.getStep,
            s.isAllowExplicitInsert))
        case _ => None
      }
    }
    // (CatalogV2Util is private[sql]; the struct is trivial to build —
    // generation/identity info lives in the _graft_generated manifest.)
    // CREATE-time DEFAULT values persist as the standard Spark field
    // metadata (CURRENT_DEFAULT / EXISTS_DEFAULT) inside the schema
    // manifest: the ANALYZER then fills omitted columns and the
    // DEFAULT keyword on every INSERT — engine-side, nothing for the
    // write path to do. ADD COLUMN keeps refusing defaults (existing
    // rows would need an exists-default read path the null-fill
    // contract deliberately doesn't have).
    val schema = StructType(columns.map { c =>
      val base = StructField(c.name, c.dataType, c.nullable)
      Option(c.defaultValue()) match {
        case None => base
        case Some(d) =>
          val sql = d.getSql
          require(sql != null && sql.nonEmpty,
            s"graft catalog: DEFAULT of '${c.name}' carries no SQL text")
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(
              ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            .putString(
              ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
            .build())
      }
    })
    if (specs.nonEmpty) {
      // validate generation expressions at DDL time, not first insert
      val autoNames = specs.map(_.name).toSet
      val spark = org.apache.spark.sql.SparkSession.active
      specs.foreach {
        case AutoColumns.Generated(n, sql) =>
          AutoColumns.resolveExpr(spark, sql, n, schema(n).dataType,
            schema, autoNames)
        case _: AutoColumns.Identity => ()
      }
    }
    (schema, specs)
  }

  /** DDL entry for GENERATED / IDENTITY / DEFAULT columns (the
    * capabilities above make Spark's parser accept them): extract the
    * contract from the V2 Column objects, create the table, persist
    * the auto specs in the `_graft_generated` manifest — the write
    * builder computes/enforces them on every batch write. */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (schema, specs) = columnContract(columns)
    createWith(ident, schema, partitions, properties, specs)
  }

  // ------------------------------------------------- staged DDL
  // CREATE/REPLACE TABLE AS SELECT through Spark's ATOMIC plans
  // (StagingTableCatalog): the table's EXISTENCE is its schema
  // manifest, so staging = write the data first, publish the manifest
  // at commitStagedChanges. REPLACE therefore PRESERVES HISTORY —
  // the replacement lands as one truncate commit on the same root
  // (Delta's REPLACE semantics: time travel and tags keep working
  // across it; pre-replace snapshots read through the new contract,
  // null-filling columns their files never had — the same global-
  // manifest discipline ADD COLUMN documents). A REPLACE without a
  // query commits an EMPTY truncate version. Abort rolls back any
  // staged data commit (create: the whole root).

  private class GraftStagedTable(
      ident: Identifier, declared: StructType,
      specs: Seq[AutoColumns.Spec],
      properties: util.Map[String, String], existedBefore: Boolean,
      derivedNames: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

    // PARTITION-TRANSFORM-derived cluster columns are not part of the
    // CTAS query's output: Spark aligns the staged write against the
    // USER columns, the writer appends + computes the derived ones
    // (AutoColumns append fill), and commitStagedChanges publishes the
    // full contract
    private val userSchema: StructType =
      if (derivedNames.isEmpty) declared
      else StructType(declared.fields.filterNot(f => derivedNames(f.name)))

    private val root = tablePath(ident)
    Files.createDirectories(root)
    private val versionBefore = Versioned.latestVersion(root.toString)

    // COLUMN IDENTITY ACROSS REPLACE: a surviving logical name keeps
    // its physical birth name when its type is unchanged (or legally
    // widened), so time travel to pre-replace snapshots keeps surfacing
    // the data the old files DO carry (the documented REPLACE contract
    // null-fills only columns a file never had). A dropped or
    // incompatibly-retyped logical retires its physical name — a later
    // column of the same logical name can never rebind the old bytes.
    private val hadOldColMap = existedBefore && readColMap(ident).isDefined
    private val (stagedColMap, stagedRetired, carriedWidening):
        (Map[String, String], Set[String], Boolean) =
      if (!existedBefore)
        (declared.fieldNames.map(n => n -> n).toMap, Set.empty, false)
      else {
        val old = DataType.fromJson(new String(
          Files.readAllBytes(manifestOf(ident)),
          java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
        val (oldMap, oldRetired) = colMapState(ident, old)
        def carryable(was: DataType, now: DataType): Boolean =
          was == now || ((was, now) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          })
        val carried: Map[String, String] = declared.fields.flatMap { f =>
          old.fields.find(_.name == f.name).collect {
            case o if carryable(o.dataType, f.dataType) =>
              f.name -> oldMap(o.name)
          }
        }.toMap
        val widening = declared.fields.exists { f =>
          carried.contains(f.name) &&
            old.fields.find(_.name == f.name).exists(_.dataType != f.dataType)
        }
        val droppedPhys = old.fieldNames
          .filterNot(carried.contains).map(oldMap(_)).toSet
        var used = carried.values.toSet ++ oldRetired ++ droppedPhys
        val full = declared.fieldNames.map { n =>
          carried.get(n) match {
            case Some(p) => n -> p
            case None =>
              val p = if (!used(n)) n
                else s"${n}_${java.util.UUID.randomUUID.toString.take(8)}"
              used += p
              n -> p
          }
        }.toMap
        (full, oldRetired ++ droppedPhys, widening)
      }

    // the NEW contract's auto specs bind the staged write (identity
    // seeded at its declared start — a REPLACE is a fresh id space);
    // the on-disk manifest still holds the OLD contract and keeps
    // binding concurrent writes until commitStagedChanges swaps it —
    // a crash mid-CTAS leaves the live table's contract untouched
    private val stagedSpecs: Seq[AutoColumns.Spec] = specs.map {
      case i: AutoColumns.Identity => i.copy(hwm = Some(i.start))
      case s => s
    }

    // the staged write behaves exactly like a write to the final table:
    // layout/feed options travel as table options (they persist at
    // commit)
    private val stagedOpts: Map[String, String] = {
      val layout = Seq("clusterBy", "writePartitions", "targetFileBytes",
        "changeFeedKeys", "deletionVectors", "autoMerge", "partitionedBy",
        graft.operators.BloomSidecar.PropKey,
        graft.operators.NdvSidecar.PropKey)
      layout.flatMap(k => Option(properties.get(k)).map(k -> _)).toMap ++
        Map("path" -> root.toString, "graftCatalogManaged" -> "true",
          "stagedAutoSpecs" -> AutoColumns.serialize(stagedSpecs),
          "colmap" -> GraftVersionedTable.serializeColMap(stagedColMap))
    }
    private val inner = new GraftVersionedTable(userSchema,
      new CaseInsensitiveStringMap(stagedOpts.asJava))

    override def name(): String = s"${ident.toString} (staged)"
    override def schema(): StructType = userSchema
    override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder = {
      val b = inner.newWriteBuilder(info)
      // REPLACE: the staged query's output REPLACES the snapshot (one
      // truncate commit on the same root — history preserved). CREATE:
      // plain bootstrap append onto the fresh root.
      if (existedBefore)
        b.asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
          .truncate()
      else b
    }

    override def commitStagedChanges(): Unit = {
      // REPLACE with no staged query (CREATE OR REPLACE without AS
      // SELECT): the replacement content is EMPTY — commit an empty
      // truncate version so pre-replace rows never leak through
      if (existedBefore &&
          Versioned.latestVersion(root.toString) == versionBefore) {
        val staging = Files.createTempDirectory(root, "_staging_replace_")
        GroupParquetWriterFactory(
          GraftVersionedTable.physicalSchema(declared, stagedColMap),
          staging.toString).emptyFile("part-empty.parquet")
        VersionedWriteIo.commitStaged(root.toString, staging,
          GraftVersionedTable.physicalSchema(declared, stagedColMap),
          appendPrev = false,
          stamp = VersionedWriteIo.stampValue(None), epochTag = None)
      }
      // publish the new contract — every manifest lands via staged
      // write + atomic rename (publishTableContract), so a concurrent
      // reader never sees a window where the table has no schema.
      // Old-contract constraints are stale (they bound the replaced
      // schema); the colmap CARRIES FORWARD surviving bindings and
      // retires the rest, so pre-replace snapshots keep reading their
      // renamed columns' data.
      Files.deleteIfExists(root.resolve(ConstraintsManifest))
      publishTableContract(ident, declared, properties)
      if (hadOldColMap || stagedRetired.nonEmpty ||
          stagedColMap.exists { case (l, p) => l != p }) {
        Versioned.requireReaderFeature(root, "column-mapping")
        Versioned.requireWriterFeature(root, "column-mapping")
        writeColMap(ident, stagedColMap, stagedRetired)
      } else Files.deleteIfExists(root.resolve(ColMapManifest))
      if (carriedWidening) {
        // a carried column whose declared type widened: pre-replace
        // files keep the narrow primitive, readers widen on scan
        Versioned.requireReaderFeature(root, "type-widening")
        Versioned.requireWriterFeature(root, "type-widening")
      }
      if (specs.nonEmpty) AutoColumns.write(root, specs)
      else Files.deleteIfExists(root.resolve(AutoColumns.ManifestFile))
    }

    override def abortStagedChanges(): Unit = {
      if (!existedBefore) Versioned.deleteRecursively(root)
      else {
        // drop any staged data commit — the live manifests (schema,
        // auto columns, colmap, constraints) were never touched
        var cur = Versioned.latestVersion(root.toString)
        while (cur != versionBefore && cur.isDefined) {
          Versioned.rollback(root.toString)
          cur = Versioned.latestVersion(root.toString)
        }
      }
    }
  }

  private def stage(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo,
      mustExist: Option[Boolean])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    require(info.constraints() == null || info.constraints().isEmpty,
      "graft catalog: add CHECK constraints with ALTER TABLE after " +
        "creation — inline constraint DDL is not staged")
    val exists = Files.exists(manifestOf(ident))
    mustExist match {
      case Some(false) if exists => throw new TableAlreadyExistsException(ident)
      case Some(true) if !exists => throw new NoSuchTableException(ident)
      case _ => ()
    }
    // REPLACE is snapshot destruction — an appendOnly table's audit
    // contract refuses it exactly like INSERT OVERWRITE/TRUNCATE (the
    // query-less REPLACE path commits outside the write builder, so
    // the guard must live here)
    if (exists && (Versioned.writerFeatures(tablePath(ident).toString)
          .contains("append-only") ||
        readProps(ident).get("appendOnly").exists(_.trim.toBoolean)))
      throw new UnsupportedOperationException(
        s"graft catalog: CREATE OR REPLACE of ${ident} refused — the " +
          "table is appendOnly (INSERT/append commits only); unset the " +
          "appendOnly property and drop the 'append-only' writer " +
          "feature to replace it")
    val (schema, specs) = columnContract(info.columns())
    // PARTITIONED BY folds into the layout properties (and may extend
    // the schema with derived cluster columns) here, so the STAGED
    // write already clusters on the partition transforms
    val (schema2, derived, props2) =
      partitionContract(info.partitions(), schema, info.properties())
    derived.foreach { d =>
      require(!specs.exists(_.name == d.name),
        s"graft catalog: PARTITIONED BY derives column '${d.name}', which " +
          "is already a declared GENERATED/IDENTITY column")
    }
    GroupParquetIo.writeMessageType(schema2) // DDL-time type check
    new GraftStagedTable(ident, schema2, specs ++ derived, props2, exists,
      derived.map(_.name).toSet)
  }

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, mustExist = Some(false))

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, mustExist = Some(true))

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, mustExist = None)

  /** `PARTITIONED BY (…)` maps onto the clusterBy +
    * file-stats-skipping layout (Delta's liquid-clustering answer to
    * the same clause): every insert range-clusters on the partition
    * columns, so each file covers a narrow value slice and a
    * partition-predicate scan prunes via the per-file min/max sidecar
    * exactly like directory pruning would — without freezing a
    * physical dir layout into the contract. IDENTITY transforms
    * cluster on the column itself; BUCKET and TEMPORAL
    * (years/months/days/hours) transforms materialize a GENERATED
    * cluster column (Delta's generated-partition-column recipe — see
    * [[PartitionTransforms]]) that the layout clusters on, the stats
    * sidecar pins per file, and the scan reports for
    * storage-partitioned joins. The mapping is documented in SHOW
    * TBLPROPERTIES (`partitionedBy` + the derived `clusterBy`).
    * Returns (schema extended with the derived columns, the derived
    * GENERATED specs, properties with the layout folded in). Refuses
    * the ambiguous both-spellings shape. */
  private def partitionContract(partitions: Array[Transform],
      schema: StructType, properties: util.Map[String, String])
      : (StructType, Seq[AutoColumns.Spec], util.Map[String, String]) = {
    val entries = PartitionTransforms.fromTransforms(partitions, schema)
    if (entries.isEmpty) (schema, Seq.empty, properties)
    else {
      require(Option(properties.get("clusterBy")).forall(_.trim.isEmpty),
        "graft catalog: PARTITIONED BY and the clusterBy property are " +
          "two spellings of the same layout — give exactly one")
      val extended = StructType(schema.fields ++
        PartitionTransforms.derivedFields(entries, schema))
      val derived: Seq[AutoColumns.Spec] =
        PartitionTransforms.generatedSpecs(entries, schema)
      // validate the derived generation expressions at DDL time
      val spark = org.apache.spark.sql.SparkSession.active
      derived.foreach { case AutoColumns.Generated(n, sql) =>
        AutoColumns.resolveExpr(spark, sql, n,
          extended(extended.fieldIndex(n)).dataType, extended,
          derived.map(_.name).toSet)
      }
      val m = new util.HashMap[String, String](properties)
      m.put("clusterBy", entries.map(_.clusterCol).mkString(","))
      m.put("partitionedBy", PartitionTransforms.spellingOf(entries))
      (extended, derived, m)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createWith(ident, schema, partitions, properties, Seq.empty)

  /** Shared CREATE core: fold the partition contract (which may extend
    * the schema with derived cluster columns), publish, persist the
    * merged auto-column specs. */
  private def createWith(ident: Identifier, schema: StructType,
                         partitions: Array[Transform],
                         properties: util.Map[String, String],
                         colSpecs: Seq[AutoColumns.Spec]): Table = {
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    if (Files.exists(manifestOf(ident))) throw new TableAlreadyExistsException(ident)
    val (schema2, derived, props2) =
      partitionContract(partitions, schema, properties)
    derived.foreach { d =>
      require(!colSpecs.exists(_.name == d.name),
        s"graft catalog: PARTITIONED BY derives column '${d.name}', which " +
          "is already a declared GENERATED/IDENTITY column")
    }
    publishTableContract(ident, schema2, props2)
    val specs = colSpecs ++ derived
    if (specs.nonEmpty) AutoColumns.write(tablePath(ident), specs)
    loadTable(ident)
  }

  /** Validate + publish a table's schema/layout contract: validations
    * run FIRST (a failed DDL never leaves a half-created table), then
    * each manifest lands via atomic rename — REPLACE-safe by
    * construction (a concurrent reader sees the old contract or the
    * new one, never a missing manifest). Shared by CREATE and staged
    * CTAS/RTAS commit. */
  private def publishTableContract(ident: Identifier, schema: StructType,
                                   properties: util.Map[String, String]): Unit = {
    GroupParquetIo.writeMessageType(schema) // DDL-time type check, fail loud
    // validate the layout contract (TBLPROPERTIES: clusterBy,
    // writePartitions, targetFileBytes) at DDL time, not first insert
    Option(properties.get("clusterBy")).filter(_.nonEmpty).foreach { cb =>
      cb.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
        require(schema.fieldNames.contains(c),
          s"graft catalog: clusterBy column '$c' not in table schema " +
            s"${schema.fieldNames.mkString("[", ", ", "]")}")
      }
    }
    Option(properties.get("changeFeedKeys")).filter(_.nonEmpty).foreach { ks =>
      ks.split(",").map(_.trim).filter(_.nonEmpty).foreach { k =>
        require(schema.fieldNames.contains(k),
          s"graft catalog: changeFeedKeys column '$k' not in table schema " +
            s"${schema.fieldNames.mkString("[", ", ", "]")}")
      }
    }
    Option(properties.get(graft.operators.BloomSidecar.PropKey))
      .filter(_.nonEmpty).foreach(validateBloomCols(_, schema))
    Option(properties.get(graft.operators.NdvSidecar.PropKey))
      .filter(_.nonEmpty).foreach { v =>
        v.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
          require(schema.fieldNames.contains(c),
            s"graft catalog: ndvColumns column '$c' not in table schema " +
              s"${schema.fieldNames.mkString("[", ", ", "]")}")
        }
      }
    Files.createDirectories(tablePath(ident))
    CommitStore.active.publishFile(manifestOf(ident),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val layoutProps =
      Seq("clusterBy", "writePartitions", "targetFileBytes", "changeFeedKeys",
        "deletionVectors", "appendOnly", "autoMerge", "partitionedBy",
        "rowTracking",
        graft.operators.BloomSidecar.PropKey,
        graft.operators.NdvSidecar.PropKey)
        .flatMap(k => Option(properties.get(k)).filter(_.nonEmpty).map(v => s"$k=$v"))
    if (layoutProps.nonEmpty)
      CommitStore.active.publishFile(tablePath(ident).resolve(PropsManifest),
        layoutProps.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else Files.deleteIfExists(tablePath(ident).resolve(PropsManifest))
    // the append-only promise binds every FUTURE writer of the table —
    // protocol-flag it at birth (Delta's delta.appendOnly + the
    // appendOnly writer feature)
    if (Option(properties.get("appendOnly")).exists(_.trim.toBoolean))
      Versioned.requireWriterFeature(tablePath(ident), "append-only")
    // row tracking binds every future writer (an id-blind build would
    // commit files without base assignments) — protocol-flag at birth;
    // the metadata column name must stay free in the user schema
    if (Option(properties.get("rowTracking")).exists(_.trim.toBoolean)) {
      requireRowIdNamesFree(schema)
      Versioned.requireWriterFeature(tablePath(ident),
        graft.operators.RowIds.Feature)
    }
  }

  private def requireRowIdNamesFree(schema: StructType): Unit =
    Seq(GraftVersionedTable.RowIdColumn,
        GraftVersionedTable.RowVerColumn,
        graft.operators.RowIds.MaterializedCol,
        graft.operators.RowIds.MaterializedVerCol).foreach { n =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"graft catalog: rowTracking reserves column name '$n' — " +
          "rename the conflicting table column first")
    }

  /** Schema evolution, Delta-style: `ALTER TABLE … ADD COLUMN(S)`
    * appends nullable columns to the manifest — a METADATA-ONLY commit
    * (no file is rewritten; the reader null-fills the new column for
    * every pre-evolution file, and the manifest schema applies to all
    * versions, old snapshots included). Layout TBLPROPERTIES
    * (clusterBy / writePartitions / targetFileBytes) can be SET/UNSET;
    * everything else (DROP/RENAME/retype) is rejected loudly — those
    * would change the meaning of immutable history. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val m = manifestOf(ident)
    if (!Files.exists(m)) throw new NoSuchTableException(ident)
    var schema = DataType.fromJson(new String(Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
    val layoutKeys =
      Set("clusterBy", "writePartitions", "targetFileBytes", "changeFeedKeys",
        "deletionVectors", "appendOnly", "autoMerge", "rowTracking",
        graft.operators.BloomSidecar.PropKey,
        graft.operators.NdvSidecar.PropKey)
    var props = readProps(ident)
    var (colMap, retired) = colMapState(ident, schema)
    val hadColMap = readColMap(ident).isDefined
    // CHECK constraints persist as predicate SQL over LOGICAL names —
    // renaming or dropping a referenced column would silently unbind
    // the predicate, so those changes are refused while referenced
    def constraintReferencing(name: String): Option[String] =
      readConstraints(ident).collectFirst {
        case (cn, sql) if java.util.regex.Pattern
          .compile("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b")
          .matcher(sql).find() => cn
      }
    def propReferencing(name: String): Option[String] =
      Seq("partitionedBy", "clusterBy", "changeFeedKeys").find(k =>
        props.get(k).exists(v =>
          if (k == "partitionedBy")
            PartitionTransforms.parse(v).exists(e =>
              e.sourceCol == name || e.clusterCol == name)
          else v.split(",").map(_.trim).contains(name)))
    // GENERATED/IDENTITY specs bind column NAMES (the spec itself and
    // the base columns its expression references) — renaming, dropping
    // or retyping any of them would silently unbind or retype the
    // generation contract, so those changes are refused while bound
    val autoSpecs = AutoColumns.read(tablePath(ident).toString)
    def autoGuard(name: String, verb: String): Unit = {
      autoSpecs.find(_.name == name).foreach(s =>
        throw new IllegalArgumentException(
          s"graft catalog: cannot $verb '$name' — it is a " +
            "GENERATED/IDENTITY column"))
      autoSpecs.collect { case g: AutoColumns.Generated
          if java.util.regex.Pattern
            .compile("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b")
            .matcher(g.exprSql).find() => g.name
      }.headOption.foreach(dep => throw new IllegalArgumentException(
        s"graft catalog: cannot $verb '$name' — the generation " +
          s"expression of '$dep' references it"))
    }
    val bloomKey = graft.operators.BloomSidecar.PropKey
    val ndvKey = graft.operators.NdvSidecar.PropKey
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft catalog: ADD COLUMN supports top-level columns only, " +
            s"got ${add.fieldNames.mkString(".")}")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.contains(name),
          s"graft catalog: column '$name' already exists")
        require(add.isNullable,
          s"graft catalog: added column '$name' must be nullable — " +
            "existing rows have no value for it")
        require(add.defaultValue() == null,
          s"graft catalog: added column '$name' cannot carry a DEFAULT — " +
            "pre-evolution rows read as NULL")
        require(add.position() == null,
          "graft catalog: ADD COLUMN appends at the end (FIRST/AFTER " +
            "unsupported — file column order is immutable)")
        schema = schema.add(StructField(name, add.dataType, nullable = true))
        // physical birth name: the logical name unless any LIVE or
        // RETIRED physical name already claims it — re-adding a
        // dropped column's name must never read the dropped bytes
        val used = colMap.values.toSet ++ retired
        val phys =
          if (!used(name)) name
          else s"${name}_${java.util.UUID.randomUUID.toString.take(8)}"
        colMap += name -> phys
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft catalog: RENAME COLUMN supports top-level columns only, " +
            s"got ${rn.fieldNames.mkString(".")}")
        val old = rn.fieldNames()(0)
        val nw = rn.newName()
        require(schema.fieldNames.contains(old),
          s"graft catalog: no column '$old' to rename")
        autoGuard(old, "rename")
        require(!schema.fieldNames.contains(nw),
          s"graft catalog: column '$nw' already exists")
        constraintReferencing(old).foreach(cn => throw new IllegalArgumentException(
          s"graft catalog: cannot rename '$old' — CHECK constraint '$cn' " +
            "references it; drop the constraint first"))
        // METADATA-ONLY: the physical (file) name never changes — only
        // the logical binding moves, so every existing file stays
        // readable with zero rewrites
        val phys = colMap(old)
        schema = StructType(schema.fields.map(f =>
          if (f.name == old) f.copy(name = nw) else f))
        colMap = colMap - old + (nw -> phys)
        // the layout contract follows the logical rename (partitionedBy
        // entries parse transform-aware: only IDENTITY entries can
        // reach here — bucket/temporal sources are GENERATED-referenced
        // and autoGuard refused the rename above)
        props = props.map {
          case ("partitionedBy", v) =>
            "partitionedBy" -> PartitionTransforms.spellingOf(
              PartitionTransforms.parse(v).map {
                case PartitionTransforms.IdentityPart(c) if c == old =>
                  PartitionTransforms.IdentityPart(nw)
                case e => e
              })
          case (k, v) if k == "clusterBy" || k == "changeFeedKeys" ||
              k == bloomKey || k == ndvKey =>
            k -> v.split(",").map(_.trim).filter(_.nonEmpty)
              .map(c => if (c == old) nw else c).mkString(",")
          case kv => kv
        }
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft catalog: DROP COLUMN supports top-level columns only, " +
            s"got ${del.fieldNames.mkString(".")}")
        val name = del.fieldNames()(0)
        if (!schema.fieldNames.contains(name)) {
          if (!del.ifExists) throw new IllegalArgumentException(
            s"graft catalog: no column '$name' to drop")
        } else {
          autoGuard(name, "drop")
          require(schema.length > 1,
            "graft catalog: cannot drop the table's last column")
          (propReferencing(name) ++ Seq(bloomKey, ndvKey).filter(k =>
            props.get(k).exists(_.split(",").map(_.trim).contains(name))))
            .headOption.foreach(k => throw new IllegalArgumentException(
              s"graft catalog: cannot drop '$name' — table property '$k' " +
                "references it; unset or change the property first"))
          constraintReferencing(name).foreach(cn => throw new IllegalArgumentException(
            s"graft catalog: cannot drop '$name' — CHECK constraint '$cn' " +
              "references it; drop the constraint first"))
          // METADATA-ONLY: the bytes stay in the immutable files; the
          // physical name is RETIRED so no future ADD can rebind them
          retired += colMap(name)
          colMap -= name
          schema = StructType(schema.fields.filterNot(_.name == name))
        }
      // PARTITION-SPEC EVOLUTION (Iceberg's replace-partition-field):
      // `ALTER TABLE … SET TBLPROPERTIES ('partitionedBy' = '…')`
      // re-partitions the table METADATA-ONLY — no file is rewritten.
      // New derived cluster columns (bucket/temporal) are ADDED like
      // any schema evolution (pre-evolution files read them as null,
      // so the bucket-prune IsNull arm keeps them — sound, never
      // wrong); future writes cluster, roll and pin under the new
      // spec; storage-partitioned joins stay withdrawn until every
      // live file pins the current spec (e.g. after an INSERT
      // OVERWRITE or compaction rewrite). Old derived columns and
      // their generation specs stay — history keeps its meaning.
      case set: TableChange.SetProperty if set.property == "partitionedBy" =>
        val entries = PartitionTransforms.parse(set.value)
        require(entries.nonEmpty,
          "graft catalog: empty partitionedBy — UNSET the property to " +
            "un-partition the table")
        val autoNow = AutoColumns.read(tablePath(ident).toString)
        val spark = org.apache.spark.sql.SparkSession.active
        PartitionTransforms.validate(entries, schema)
        val newSpecs = PartitionTransforms
          .generatedSpecs(entries, schema).flatMap { g =>
            val entry = entries.find(e => e.clusterCol == g.name).get
            if (schema.fieldNames.contains(g.name)) {
              // the derived column already exists: legal only when it
              // is bound to the SAME generation expression (re-evolving
              // to a previous spec) — anything else would reinterpret
              // stored bytes
              val bound = autoNow.collectFirst {
                case AutoColumns.Generated(n, sql) if n == g.name => sql }
              require(bound.contains(g.exprSql),
                s"graft catalog: partitionedBy ${entry.spelling} derives " +
                  s"column '${g.name}', which already exists " +
                  bound.fold("as a plain column")(sql =>
                    s"with a different generation expression ($sql)") +
                  " — pick a different source column name")
              None
            } else {
              val field = PartitionTransforms
                .derivedFields(Seq(entry), schema).head
              AutoColumns.resolveExpr(spark, g.exprSql, g.name,
                field.dataType, schema, Set(g.name))
              // schema-evolution ADD: fresh physical birth name, never
              // rebinding dropped bytes
              val used = colMap.values.toSet ++ retired
              val phys = if (!used(g.name)) g.name
                else s"${g.name}_${java.util.UUID.randomUUID.toString.take(8)}"
              schema = StructType(schema.fields :+ field)
              colMap += g.name -> phys
              Some(g: AutoColumns.Spec)
            }
          }
        if (newSpecs.nonEmpty)
          AutoColumns.write(tablePath(ident), autoNow ++ newSpecs)
        props += ("partitionedBy" -> PartitionTransforms.spellingOf(entries))
        props += ("clusterBy" -> entries.map(_.clusterCol).mkString(","))
      case rm: TableChange.RemoveProperty if rm.property == "partitionedBy" =>
        // un-partition: the layout contract goes, the derived columns
        // and their generation specs stay (history keeps its meaning)
        props -= "partitionedBy"
        props -= "clusterBy"
      case set: TableChange.SetProperty if layoutKeys(set.property) =>
        if (set.property == "clusterBy" || set.property == "changeFeedKeys")
          set.value.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
            require(schema.fieldNames.contains(c),
              s"graft catalog: ${set.property} column '$c' not in table schema")
          }
        // the PARTITIONED BY contract IS the clusterBy mapping — a
        // direct clusterBy edit would silently sever partition pruning
        // while SHOW TBLPROPERTIES keeps advertising the clause
        require(set.property != "clusterBy" ||
            !props.contains("partitionedBy"),
          "graft catalog: this table is PARTITIONED BY " +
            s"(${props.getOrElse("partitionedBy", "")}) — clusterBy is its " +
            "layout mapping and cannot be set directly")
        if (set.property == bloomKey) validateBloomCols(set.value, schema)
        if (set.property == ndvKey)
          set.value.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
            require(schema.fieldNames.contains(c),
              s"graft catalog: ndvColumns column '$c' not in table schema")
          }
        // appendOnly is a WRITER invariant the moment it's set: a build
        // that doesn't know the property could UPDATE/DELETE through
        // the promise — flag writers so foreign builds refuse commits
        if (set.property == "appendOnly" && set.value.trim.toBoolean)
          Versioned.requireWriterFeature(tablePath(ident), "append-only")
        // enabling row tracking on a live table: flag writers, then
        // assign ids to the CURRENT version's files (history before
        // the enablement has none — reads there refuse loudly)
        if (set.property == "rowTracking" && set.value.trim.toBoolean) {
          requireRowIdNamesFree(schema)
          Versioned.requireWriterFeature(tablePath(ident),
            graft.operators.RowIds.Feature)
          graft.operators.RowIds.bootstrap(tablePath(ident).toString)
        }
        props += (set.property -> set.value)
      case rm: TableChange.RemoveProperty if layoutKeys(rm.property) =>
        require(rm.property != "clusterBy" ||
            !props.contains("partitionedBy"),
          "graft catalog: this table is PARTITIONED BY " +
            s"(${props.getOrElse("partitionedBy", "")}) — clusterBy is its " +
            "layout mapping and cannot be unset directly")
        // unsetting row tracking releases the writer flag too — the
        // sidecars stay on disk (inert) but no invariant remains for
        // foreign builds to maintain
        if (rm.property == "rowTracking" &&
            Versioned.writerFeatures(tablePath(ident).toString)
              .contains(graft.operators.RowIds.Feature))
          Versioned.dropWriterFeature(tablePath(ident).toString,
            graft.operators.RowIds.Feature)
        props -= rm.property
      // CHECK constraints: persisted as predicate SQL, exposed through
      // Table.constraints() so Spark enforces them on every write.
      // Spark's own AddCheckConstraintExec has ALREADY validated the
      // existing rows by the time this change arrives (the ALTER fails
      // upstream if current data violates the predicate).
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case c: Check =>
            val existing = readConstraints(ident)
            require(!existing.exists(_._1 == c.name),
              s"graft catalog: constraint '${c.name}' already exists")
            // constraints are a WRITER-side invariant: a build that
            // doesn't enforce them could commit violating rows — flag
            // the table so foreign writers refuse (reads stay open)
            Versioned.requireWriterFeature(tablePath(ident),
              "check-constraints")
            writeConstraints(ident, existing :+ (c.name -> c.predicateSql))
          case other =>
            throw new UnsupportedOperationException(
              s"graft catalog: only CHECK constraints are supported " +
                s"(nothing would enforce ${other.toDDL}) — got $other")
        }
      case drop: TableChange.DropConstraint =>
        val existing = readConstraints(ident)
        if (!existing.exists(_._1 == drop.name) && !drop.ifExists)
          throw new IllegalArgumentException(
            s"graft catalog: no constraint named '${drop.name}'")
        writeConstraints(ident, existing.filterNot(_._1 == drop.name))
      // TYPE WIDENING (Delta's typeWidening): the ONLY legal retypes
      // are value-preserving widenings — INT→BIGINT, FLOAT→DOUBLE.
      // METADATA-ONLY: no file is rewritten; pre-widening files keep
      // the narrow primitive and the reader widens on scan (the ADD
      // COLUMN null-fill discipline applied to types). Flagged as a
      // reader feature (a widening-blind build would crash mid-scan on
      // a narrow file) AND a writer feature (its rewrites must read
      // narrow files correctly before re-encoding them wide).
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns " +
            s"only, got ${up.fieldNames.mkString(".")}")
        val name = up.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"graft catalog: no column '$name' to retype")
        autoGuard(name, "retype")
        val cur = schema(name).dataType
        val nw = up.newDataType()
        val widening = (cur, nw) match {
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        require(widening,
          s"graft catalog: cannot retype '$name' from ${cur.simpleString} " +
            s"to ${nw.simpleString} — only the value-preserving widenings " +
            "INT->BIGINT and FLOAT->DOUBLE are metadata-only; anything " +
            "else would change the meaning of immutable history")
        constraintReferencing(name).foreach(cn =>
          throw new IllegalArgumentException(
            s"graft catalog: cannot retype '$name' — CHECK constraint " +
              s"'$cn' references it; drop the constraint first"))
        Versioned.requireReaderFeature(tablePath(ident), "type-widening")
        Versioned.requireWriterFeature(tablePath(ident), "type-widening")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = nw) else f))
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other — the " +
            "store evolves by ADD/RENAME/DROP of top-level nullable " +
            "columns and widening retypes (INT->BIGINT, FLOAT->DOUBLE; " +
            "all metadata-only, via column mapping) and layout " +
            "TBLPROPERTIES; a narrowing or cross-family retype would " +
            "change the meaning of immutable history")
    }
    GroupParquetIo.writeMessageType(schema) // evolved schema must stay writable
    CommitStore.active.publishFile(m,
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeProps(ident, props)
    // persist the mapping once it carries information (a rename, a
    // drop, or a collision-renamed physical); identity tables skip it
    if (hadColMap || retired.nonEmpty ||
        colMap.exists { case (l, p) => l != p }) {
      // a non-identity mapping changes what a correct read IS (physical
      // file names ≠ logical columns) — protocol-flag it so a build
      // without column mapping refuses the table instead of serving
      // stale names ([[Versioned.checkProtocol]]). Writers need the
      // flag too: a mapping-blind build would write LOGICAL names into
      // files whose contract is physical birth names.
      Versioned.requireReaderFeature(tablePath(ident), "column-mapping")
      Versioned.requireWriterFeature(tablePath(ident), "column-mapping")
      writeColMap(ident, colMap, retired)
    }
    loadTable(ident)
  }

  private def readProps(ident: Identifier): Map[String, String] = {
    val p = tablePath(ident).resolve(PropsManifest)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.split("=", 2)).collect {
        case Array(k, v) if k.nonEmpty => k -> v
      }.toMap
  }

  private def writeProps(ident: Identifier, props: Map[String, String]): Unit = {
    val p = tablePath(ident).resolve(PropsManifest)
    if (props.isEmpty) Files.deleteIfExists(p)
    else CommitStore.active.publishFile(p,
      props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!Files.exists(p.resolve(SchemaManifest))) false
    else { Versioned.deleteRecursively(p); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!Files.exists(manifestOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (Files.exists(manifestOf(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    Files.move(tablePath(oldIdent), tablePath(newIdent))
  }

  // -------------------------------------------------------- namespaces

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.exists(nsPath(namespace).resolve(NsMarker))

  override def listNamespaces(): Array[Array[String]] =
    listDirs(warehouse)
      .filter(d => Files.exists(d.resolve(NsMarker)))
      .map(d => Array(d.getFileName.toString))
      .sortBy(_.head).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    listDirs(nsPath(namespace))
      .filter(d => Files.exists(d.resolve(NsMarker)))
      .map(d => namespace :+ d.getFileName.toString)
      .sortBy(_.mkString(".")).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    val p = nsPath(namespace)
    Files.createDirectories(p)
    Files.write(p.resolve(NsMarker), Array.empty[Byte])
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val p = nsPath(namespace)
    val nonEmpty = listDirs(p).nonEmpty
    if (nonEmpty && !cascade) throw new NonEmptyNamespaceException(namespace)
    Versioned.deleteRecursively(p)
    true
  }

  // -------------------------------------------------------- procedures

  /** Maintenance verbs as SQL stored procedures under the reserved
    * `sys` namespace — the OPTIMIZE / RESTORE / VACUUM surface:
    *
    * {{{
    * CALL graft.sys.compact(table => 'ns.t', target_file_bytes => 134217728)
    * CALL graft.sys.rollback(table => 'ns.t')
    * CALL graft.sys.retain(table => 'ns.t', keep => 3)
    * CALL graft.sys.vacuum(table => 'ns.t', older_than_ms => 86400000)
    * }}}
    *
    * Each maps 1:1 onto the [[Versioned]] lifecycle op the reference's
    * pipelines run in code (compaction rewrite, old-data restore,
    * keep-last-3 backup retention, utils_of_backup.py:155-164) and
    * returns its outcome as rows (compact/rollback: the resulting
    * current version; retain: one row per surviving version). */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("sys")))
      Array("clone", "compact", "convert", "detail", "drop_feature", "files", "fsck", "history", "manifest", "partitions", "purge", "restore", "rollback", "retain", "tag", "tags", "untag", "vacuum")
        .map(Identifier.of(Array("sys"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val known =
      Array("clone", "compact", "convert", "detail", "drop_feature", "files", "fsck", "history", "manifest", "partitions", "purge", "restore", "rollback", "retain", "tag", "tags", "untag", "vacuum")
    require(ident.namespace.sameElements(Array("sys")) && known.contains(ident.name),
      s"graft catalog: unknown procedure ${ident.namespace.mkString(".")}." +
        s"${ident.name} — available: ${known.map("sys." + _).mkString(", ")}")
    val root: String => String = resolveTableRoot
    ident.name match {
      // DESCRIBE DETAIL (Delta's one-row table summary): location,
      // current snapshot's file/byte/row footprint (footer-stats — no
      // data scan; rows null when any file predates the stats
      // sidecar), surviving DV'd rows, protocol features, persisted
      // layout properties, and the row-tracking high-water mark
      case "detail" => new GraftProcedure("detail",
        Array(ProcedureParameter.in("table", StringType).build()),
        new StructType()
          .add("location", StringType, nullable = false)
          .add("current_version", LongType, nullable = false)
          .add("num_versions", LongType, nullable = false)
          .add("num_files", LongType, nullable = false)
          .add("size_bytes", LongType, nullable = false)
          .add("num_rows", LongType, nullable = true)
          .add("deleted_rows", LongType, nullable = false)
          .add("reader_features", StringType, nullable = false)
          .add("writer_features", StringType, nullable = false)
          .add("properties", StringType, nullable = false)
          .add("row_id_hwm", LongType, nullable = true)
          .add("last_commit_ts", LongType, nullable = true),
        in => {
          val r = root(in.getUTF8String(0).toString)
          val v = Versioned.latestVersion(r).getOrElse(
            throw new IllegalStateException(s"no versions under $r"))
          val vdir = java.nio.file.Paths.get(r, s"v=$v")
          val files = Versioned.dataFiles(vdir)
          val stats = graft.operators.FileStats.read(vdir)
          val dvs = graft.operators.DeletionVectors.dvMap(vdir)
          val rowsOpt: Any =
            if (files.forall(f => stats.contains(f.getFileName.toString)))
              files.map(f => stats(f.getFileName.toString).rows).sum -
                dvs.values.map(
                  graft.operators.DeletionVectors.cardinality).sum
            else null
          def utf8(s: String) =
            org.apache.spark.unsafe.types.UTF8String.fromString(s)
          val propsFile = java.nio.file.Paths.get(r, PropsManifest)
          val props =
            if (!Files.exists(propsFile)) ""
            else new String(Files.readAllBytes(propsFile),
              java.nio.charset.StandardCharsets.UTF_8)
              .linesIterator.filter(_.nonEmpty).toSeq.sorted.mkString(", ")
          val hwm: Any =
            if (graft.operators.RowIds.enabled(r))
              graft.operators.RowIds.rootHwm(java.nio.file.Paths.get(r))
            else null
          Seq(new GenericInternalRow(Array[Any](
            utf8(r), v, Versioned.versions(r).size.toLong,
            files.size.toLong, files.map(Files.size(_)).sum,
            rowsOpt,
            dvs.values.map(
              graft.operators.DeletionVectors.cardinality).sum,
            utf8(Versioned.readerFeatures(r).toSeq.sorted.mkString(", ")),
            utf8(Versioned.writerFeatures(r).toSeq.sorted.mkString(", ")),
            utf8(props), hwm,
            Versioned.commitStamp(r, v)
              .map(java.lang.Long.valueOf).orNull)))
        })
      case "compact" => new GraftProcedure("compact",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_file_bytes", LongType)
            .defaultValue((128L << 20).toString).build(),
          // OPTIMIZE … WHERE (Delta's partition-scoped maintenance):
          // rewrite only the files whose statistics may match the
          // predicate — on a PARTITIONED BY table "optimize partition
          // k" touches exactly that slice's files. Composes with
          // only_smaller_than (pack the slice's small tail).
          ProcedureParameter.in("where", StringType)
            .defaultValue("''").build(),
          // OPTIMIZE ZORDER BY: 'colA,colB' rank-quantizes both columns
          // and rewrites along the Morton curve, so the commit's stats
          // sidecar prunes on EITHER filter dimension (Layout
          // .zorderByRank). Overrides the table's linear clusterBy for
          // this rewrite only — like Delta, Z-ordering is a maintenance
          // verb, not a persistent write contract.
          ProcedureParameter.in("zorder_by", StringType)
            .defaultValue("''").build(),
          // incremental OPTIMIZE (Delta's bin-packing contract): when
          // set, rewrite ONLY data files under this byte threshold —
          // cost O(small tail), the clustered bulk hard-links over
          // untouched, and the row-level conflict machinery lets it
          // run concurrently with mutations of un-rewritten files
          ProcedureParameter.in("only_smaller_than", LongType)
            .defaultValue("0").build()),
        new StructType().add("version", LongType, nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          // zorder_by arrives in LOGICAL names; the rewrite reads raw
          // snapshots (physical birth names on a column-mapped table) —
          // translate like clusterByOf does, or a post-RENAME Z-order
          // would fail naming a column the files have never heard of
          val zorderPhys: String => String = {
            val parts = tbl.split("\\.").filter(_.nonEmpty)
            if (parts.length < 2) identity
            else readColMap(Identifier.of(parts.init, parts.last))
              .map(_._1).getOrElse(Map.empty[String, String])
              .withDefault(identity)
          }
          val whereSql = Option(in.getUTF8String(2)).map(_.toString.trim)
            .filter(_.nonEmpty)
          val zorder = Option(in.getUTF8String(3)).map(_.toString).getOrElse("")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(zorderPhys)
          val smallerThan = in.getLong(4)
          require(smallerThan == 0 || zorder.isEmpty,
            "graft catalog: zorder_by is a FULL-table layout decision — " +
              "it cannot combine with only_smaller_than bin-packing")
          require(whereSql.isEmpty || zorder.isEmpty,
            "graft catalog: zorder_by is a FULL-table layout decision — " +
              "it cannot combine with a where slice")
          // a clustered table re-clusters on compaction: the rewrite
          // restores file-level min/max locality (z-order-style data
          // skipping survives OPTIMIZE instead of degrading)
          val clusterBy = if (zorder.nonEmpty) Seq.empty else clusterByOf(tbl)
          val v = whereSql match {
            case Some(sql) =>
              val parts = tbl.split("\\.").filter(_.nonEmpty)
              require(parts.length >= 2,
                s"graft catalog: compact where wants 'ns.table', got '$tbl'")
              val pred = whereToStatsFilter(
                Identifier.of(parts.init, parts.last), sql)
              Versioned.compactWhere(SparkSession.active, root(tbl), pred,
                in.getLong(1), clusterBy,
                if (smallerThan > 0) smallerThan else Long.MaxValue)
            case None if smallerThan > 0 =>
              Versioned.compactSmall(SparkSession.active, root(tbl),
                smallerThan, in.getLong(1), clusterBy)
            case None =>
              Versioned.compact(SparkSession.active, root(tbl),
                in.getLong(1), clusterBy, zorder)
          }
          Seq(new GenericInternalRow(Array[Any](v)))
        })
      case "rollback" => new GraftProcedure("rollback",
        Array(ProcedureParameter.in("table", StringType).build()),
        new StructType().add("current_version", LongType, nullable = true),
        in => {
          val cur = Versioned.rollback(root(in.getUTF8String(0).toString))
          Seq(new GenericInternalRow(Array[Any](cur.getOrElse(null))))
        })
      case "vacuum" => new GraftProcedure("vacuum",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue(86400000L.toString).build(),
          // Delta's VACUUM DRY RUN: list what WOULD be reclaimed,
          // delete nothing — the audit step before a destructive sweep
          ProcedureParameter.in("dry_run", org.apache.spark.sql.types
            .BooleanType).defaultValue("false").build()),
        new StructType().add("removed", StringType, nullable = false),
        in => {
          val r = root(in.getUTF8String(0).toString)
          val age = in.getLong(1)
          val dry = in.getBoolean(2)
          // three sweeps, all age-gated: crashed writers' staging dirs,
          // unmanifested strays inside committed version dirs, and
          // root-level sidecar temp files a crashed atomic publish
          // left behind (all invisible to readers since commits name
          // their files — vacuum reclaims the storage)
          (VersionedWriteIo.vacuumStaging(r, age, dry) ++
            VersionedWriteIo.vacuumOrphans(r, age, dry) ++
            VersionedWriteIo.vacuumRootTmp(r, age, dry))
            .map(d => new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(d))))
        })
      // DESCRIBE HISTORY parity: one row per surviving version, newest
      // first — commit stamp (time-travel key), file/byte footprint,
      // whether a stored change feed exists, and the merge-on-read
      // state (sidecar count + DV'd row count, O(1) header reads)
      case "history" => new GraftProcedure("history",
        Array(ProcedureParameter.in("table", StringType).build()),
        new StructType()
          .add("version", LongType, nullable = false)
          .add("commit_ts", LongType, nullable = true)
          .add("operation", StringType, nullable = false)
          .add("n_files", IntegerType, nullable = false)
          .add("bytes", LongType, nullable = false)
          .add("has_change_feed", org.apache.spark.sql.types.BooleanType,
            nullable = false)
          .add("n_dvs", IntegerType, nullable = false)
          .add("n_deleted_rows", LongType, nullable = false)
          .add("tags", StringType, nullable = false)
          .add("message", StringType, nullable = true),
        in => {
          val r = root(in.getUTF8String(0).toString)
          val tagsByV = Versioned.tags(r).groupBy(_._2)
            .map { case (v, m) => v -> m.keys.toSeq.sorted.mkString(",") }
          // per-version facts resolve through the commit-log checkpoint
          // when covered (ONE read amortizes the whole history — on an
          // object store the walk is one GET per version per column
          // family); only the post-checkpoint tail reads its own
          // markers. Tags stay live — they are mutable bindings.
          val cp = Versioned.readCheckpoint(r)
          Versioned.versions(r).sorted.reverse.map { v =>
            val i = Versioned.commitInfoFast(r, v, cp)
            new GenericInternalRow(Array[Any](
              v, i.ts.getOrElse(null),
              org.apache.spark.unsafe.types.UTF8String.fromString(i.op),
              i.nFiles, i.bytes, i.hasFeed,
              i.nDvs, i.nDeletedRows,
              org.apache.spark.unsafe.types.UTF8String.fromString(
                tagsByV.getOrElse(v, "")),
              i.message
                .map(org.apache.spark.unsafe.types.UTF8String.fromString)
                .orNull))
          }
        })
      // DESCRIBE DETAIL at file granularity: one row per data file of a
      // snapshot — name, bytes, stats-sidecar row count, DV'd rows —
      // the view an operator sizing only_smaller_than or auditing
      // skipping actually needs; all O(1) sidecar reads, no footers
      case "fsck" => new GraftProcedure("fsck",
        Array(ProcedureParameter.in("table", StringType).build()),
        new StructType()
          .add("version", LongType, nullable = false)
          .add("check", StringType, nullable = false)
          .add("n_bad", LongType, nullable = false)
          .add("detail", StringType, nullable = false),
        in => {
          val r = root(in.getUTF8String(0).toString)
          Versioned.fsck(r).map { case (v, check, nBad, detail) =>
            new GenericInternalRow(Array[Any](v,
              org.apache.spark.unsafe.types.UTF8String.fromString(check),
              nBad,
              org.apache.spark.unsafe.types.UTF8String.fromString(detail)))
          }
        })
      case "files" => new GraftProcedure("files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build(),
          // a tag name or number string — same refs as VERSION AS OF
          ProcedureParameter.in("ref", StringType)
            .defaultValue("''").build()),
        new StructType()
          .add("file", StringType, nullable = false)
          .add("bytes", LongType, nullable = false)
          .add("rows", LongType, nullable = true)
          .add("deleted_rows", LongType, nullable = false),
        in => {
          val r = root(in.getUTF8String(0).toString)
          val refS = Option(in.getUTF8String(2)).map(_.toString.trim)
            .filter(_.nonEmpty)
          require(refS.isEmpty || in.getLong(1) == -1L,
            "graft catalog: files wants version => n OR ref => " +
              "'tag-or-number', not both")
          val v = refS.map(Versioned.resolveRef(r, _)).getOrElse(
            in.getLong(1) match {
              case -1L => Versioned.latestVersion(r).getOrElse(
                throw new IllegalStateException(s"no versions under $r"))
              case x => x
            })
          val vdir = java.nio.file.Paths.get(r, s"v=$v")
          require(Files.isDirectory(vdir),
            s"graft catalog: version $v does not exist (existing: " +
              s"${Versioned.versions(r).mkString(", ")})")
          val stats = graft.operators.FileStats.read(vdir)
          val dvs = graft.operators.DeletionVectors.dvMap(vdir)
          Versioned.dataFiles(vdir).sortBy(_.getFileName.toString).map { f =>
            val n = f.getFileName.toString
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(n),
              Files.size(f),
              stats.get(n).map(_.rows).getOrElse(null),
              dvs.get(n).map(
                graft.operators.DeletionVectors.cardinality).getOrElse(0L)))
          }
        })
      // SHOW PARTITIONS for the PARTITIONED-BY-→-clusterBy mapping:
      // one row per partition VALUE with its file/row/byte footprint,
      // derived entirely from the stats sidecar (O(files) driver read,
      // zero data I/O — the view a user sizing a partition-scoped
      // OPTIMIZE WHERE actually needs). Files whose slice spans more
      // than one value (or carry no stats) aggregate into one
      // `value = NULL, spanning = true` row — honest, never guessed.
      case "partitions" => new GraftProcedure("partitions",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          // defaults to the table's first partitionedBy/clusterBy col
          ProcedureParameter.in("column", StringType)
            .defaultValue("''").build()),
        new StructType()
          .add("value", StringType, nullable = true)
          .add("n_files", IntegerType, nullable = false)
          .add("rows", LongType, nullable = false)
          .add("bytes", LongType, nullable = false)
          .add("spanning", org.apache.spark.sql.types.BooleanType,
            nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          val parts = tbl.split("\\.").filter(_.nonEmpty)
          require(parts.length >= 2,
            s"graft catalog: partitions wants 'ns.table', got '$tbl'")
          val ident = Identifier.of(parts.init, parts.last)
          val props = readProps(ident)
          val logicalCol = Option(in.getUTF8String(1)).map(_.toString.trim)
            .filter(_.nonEmpty)
            .orElse(props.get("partitionedBy")
              .map(v => PartitionTransforms.parse(v).head.clusterCol)
              .orElse(props.get("clusterBy")
                .map(_.split(",").map(_.trim).filter(_.nonEmpty).head)))
            .getOrElse(throw new IllegalArgumentException(
              s"graft catalog: $tbl is unpartitioned and unclustered — " +
                "name the column: partitions(table => …, column => 'k')"))
          val phys = readColMap(ident).map(_._1)
            .getOrElse(Map.empty[String, String])
            .getOrElse(logicalCol, logicalCol)
          val r = root(tbl)
          val v = Versioned.latestVersion(r).getOrElse(
            throw new IllegalStateException(s"no versions under $r"))
          val vdir = java.nio.file.Paths.get(r, s"v=$v")
          val stats = graft.operators.FileStats.read(vdir)
          val files = Versioned.dataFiles(vdir)
          def render(x: graft.operators.FileStats.V): String = x match {
            case graft.operators.FileStats.L(n) => n.toString
            case graft.operators.FileStats.D(d) => d.toString
            case graft.operators.FileStats.S(s) => s
            case graft.operators.FileStats.B(b) => b.toString
          }
          val keyed: Seq[(Option[String], java.nio.file.Path, Long)] =
            files.map { f =>
              val nm = f.getFileName.toString
              val value = stats.get(nm).flatMap { st =>
                st.cols.get(phys).flatMap { c =>
                  (c.lo, c.hi) match {
                    case (Some(lo), Some(hi)) if lo == hi => Some(render(lo))
                    case _ => None
                  }
                }
              }
              (value, f, stats.get(nm).map(_.rows).getOrElse(0L))
            }
          keyed.groupBy(_._1).toSeq
            .sortBy { case (valueOpt, _) => (valueOpt.isEmpty, valueOpt) }
            .map { case (valueOpt, fs) =>
              new GenericInternalRow(Array[Any](
                valueOpt.map(org.apache.spark.unsafe.types.UTF8String
                  .fromString).orNull,
                fs.size,
                fs.map(_._3).sum,
                fs.map(x => Files.size(x._2)).sum,
                valueOpt.isEmpty))
            }
        })
      // GDPR/TAKEDOWN PURGE: physically remove matching rows from
      // EVERY surviving version — the right-to-be-forgotten operation
      // and the deliberate exception to immutable history (a DELETE
      // only hides rows going forward; the bytes live on in every
      // older snapshot). Inode-deduplicated rewrites, stats-gated
      // file selection, sidecars refreshed; DV'd histories, stored
      // feeds and widened tables refuse naming the fix.
      case "purge" => new GraftProcedure("purge",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("where", StringType).build()),
        new StructType()
          .add("files_rewritten", IntegerType, nullable = false)
          .add("rows_purged", LongType, nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          val parts = tbl.split("\\.").filter(_.nonEmpty)
          require(parts.length >= 2,
            s"graft catalog: purge wants 'ns.table', got '$tbl'")
          val ident = Identifier.of(parts.init, parts.last)
          val whereSql = Option(in.getUTF8String(1)).map(_.toString.trim)
            .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
              "graft catalog: purge requires where => '<predicate>' — " +
                "an unbounded purge is TRUNCATE across history; say so " +
                "with an explicit always-true predicate"))
          val selector = whereToStatsFilter(ident, whereSql,
            partialOk = true)
          val cm = readColMap(ident).map(_._1).getOrElse(Map.empty[String, String])
          val (files, rows) = Versioned.purgeRows(SparkSession.active,
            root(tbl), whereSql, selector, cm)
          Seq(new GenericInternalRow(Array[Any](files, rows)))
        })
      // RESTORE TABLE … TO VERSION AS OF, as a NEW commit (nothing
      // deleted, restored-over versions stay addressable) — hard-links,
      // O(files), no data copy
      case "restore" => new GraftProcedure("restore",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          // a version number, (ref) a tag name / number string, or
          // (timestamp_micros) Delta's RESTORE … TIMESTAMP AS OF —
          // exactly one of the three
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build(),
          ProcedureParameter.in("ref", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("timestamp_micros", LongType)
            .defaultValue("0").build()),
        new StructType().add("current_version", LongType, nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          val refS = Option(in.getUTF8String(2)).map(_.toString.trim)
            .filter(_.nonEmpty)
          val vIn = in.getLong(1)
          val tsIn = in.getLong(3)
          require(Seq(vIn >= 0, refS.isDefined, tsIn > 0).count(identity) == 1,
            "graft catalog: restore wants exactly ONE of version => n, " +
              "ref => 'tag-or-number', timestamp_micros => t — got " +
              s"version=$vIn ref=${refS.getOrElse("''")} " +
              s"timestamp_micros=$tsIn")
          // timestamp resolves like TIMESTAMP AS OF (latest stamp ≤ t,
          // checkpoint-accelerated, loud when nothing qualifies)
          val target =
            if (tsIn > 0) Versioned.resolveAsOf(root(tbl), tsIn)
            else refS.map(Versioned.resolveRef(root(tbl), _)).getOrElse(vIn)
          val v = Versioned.restoreTo(root(tbl), target)
          // a changeFeedKeys table feeds EVERY commit — the restore's
          // diff (rows changing back) included
          feedHook(tbl, v)
          Seq(new GenericInternalRow(Array[Any](v)))
        })
      // SHALLOW CLONE: the source's current snapshot becomes v=0 of a
      // NEW table (manifest + layout properties copied, history fresh).
      // REF-CLONES (ref => an older tagged snapshot) PIN the table
      // contract to the resolved version (the Delta/Iceberg clone
      // semantics): the schema manifest is RESTRICTED to the columns
      // whose physical names the pinned snapshot's files actually
      // carry, and the column mapping, constraints and column-list
      // properties are restricted with it — a clone of a
      // pre-ADD-COLUMN snapshot does NOT advertise the later column.
      // The format keeps no per-version schema history, so the pinned
      // contract is RECONSTRUCTED from the snapshot's footers + the
      // current mapping: later-ADDed columns vanish (their physicals
      // are absent from the pinned files), later RENAMES keep their
      // current logical names (the physical identity is the contract),
      // and a column added metadata-only with no data commit yet is
      // indistinguishable from absent — documented edge of the
      // reconstruction.
      case "clone" => new GraftProcedure("clone",
        Array(
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("target", StringType).build(),
          // clone a PINNED snapshot instead of the current one: a
          // version number or tag name ("branch from train-v1")
          ProcedureParameter.in("ref", StringType)
            .defaultValue("''").build()),
        new StructType().add("cloned", StringType, nullable = false),
        in => {
          val src = in.getUTF8String(0).toString
          val tgt = in.getUTF8String(1).toString
          val refS = Option(in.getUTF8String(2)).map(_.toString.trim)
            .filter(_.nonEmpty)
          val parts = tgt.split("\\.").filter(_.nonEmpty)
          require(parts.length >= 2,
            s"graft catalog: clone target must be 'ns.table', got '$tgt'")
          val tgtIdent = Identifier.of(parts.init, parts.last)
          if (!namespaceExists(tgtIdent.namespace))
            throw new NoSuchNamespaceException(tgtIdent.namespace)
          if (Files.exists(manifestOf(tgtIdent)))
            throw new TableAlreadyExistsException(tgtIdent)
          val srcParts = src.split("\\.").filter(_.nonEmpty)
          require(srcParts.length >= 2,
            s"graft catalog: clone source must be 'ns.table', got '$src'")
          val srcIdent = Identifier.of(srcParts.init, srcParts.last)
          val srcV = refS.map(Versioned.resolveRef(root(src), _))
          Versioned.cloneTo(root(src), tablePath(tgtIdent).toString,
            srcVersion = srcV)
          val curSchema = DataType.fromJson(new String(
            Files.readAllBytes(manifestOf(srcIdent)),
            java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
          val (srcColMap, srcRetired) = colMapState(srcIdent, curSchema)
          val pinnedKeep: Option[Set[String]] = srcV.map { v =>
            // physical columns the pinned snapshot's files carry — the
            // reconstruction source for the as-of contract. UNIONED
            // across EVERY data file's footer: a snapshot dir holds
            // heterogeneous footers (pre-ADD-COLUMN files are carried
            // forward beside post-ADD files), and sampling one footer
            // would nondeterministically drop a column whose data the
            // newer files actually carry.
            val vdir = Paths.get(root(src), s"v=$v")
            val phys = GroupParquetIo
              .readFooters(Versioned.dataFiles(vdir))
              .flatMap(_.schema.getFields.asScala.map(_.getName)).toSet
            curSchema.fieldNames.filter(l =>
              phys.contains(srcColMap.getOrElse(l, l))).toSet
          }
          pinnedKeep match {
            case None => // plain clone: the current contract verbatim
              Files.copy(manifestOf(srcIdent), manifestOf(tgtIdent))
              Seq(PropsManifest, ConstraintsManifest, ColMapManifest,
                  AutoColumns.ManifestFile).foreach { m =>
                val srcM = tablePath(srcIdent).resolve(m)
                if (Files.exists(srcM))
                  Files.copy(srcM, tablePath(tgtIdent).resolve(m))
              }
            case Some(keep) =>
              // ref-clone: pin schema manifest, mapping, constraints
              // and column-list properties to the snapshot's columns
              val pinned = StructType(
                curSchema.fields.filter(f => keep(f.name)))
              require(pinned.nonEmpty,
                s"graft catalog: ref-clone of $src@${srcV.get} pins an " +
                  "empty schema — the snapshot's files share no column " +
                  "with the current contract")
              CommitStore.active.publishFile(manifestOf(tgtIdent),
                pinned.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val pinnedProps = readProps(srcIdent).flatMap {
                case ("partitionedBy", v) =>
                  // a transform entry survives only if BOTH its source
                  // and its derived cluster column survive the pin
                  val entries = PartitionTransforms.parse(v).filter(e =>
                    keep(e.sourceCol) && keep(e.clusterCol))
                  if (entries.isEmpty) None
                  else Some("partitionedBy" ->
                    PartitionTransforms.spellingOf(entries))
                case (k, v) if k == "clusterBy" || k == "changeFeedKeys" ||
                    k == graft.operators.BloomSidecar.PropKey ||
                    k == graft.operators.NdvSidecar.PropKey =>
                  val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
                    .filter(keep)
                  if (cols.isEmpty) None else Some(k -> cols.mkString(","))
                case kv => Some(kv)
              }
              if (pinnedProps.nonEmpty) writeProps(tgtIdent, pinnedProps)
              val dropped = curSchema.fieldNames.filterNot(keep).toSeq
              val pinnedCons = readConstraints(srcIdent).filterNot {
                case (_, sql) => dropped.exists(c => java.util.regex.Pattern
                  .compile("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b")
                  .matcher(sql).find())
              }
              if (pinnedCons.nonEmpty) writeConstraints(tgtIdent, pinnedCons)
              val pinnedMap = srcColMap.filter { case (l, _) => keep(l) }
              if (readColMap(srcIdent).isDefined)
                writeColMap(tgtIdent, pinnedMap, srcRetired)
              // auto-column specs survive the pin only when the spec's
              // column AND every base column its expression references
              // are still in the pinned schema
              val droppedCols = curSchema.fieldNames.filterNot(keep).toSeq
              val pinnedAuto = AutoColumns.read(tablePath(srcIdent).toString)
                .filter(s => keep(s.name))
                .filter {
                  case g: AutoColumns.Generated => !droppedCols.exists(c =>
                    java.util.regex.Pattern
                      .compile("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b")
                      .matcher(g.exprSql).find())
                  case _ => true
                }
              if (pinnedAuto.nonEmpty)
                AutoColumns.write(tablePath(tgtIdent), pinnedAuto)
          }
          // bloom sidecar: the property lands only with the copy above,
          // AFTER cloneTo's own hook saw a props-less root — re-run the
          // (pure-carry, hard-linked names) pass now that it can see it
          graft.operators.BloomSidecar.ensure(tablePath(tgtIdent).toString,
            0L, carryExtra = Some(Paths.get(root(src)).resolve(
              s"v=${srcV.orElse(Versioned.latestVersion(root(src))).getOrElse(0L)}")))
          graft.operators.NdvSidecar.ensure(tablePath(tgtIdent).toString,
            0L, carryExtra = Some(Paths.get(root(src)).resolve(
              s"v=${srcV.orElse(Versioned.latestVersion(root(src))).getOrElse(0L)}")))
          // a changeFeedKeys clone starts its own feed history with
          // v=0's all-'added' feed (a stream from 0 sees the content)
          feedHook(tgt, 0L)
          Seq(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(tgt))))
        })
      // CONVERT TO DELTA's shape: register an existing parquet
      // directory as v=0 of a NEW named table — O(files) footer reads
      // + hard links, zero data rewrite (the only sane way to onboard
      // a 100 TB lake). Schema is the merged footer schema of exactly
      // the *.parquet files (alien files ignored); every footer is
      // then held to the store's physical type contract so a file this
      // reader cannot decode (INT96 stamps, nested groups, unannotated
      // binary) refuses the WHOLE conversion rather than surfacing as
      // a wrong read later. The source directory is never modified.
      case "convert" => new GraftProcedure("convert",
        Array(
          ProcedureParameter.in("source_dir", StringType).build(),
          ProcedureParameter.in("target", StringType).build()),
        new StructType()
          .add("converted", StringType, nullable = false)
          .add("version", LongType, nullable = false)
          .add("n_files", IntegerType, nullable = false),
        in => {
          val srcDir = in.getUTF8String(0).toString
          val tgt = in.getUTF8String(1).toString
          val parts = tgt.split("\\.").filter(_.nonEmpty)
          require(parts.length >= 2,
            s"graft catalog: convert target must be 'ns.table', got '$tgt'")
          val tgtIdent = Identifier.of(parts.init, parts.last)
          if (!namespaceExists(tgtIdent.namespace))
            throw new NoSuchNamespaceException(tgtIdent.namespace)
          if (Files.exists(manifestOf(tgtIdent)))
            throw new TableAlreadyExistsException(tgtIdent)
          val files = Versioned.listParquet(Paths.get(srcDir))
            .sortBy(_.getFileName.toString)
          require(files.nonEmpty,
            s"graft catalog: convert — no *.parquet files under $srcDir")
          // merged footer schema via Spark's own conversion (explicit
          // file paths: alien non-parquet files never enter the merge;
          // conflicting types across files fail loudly inside the merge)
          val schema = SparkSession.active.read
            .option("mergeSchema", "true")
            .parquet(files.map(_.toString): _*).schema
          // the store's type-set gate, at convert time not first read
          val expected = GroupParquetIo.writeMessageType(schema)
          def validate(f: Path): Unit =
            GroupParquetIo.readFooters(Seq(f)).head.schema.getFields.asScala
              .foreach { fld =>
                require(fld.isPrimitive, "graft catalog: convert — file " +
                  s"'${f.getFileName}' column '${fld.getName}' is nested " +
                  "— the store's column set is flat " +
                  "(long/int/double/float/boolean/string/date/timestamp)")
                val exp = expected
                  .getType(Seq(fld.getName): _*).asPrimitiveType
                val got = fld.asPrimitiveType
                require(exp.getPrimitiveTypeName == got.getPrimitiveTypeName &&
                    java.util.Objects.equals(exp.getLogicalTypeAnnotation,
                      got.getLogicalTypeAnnotation),
                  s"graft catalog: convert — file '${f.getFileName}' " +
                    s"column '${fld.getName}' is stored as $got, the " +
                    s"table contract expects $exp — this reader would " +
                    "decode it wrongly, refusing the conversion")
              }
          val v = Versioned.convertFrom(srcDir, tablePath(tgtIdent).toString,
            validate)
          // the schema manifest lands LAST: a failed conversion leaves
          // no half-created table visible to loadTable
          CommitStore.active.publishFile(manifestOf(tgtIdent),
            schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Seq(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(tgt),
            v, files.size)))
        })
      // Iceberg-style TAGS: named snapshot refs for reproducibility —
      // CALL graft.sys.tag(table => 'ns.t', name => 'train-v1')
      // pins the current (or an explicit) version under a name;
      // SELECT … VERSION AS OF 'train-v1' reads it; retention keeps
      // tagged versions alive; rollback refuses to drop one. Bindings
      // are immutable — moving a tag is an explicit untag + tag.
      case "tag" => new GraftProcedure("tag",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build()),
        new StructType().add("version", LongType, nullable = false),
        in => {
          val v = Versioned.tagVersion(root(in.getUTF8String(0).toString),
            in.getUTF8String(1).toString,
            in.getLong(2) match { case -1L => None; case x => Some(x) })
          Seq(new GenericInternalRow(Array[Any](v)))
        })
      case "untag" => new GraftProcedure("untag",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        new StructType().add("was_version", LongType, nullable = false),
        in => Seq(new GenericInternalRow(Array[Any](
          Versioned.dropTag(root(in.getUTF8String(0).toString),
            in.getUTF8String(1).toString)))))
      case "tags" => new GraftProcedure("tags",
        Array(ProcedureParameter.in("table", StringType).build()),
        new StructType()
          .add("name", StringType, nullable = false)
          .add("version", LongType, nullable = false),
        in => Versioned.tags(root(in.getUTF8String(0).toString))
          .toSeq.sortBy(_._1).map { case (n, v) =>
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(n), v))
          })
      // Delta's GENERATE symlink_format_manifest shape: export a
      // snapshot's data-file list (absolute paths) so EXTERNAL engines
      // (DuckDB, Trino, a plain parquet reader) can consume the exact
      // snapshot without this connector. REFUSES itself whenever a
      // plain parquet read of those files would be WRONG: DV sidecars
      // (deleted rows would resurrect) or a non-identity column
      // mapping (files carry physical birth names) — the refusal names
      // the fix (compact / drop_feature).
      case "manifest" => new GraftProcedure("manifest",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build()),
        new StructType()
          .add("path", StringType, nullable = false)
          .add("bytes", LongType, nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          val r = root(tbl)
          val v = in.getLong(1) match {
            case -1L => Versioned.latestVersion(r).getOrElse(
              throw new IllegalStateException(s"no versions under $r"))
            case x => x
          }
          val vdir = java.nio.file.Paths.get(r, s"v=$v")
          require(Files.isDirectory(vdir),
            s"graft catalog: version $v does not exist (existing: " +
              s"${Versioned.versions(r).mkString(", ")})")
          val dvs = graft.operators.DeletionVectors.dvMap(vdir)
          require(dvs.isEmpty,
            s"graft catalog: manifest of v=$v would be WRONG for an " +
              s"external reader — ${dvs.size} data file(s) carry " +
              "deletion-vector sidecars a plain parquet read would " +
              "ignore (deleted rows resurrect); run sys.compact to " +
              "materialize them first")
          val parts = tbl.split("\\.").filter(_.nonEmpty)
          if (parts.length >= 2)
            readColMap(Identifier.of(parts.init, parts.last)).foreach {
              case (m, _) => require(m.forall { case (l, p) => l == p },
                "graft catalog: manifest would expose PHYSICAL column " +
                  "names that differ from the table's logical schema " +
                  "(column mapping in effect) — external readers would " +
                  "see pre-rename names; drop the mapping " +
                  "(sys.drop_feature) or read through the engine")
            }
          Versioned.dataFiles(vdir).sortBy(_.getFileName.toString).map { f =>
            new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(
                f.toAbsolutePath.toString),
              Files.size(f)))
          }
        })
      // Delta's ALTER TABLE DROP FEATURE: lift a reader-feature
      // requirement once NO surviving state still uses the
      // representation — older builds can read the table again.
      // Refusals name what blocks (DV-carrying versions, a mapping
      // that still carries information).
      case "drop_feature" => new GraftProcedure("drop_feature",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("feature", StringType).build()),
        new StructType().add("dropped", StringType, nullable = false),
        in => {
          val tbl = in.getUTF8String(0).toString
          val feature = in.getUTF8String(1).toString
          val parts = tbl.split("\\.").filter(_.nonEmpty)
          require(parts.length >= 2,
            s"graft catalog: drop_feature wants 'ns.table', got '$tbl'")
          val ident = Identifier.of(parts.init, parts.last)
          feature match {
            // WRITER-ONLY features: lift once the invariant they
            // protect is gone (reads were never gated by them)
            case "append-only" =>
              require(!readProps(ident).get("appendOnly")
                  .exists(_.trim.toBoolean),
                "graft catalog: cannot drop 'append-only' — the " +
                  "appendOnly table property is still set; ALTER TABLE " +
                  "… UNSET TBLPROPERTIES ('appendOnly') first")
              Versioned.dropWriterFeature(root(tbl), feature)
            case "check-constraints" =>
              require(readConstraints(ident).isEmpty,
                "graft catalog: cannot drop 'check-constraints' — " +
                  readConstraints(ident).map(_._1).sorted
                    .mkString("constraint(s) ", ", ", " still exist; ") +
                  "ALTER TABLE … DROP CONSTRAINT them first")
              Versioned.dropWriterFeature(root(tbl), feature)
            case _ =>
              if (feature == "column-mapping") {
                readColMap(ident).foreach { case (m, retired) =>
                  require(m.forall { case (l, p) => l == p } && retired.isEmpty,
                    "graft catalog: cannot drop 'column-mapping' — the " +
                      "mapping still carries information (non-identity " +
                      "bindings or dropped-column tombstones); only a " +
                      "mapping that has become identity with no drop " +
                      "history can be lifted")
                  Files.deleteIfExists(tablePath(ident).resolve(ColMapManifest))
                }
              }
              // drops the reader flag AND the matching writer flag
              Versioned.dropReaderFeature(root(tbl), feature)
          }
          Seq(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(feature))))
        })
      case "retain" => new GraftProcedure("retain",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep", IntegerType).defaultValue("3").build(),
          // TIME-BASED retention (Delta's RETAIN <interval>): delete
          // beyond-keep versions only when their commit stamp is older
          // than this AGE (micros relative to now) …
          ProcedureParameter.in("older_than_micros", LongType)
            .defaultValue("0").build(),
          // … or strictly below this ABSOLUTE stamp (epoch micros, the
          // TIMESTAMP AS OF space) — deterministic form for pipelines
          // that stamp commits explicitly. At most one of the two.
          ProcedureParameter.in("before_stamp", LongType)
            .defaultValue("0").build()),
        new StructType().add("version", LongType, nullable = false),
        in => {
          val age = in.getLong(2)
          val before = in.getLong(3)
          require(age == 0 || before == 0,
            "graft catalog: retain wants older_than_micros OR " +
              "before_stamp, not both")
          val horizon =
            if (age > 0) Some(System.currentTimeMillis() * 1000L - age)
            else if (before > 0) Some(before)
            else None
          Versioned.applyRetention(root(in.getUTF8String(0).toString),
              in.getInt(1), horizon)
            .map(v => new GenericInternalRow(Array[Any](v)))
        })
    }
  }

  /** Emit the stored change feed of a freshly-committed version when
    * the `'ns.table'` carries changeFeedKeys (the every-commit-feeds
    * contract, extended to the maintenance verbs). */
  private def feedHook(table: String, version: Long): Unit = {
    val parts = table.split("\\.").filter(_.nonEmpty)
    if (parts.length < 2) return
    val ident = Identifier.of(parts.init, parts.last)
    readProps(ident).get("changeFeedKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty).foreach { keys =>
        val schema = DataType.fromJson(new String(
          Files.readAllBytes(manifestOf(ident)),
          java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
        Versioned.writeFeedFor(SparkSession.active,
          tablePath(ident).toString, version, keys,
          schema.fieldNames.filterNot(keys.contains).toSeq,
          readColMap(ident).map(_._1).getOrElse(Map.empty))
      }
  }

  /** Parse + resolve an `OPTIMIZE … WHERE` predicate against the
    * table's LOGICAL schema, fold analyzer-inserted literal casts,
    * translate to a data-source Filter, and rename the references into
    * PHYSICAL (file) name space — the stats sidecar's key space, where
    * [[graft.operators.Versioned.compactWhere]] selects its files.
    * Loud when the predicate has no statistics-selectable form. */
  private def whereToStatsFilter(ident: Identifier, sql: String,
                                 partialOk: Boolean = false)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.{sources => s}
    val m = manifestOf(ident)
    if (!Files.exists(m)) throw new NoSuchTableException(ident)
    val schema = DataType.fromJson(new String(Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
    val spark = SparkSession.active
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val plan = org.apache.spark.sql.catalyst.plans.logical.Filter(parsed,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(attrs))
    val analyzed = org.apache.spark.sql.GraftBridge.ofRows(spark, plan)
      .queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]
    // the analyzer wraps literals in casts (grp = 3 on a BIGINT column);
    // fold them so the V1 translation sees plain literals
    val folded = analyzed.condition.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(), e.dataType)
    }
    // `partialOk` (the purge path): file SELECTION only needs a sound
    // over-approximation — translate the conjuncts that have a V1 form
    // and let the rest fall to "may match" (the full predicate still
    // filters rows); AlwaysTrue when nothing translates. The compact
    // path stays strict: a silently un-selective OPTIMIZE WHERE would
    // be a surprise full-table rewrite.
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val translated = conjuncts(folded)
      .map(org.apache.spark.sql.graftbridge.FilterBridge.toV1)
    val v1 =
      if (partialOk) translated.flatten
        .reduceOption(s.And(_, _): s.Filter)
        .getOrElse(s.AlwaysTrue)
      else translated
        .map(_.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: compact where => '$sql' has no " +
            "file-statistics-selectable form — use comparisons / IN / " +
            "AND / OR / IS NULL over table columns")))
        .reduce(s.And(_, _): s.Filter)
    val l2p = readColMap(ident).map(_._1).getOrElse(Map.empty[String, String])
      .withDefault(identity)
    def rename(f: s.Filter): s.Filter = f match {
      case s.And(l, r) => s.And(rename(l), rename(r))
      case s.Or(l, r) => s.Or(rename(l), rename(r))
      case s.Not(c) => s.Not(rename(c))
      case s.EqualTo(a, v) => s.EqualTo(l2p(a), v)
      case s.EqualNullSafe(a, v) => s.EqualNullSafe(l2p(a), v)
      case s.GreaterThan(a, v) => s.GreaterThan(l2p(a), v)
      case s.GreaterThanOrEqual(a, v) => s.GreaterThanOrEqual(l2p(a), v)
      case s.LessThan(a, v) => s.LessThan(l2p(a), v)
      case s.LessThanOrEqual(a, v) => s.LessThanOrEqual(l2p(a), v)
      case s.In(a, vs) => s.In(l2p(a), vs)
      case s.IsNull(a) => s.IsNull(l2p(a))
      case s.IsNotNull(a) => s.IsNotNull(l2p(a))
      case s.StringStartsWith(a, v) => s.StringStartsWith(l2p(a), v)
      case s.StringEndsWith(a, v) => s.StringEndsWith(l2p(a), v)
      case s.StringContains(a, v) => s.StringContains(l2p(a), v)
      case other => other // AlwaysTrue / AlwaysFalse carry no references
    }
    rename(v1)
  }

  /** The persisted clusterBy columns of a `'ns.table'` argument, in
    * PHYSICAL names — compaction reads raw snapshot frames, which
    * carry birth names on a column-mapped table. */
  private def clusterByOf(table: String): Seq[String] = {
    val parts = table.split("\\.").filter(_.nonEmpty)
    if (parts.length < 2) return Seq.empty
    val ident = Identifier.of(parts.init, parts.last)
    val phys = readColMap(ident).map(_._1).getOrElse(Map.empty)
    readProps(ident).get("clusterBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
      .map(c => phys.getOrElse(c, c))
  }

  /** Resolve a procedure's `'ns.table'` argument to its version root —
    * same layout rules as loadTable, same fail-loud on a missing
    * manifest. */
  private def resolveTableRoot(table: String): String = {
    val parts = table.split("\\.").filter(_.nonEmpty)
    require(parts.length >= 2,
      s"graft catalog: procedure table argument must be 'ns.table', got '$table'")
    val ident = Identifier.of(parts.init, parts.last)
    if (!Files.exists(manifestOf(ident))) throw new NoSuchTableException(ident)
    tablePath(ident).toString
  }
}

/** One class covers unbound + bound: the parameters are static (no
  * overloading), so bind() is identity and `call` runs the verb on the
  * driver and hands the outcome back as a [[LocalScan]] of rows. */
private[sources] class GraftProcedure(
    procName: String, params: Array[ProcedureParameter],
    outSchema: StructType, run: InternalRow => Seq[InternalRow])
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"graft version-store $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val out = run(input).toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = out
      override def readSchema(): StructType = outSchema
      override def description(): String = s"graft sys.$procName result"
    }).iterator()
  }
}
