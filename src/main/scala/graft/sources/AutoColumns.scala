package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSeq, BindReferences, Cast, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types._

/** GENERATED and IDENTITY columns for the version store (Delta's
  * `GENERATED ALWAYS AS (expr)` / `GENERATED ALWAYS AS IDENTITY`),
  * surfaced through real DDL: the catalog declares
  * SUPPORTS_CREATE_TABLE_WITH_{GENERATED,IDENTITY}_COLUMNS, Spark's
  * parser hands the specs to createTable, and the specs persist in a
  * `_graft_generated` manifest at the table root.
  *
  * WRITE semantics (Spark aligns every INSERT to the full table schema
  * and null-fills omitted columns, so the writer distinguishes
  * "omitted" by null):
  *  - generated column, value null → computed from the row;
  *  - generated column, value provided → must EQUAL the computed value
  *    (Delta's enforcement — a provided value that contradicts the
  *    generation expression is corruption, not data);
  *  - row-level rewrites (UPDATE/DELETE CoW) always RECOMPUTE
  *    generated columns — an UPDATE of a base column keeps its
  *    dependents consistent;
  *  - identity column, value null → assigned
  *    `next + step·(k·numPartitions + partitionId)` — the
  *    partition-interleaved disjoint-range discipline (unique without
  *    any coordination; gaps are allowed, as in every identity
  *    implementation);
  *  - identity column, value provided → refused unless the spec said
  *    GENERATED BY DEFAULT; row-level rewrites pass values through.
  *
  * Scale shape: generation is a per-row projection inside the writer
  * (zero shuffles, no driver involvement). The identity HIGH-WATER MARK
  * is PERSISTED in the manifest (Delta's identity.highWaterMark
  * rationale) and advanced monotonically at every commit that assigned
  * ids — resolution is O(1) manifest read, never a data scan, and
  * deleting the highest-id rows (or every row) can never cause id
  * reuse. Legacy manifests without a persisted mark fall back once to
  * a min/max aggregate (footer/sidecar-answered on clean tables) and
  * persist the result at that write's commit. */
object AutoColumns {

  private[sources] val ManifestFile = "_graft_generated"

  sealed trait Spec { def name: String }
  final case class Generated(name: String, exprSql: String) extends Spec
  /** `hwm` = the persisted next-id base (first unassigned id in step
    * direction); None on legacy manifests and fresh DDL. */
  final case class Identity(name: String, start: Long, step: Long,
                            allowExplicitInsert: Boolean,
                            hwm: Option[Long] = None) extends Spec

  private[sources] def serialize(specs: Seq[Spec]): String =
    specs.map {
      case Generated(n, e) => s"g\t$n\t$e"
      case Identity(n, st, sp, ae, hwm) =>
        s"i\t$n\t$st\t$sp\t$ae" + hwm.map(h => s"\t$h").getOrElse("")
    }.mkString("\n")

  private[sources] def parse(text: String): Seq[Spec] =
    text.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1)).collect {
      case Array("g", n, e) => Generated(n, e)
      case Array("i", n, st, sp, ae) =>
        Identity(n, st.toLong, sp.toLong, ae.toBoolean)
      case Array("i", n, st, sp, ae, hwm) =>
        Identity(n, st.toLong, sp.toLong, ae.toBoolean, Some(hwm.toLong))
    }.toSeq

  def read(root: String): Seq[Spec] = {
    val p = Paths.get(root, ManifestFile)
    if (!Files.exists(p)) Seq.empty
    else parse(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  def write(root: java.nio.file.Path, specs: Seq[Spec]): Unit =
    CommitStore.active.publishFile(root.resolve(ManifestFile),
      serialize(specs).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Commit-side hwm publication: advance each named identity column's
    * persisted mark to `next` (monotone in the column's step
    * direction — a concurrent commit's larger mark is never walked
    * back), via tmp-file + atomic rename. A name absent from the
    * manifest (the staged-REPLACE window, where the live manifest still
    * holds the OLD contract) is skipped — the replacement manifest's
    * first insert re-derives its mark from data. */
  private[sources] def advanceHwm(root: String, next: Map[String, Long]): Unit = {
    if (next.isEmpty) return
    val p = Paths.get(root, ManifestFile)
    AutoColumns.synchronized {
      if (!Files.exists(p)) return
      val specs = read(root)
      var changed = false
      val updated = specs.map {
        case id @ Identity(n, _, step, _, hwm) if next.contains(n) =>
          val target = next(n)
          val merged = hwm match {
            case Some(h) => if (step > 0) math.max(h, target)
                            else math.min(h, target)
            case None => target
          }
          if (hwm.contains(merged)) id
          else { changed = true; id.copy(hwm = Some(merged)) }
        case s => s
      }
      if (changed) CommitStore.active.publishFile(p, serialize(updated)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Parse + analyze a generation expression against the table's BASE
    * columns (driver-side, DDL- and write-time): returns the resolved
    * expression, cast to the declared type when the analyzer's type is
    * an up-castable narrower one. Loud on unresolved references,
    * non-determinism, references to other auto columns, and
    * non-castable types. */
  private[sources] def resolveExpr(spark: SparkSession, exprSql: String,
      colName: String, declared: DataType, schema: StructType,
      autoNames: Set[String]): (Expression, Seq[AttributeReference]) = {
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val plan = Project(Seq(Alias(parsed, colName)()), LocalRelation(attrs))
    val analyzed = org.apache.spark.sql.GraftBridge.ofRows(spark, plan)
      .queryExecution.analyzed.asInstanceOf[Project]
    val expr = analyzed.projectList.head.asInstanceOf[Alias].child
    require(expr.deterministic,
      s"graft catalog: generation expression of '$colName' must be " +
        s"deterministic, got: $exprSql")
    val badRefs = expr.references.map(_.name)
      .filter(r => autoNames.contains(r) && r != colName)
    require(badRefs.isEmpty,
      s"graft catalog: generation expression of '$colName' references " +
        s"other generated/identity column(s) ${badRefs.mkString(", ")} — " +
        "generation expressions may reference base columns only")
    val typed =
      if (expr.dataType == declared) expr
      else {
        require(Cast.canUpCast(expr.dataType, declared),
          s"graft catalog: generation expression of '$colName' has type " +
            s"${expr.dataType.simpleString}, not up-castable to the " +
            s"declared ${declared.simpleString}")
        // a hand-built Cast skips ResolveTimeZone — pin the session
        // zone or a timezone-aware cast (e.g. → TIMESTAMP_NTZ) NPEs
        // at eval
        Cast(expr, declared,
          Option(spark.sessionState.conf.sessionLocalTimeZone))
      }
    (typed, attrs)
  }

  /** One serializable fill instruction per auto column, bound to the
    * WRITE schema's ordinals. */
  sealed trait Item extends Serializable { def ordinal: Int; def name: String }
  final case class GenItem(ordinal: Int, name: String, bound: Expression,
                           recompute: Boolean, dataType: DataType) extends Item
  final case class IdItem(ordinal: Int, name: String, nextBase: Long,
                          step: Long, allowExplicit: Boolean,
                          passThrough: Boolean) extends Item

  /** `appended` — generated columns the WRITE SCHEMA does not carry
    * (a CTAS query into a transform-partitioned table yields only the
    * user columns): the filler widens every row and computes them at
    * the tail, so the files carry the derived values the layout and
    * the stats sidecar need. */
  final case class Fill(items: Seq[Item], types: Seq[DataType],
                        appended: Seq[StructField] = Seq.empty)
    extends Serializable

  /** Driver-side: bind every spec against the write schema. `rowLevel`
    * switches to the rewrite semantics (recompute generated, pass
    * identity through). The identity high-water mark is the PERSISTED
    * manifest mark when present (O(1), no scan — the only shape that
    * stays O(1) under deletion vectors, where footer aggregates
    * rightly refuse themselves); a legacy manifest without one pays a
    * one-time min/max aggregate (footer-answered on clean tables) and
    * the commit persists the result. */
  def resolveFill(spark: SparkSession, root: String, specs: Seq[Spec],
                  schema: StructType, rowLevel: Boolean,
                  appendFields: Seq[StructField] = Seq.empty): Fill = {
    val autoNames = specs.map(_.name).toSet
    val items = specs.map { s =>
      val ord = schema.fieldNames.indexOf(s.name) match {
        case -1 =>
          val j = appendFields.indexWhere(_.name == s.name)
          require(j >= 0 && s.isInstanceOf[Generated],
            s"graft-versioned: write schema ${schema.simpleString} lacks " +
              s"auto column '${s.name}' of `$root` — generated/identity " +
              "tables take Spark-aligned full-schema writes only")
          schema.length + j
        case i => i
      }
      def declaredType: DataType =
        if (ord < schema.length) schema(ord).dataType
        else appendFields(ord - schema.length).dataType
      s match {
        case Generated(n, sql) =>
          val (expr, attrs) = resolveExpr(spark, sql, n,
            declaredType, schema, autoNames)
          GenItem(ord, n,
            BindReferences.bindReference(expr, AttributeSeq(attrs)),
            recompute = rowLevel, declaredType)
        case Identity(n, start, step, allowExplicit, hwm) =>
          require(step != 0,
            s"graft-versioned: identity step of '$n' must be non-zero")
          // hwm always resolved: a row-level rewrite passes existing
          // ids through, but MERGE-inserted rows arrive null and need
          // fresh ids from past the high-water mark
          val nextBase = hwm match {
            case Some(h) => h // persisted mark: O(1), monotone, DV-safe
            case None => graft.operators.Versioned.latestVersion(root) match {
              case None => start
              case Some(_) =>
                import org.apache.spark.sql.functions.{max, min}
                val r = spark.read.format("graft-versioned").load(root)
                  .agg(min(n), max(n)).collect()(0)
                if (r.isNullAt(0)) start // no non-null ids yet
                else if (step > 0) math.max(start, r.getLong(1) + step)
                else math.min(start, r.getLong(0) + step)
            }
          }
          IdItem(ord, n, nextBase, step, allowExplicit,
            passThrough = rowLevel)
      }
    }
    Fill(items, schema.fields.toIndexedSeq.map(_.dataType), appendFields)
  }
}

/** Wraps the inner writer's commit message with this task's identity
  * assignment counts, so the driver commit can advance the persisted
  * high-water mark without a scan. */
private[sources] case class AutoFillCommitMessage(
    inner: WriterCommitMessage, partitionId: Int, numPartitions: Int,
    assigned: Map[String, Long]) extends WriterCommitMessage

private[sources] object AutoFillCommitMessage {
  /** The inner (file-list) messages, auto-fill wrapping stripped. */
  def unwrap(messages: Array[WriterCommitMessage]): Array[WriterCommitMessage] =
    messages.map {
      case m: AutoFillCommitMessage => m.inner
      case m => m
    }

  /** Per-identity-column next-id base implied by the tasks' assignment
    * counts: the task that assigned `a` ids on partition `p` of `P`
    * used ids `next + step·(k·P + p)` for k < a, so the first safe
    * base after the commit is `next + step·(maxK + 1)`. */
  def nextBases(fill: AutoColumns.Fill,
                messages: Array[WriterCommitMessage]): Map[String, Long] = {
    val wraps = messages.collect { case m: AutoFillCommitMessage => m }
    fill.items.collect { case id: AutoColumns.IdItem =>
      val ks = wraps.flatMap(m => m.assigned.get(id.name).filter(_ > 0L)
        .map(a => (a - 1L) * m.numPartitions + m.partitionId))
      val next =
        if (ks.isEmpty) id.nextBase
        else id.nextBase + id.step * (ks.max + 1L)
      id.name -> next
    }.toMap
  }
}

/** Wraps the parquet writer factory: every row passes the fill pass
  * (compute/enforce generated, assign/refuse identity) before hitting
  * the inner writer. Pure executor-side projection — no shuffle, no
  * driver round trips. */
private[sources] case class AutoFillWriterFactory(
    inner: DataWriterFactory, fill: AutoColumns.Fill, numPartitions: Int)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AutoFillDataWriter(inner.createWriter(partitionId, taskId),
      fill, numPartitions, partitionId)
}

/** The STREAMING twin: GENERATED columns only (identity streams refuse
  * at write build — their high-water mark is per-batch state), so the
  * fill is a stateless projection and numPartitions/partitionId are
  * irrelevant to correctness (no id ranges to interleave). */
private[sources] case class AutoFillStreamingWriterFactory(
    inner: org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory,
    fill: AutoColumns.Fill)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new AutoFillDataWriter(inner.createWriter(partitionId, taskId, epochId),
      fill, numPartitions = 1, partitionId = 0)
}

/** The per-row fill pass shared by the batch ([[AutoFillDataWriter]])
  * and merge-on-read delta ([[AutoFillDeltaWriter]]) writers:
  * compute/enforce generated columns, assign/refuse identity values.
  * Executor-local, zero coordination. */
private[sources] final class RowFiller(
    fill: AutoColumns.Fill, numPartitions: Int, partitionId: Int) {

  private[sources] val assigned = scala.collection.mutable.Map.empty[String, Long]
  private val n = fill.types.length
  private val outN = n + fill.appended.length

  /** Catalyst internal values compare by value for every scalar type
    * except binary (Array[Byte] — referential ==); generated columns
    * are declared-type values, so route binary through content
    * equality and everything else through standard equals. */
  private def valueEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: org.apache.spark.sql.catalyst.util.ArrayData,
          y: org.apache.spark.sql.catalyst.util.ArrayData) => x == y
    case _ => a == b
  }

  def apply(row: InternalRow): InternalRow = {
    val vals = new Array[Any](outN)
    var i = 0
    while (i < n) {
      vals(i) = if (row.isNullAt(i)) null else row.get(i, fill.types(i))
      i += 1
    }
    fill.items.foreach {
      case AutoColumns.GenItem(ord, name, bound, recompute, _) =>
        val computed = bound.eval(row)
        if (ord >= n || recompute || row.isNullAt(ord)) vals(ord) = computed
        else {
          val provided = vals(ord)
          if (!valueEq(provided, computed))
            throw new IllegalArgumentException(
              s"graft-versioned: provided value $provided for GENERATED " +
                s"ALWAYS column '$name' contradicts its generation " +
                s"expression (computed $computed) — omit the column or " +
                "write the matching value")
        }
      case AutoColumns.IdItem(ord, name, nextBase, step, allowExplicit,
          passThrough) =>
        if (row.isNullAt(ord)) {
          // partition-interleaved disjoint ranges: unique across all
          // writer tasks with zero coordination
          val k = assigned.getOrElse(name, 0L)
          vals(ord) = nextBase + step * (k * numPartitions + partitionId)
          assigned(name) = k + 1L
        } else if (!passThrough && !allowExplicit)
          throw new IllegalArgumentException(
            s"graft-versioned: explicit value for IDENTITY column " +
              s"'$name' refused — it is GENERATED ALWAYS (declare " +
              "GENERATED BY DEFAULT to allow explicit inserts)")
    }
    new GenericInternalRow(vals)
  }
}

private[sources] class AutoFillDataWriter(
    inner: DataWriter[InternalRow], fill: AutoColumns.Fill,
    numPartitions: Int, partitionId: Int)
  extends DataWriter[InternalRow] {

  private val filler = new RowFiller(fill, numPartitions, partitionId)

  override def write(row: InternalRow): Unit = inner.write(filler(row))

  override def commit(): WriterCommitMessage =
    AutoFillCommitMessage(inner.commit(), partitionId, numPartitions,
      filler.assigned.toMap)
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
