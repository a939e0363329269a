package gatebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.GatebenchBus
import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry, Tables}

/** JVM side of the gate benchmark (driven by gatebench/run.py).
  *
  *   list <out.json>                 gate sets and oracle SQL from SparkEntry
  *   run <plan.txt> <out.json>       cold pass, then the timed passes
  *   dump <fixtures> <outDir> <gate>...  write gate outputs for a full-value check
  *
  * `run` writes raw measurements only (gate walls, phase boundaries,
  * listener events); run.py turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        args.toList match {
          case "list" :: out :: Nil => list(out); 0
          case "run" :: plan :: out :: Nil => new Runner(Plan.read(plan)).run(out); 0
          case "dump" :: fixtures :: out :: gates if gates.nonEmpty =>
            dump(fixtures, out, gates); 0
          case _ =>
            System.err.println("usage: gatebench.Main list <out> | run <plan> <out> | " +
              "dump <fixtures> <outDir> <gate>...")
            2
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; exit explicitly
    sys.exit(code)
  }

  private def list(out: String): Unit = {
    val doc = Map[String, Any](
      "queries" -> SparkEntry.queries.keys.toSeq.sorted,
      "streaming" -> SparkEntry.streamingQueries.toSeq.sorted,
      "sink_bound" -> SparkEntry.sinkBoundQueries.toSeq.sorted,
      "oracle_sql" -> SparkEntry.oracleSql)
    Files.writeString(Paths.get(out), Json(doc) + "\n")
  }

  /** Writes each gate's output the way graft.Verify does, so
    * tools/check_oracle.py can compare full values. */
  private def dump(fixtures: String, out: String, gates: Seq[String]): Unit = {
    val spark = GraftSession.build()
    val failed = mutable.LinkedHashMap[String, String]()
    gates.foreach { g =>
      try SparkEntry.queries(g)(spark, fixtures).coalesce(1).write
        .mode("overwrite").parquet(s"$out/$g")
      catch { case NonFatal(e) => failed(g) = String.valueOf(e.getMessage).take(500) }
    }
    Files.writeString(Paths.get(s"$out/_failed.json"), Json(failed.toMap) + "\n")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter(kv => gates.contains(kv._1))) + "\n")
    spark.stop()
  }
}

/** What run.py asks for: the fixture directory, whether to trace, the
  * cold-pass order and one gate order per timed pass. */
final case class Plan(fixtures: String, trace: Boolean, cold: Seq[String],
                      passes: Seq[Seq[String]])

object Plan {
  /** One "key value" line per field; a pass line lists gate names. */
  def read(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim.split(" ", 2)).collect { case Array(k, v) => k -> v }
    def one(key: String): String =
      lines.collectFirst { case (`key`, v) => v }
        .getOrElse(throw new IllegalArgumentException(s"plan has no '$key' line"))
    def gates(v: String): Seq[String] = v.split("\\s+").toSeq
    Plan(one("fixtures"), one("trace") == "1", gates(one("cold")),
      lines.collect { case ("pass", v) => gates(v) })
  }
}

final class Runner(plan: Plan) {
  /** Repetitions of the warm table-resolution measurement. */
  private val TableReps = 3

  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Wall clock in epoch ms with nanoTime resolution, comparable with
    * the listener events' epoch-ms times. */
  private def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  private val samples = mutable.ArrayBuffer[Map[String, Any]]()
  private val traces = mutable.ArrayBuffer[Map[String, Any]]()

  /** Bytes read and written through the local ("file") Hadoop file
    * system, then the whole JVM's read and write syscalls from
    * /proc/self/io (shuffle files, class loading and logging included). */
  private def ioCounters(): Seq[Long] = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Seq(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum) ++
      Seq("syscr", "syscw").map(Box.procIo().getOrElse(_, -1L))
  }

  private def jiffies(): Map[String, Any] = {
    val j = Box.jiffies()
    Map[String, Any]("at_ms" -> nowMs, "busy" -> j.busy, "steal" -> j.steal,
      "total" -> j.total, "self" -> j.self)
  }

  def run(out: String): Unit = {
    val jiffiesStart = jiffies()
    val setup0 = nowMs
    val spark = GraftSession.build()
    val sessionMs = nowMs - setup0
    val gates = SparkEntry.queries
    val unknown = (plan.cold ++ plan.passes.flatten).distinct.filterNot(gates.contains)
    require(unknown.isEmpty, s"plan names unknown gates: ${unknown.mkString(", ")}")

    def dropState(): Unit = {
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    def sample(pass: Int, seq: Int, gate: String, traced: Boolean, startMs: Double,
               endMs: Double, rows: Long, error: Option[String]): Unit =
      samples += Map[String, Any]("pass" -> pass, "seq" -> seq, "gate" -> gate,
        "traced" -> traced, "start_ms" -> startMs, "end_ms" -> endMs,
        "rows" -> rows, "error" -> error)

    def errText(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

    /** Untraced: the gate function and its plan's execution, one wall. */
    def runPlain(pass: Int, seq: Int, gate: String): Unit = {
      val t0 = nowMs
      val res =
        try Right(gates(gate)(spark, plan.fixtures).queryExecution.toRdd.count())
        catch { case NonFatal(e) => Left(errText(e)) }
      val t1 = nowMs
      dropState()
      sample(pass, seq, gate, traced = false, t0, t1, res.getOrElse(-1L), res.left.toOption)
    }

    val sc = spark.sparkContext
    val jobRec = new JobRecorder
    val batchRec = new BatchRecorder

    /** Traced: construct (the gate function), plan (executedPlan) and
      * execute (toRdd.count) as three spans, with I/O counters read at
      * each boundary and jobs tagged with their phase. */
    def runTraced(pass: Int, seq: Int, gate: String): Unit = {
      val run = s"p$pass.$seq.$gate"
      batchRec.gateRun = run
      val marks = mutable.ArrayBuffer[Double]()
      val fs = mutable.ArrayBuffer[Seq[Long]]()
      def mark(): Unit = { marks += nowMs; fs += ioCounters() }
      var df: DataFrame = null
      var rows = -1L
      var error: Option[String] = None
      mark()
      try {
        sc.setLocalProperty(Recorder.SpanKey, s"$run|construct")
        df = gates(gate)(spark, plan.fixtures)
        mark()
        sc.setLocalProperty(Recorder.SpanKey, s"$run|plan")
        df.queryExecution.executedPlan
        mark()
        sc.setLocalProperty(Recorder.SpanKey, s"$run|execute")
        rows = df.queryExecution.toRdd.count()
        mark()
      } catch { case NonFatal(e) => mark(); error = Some(errText(e)) }
      finally sc.setLocalProperty(Recorder.SpanKey, null)
      // the final adaptive plan, counted the way graft.JobProbe does
      val finalPlan =
        if (error.isEmpty) df.queryExecution.executedPlan.toString else ""
      def n(p: String) = p.r.findAllIn(finalPlan).size
      dropState()
      GatebenchBus.drain(sc)
      sample(pass, seq, gate, traced = true, marks.head, marks.last, rows, error)
      traces += Map[String, Any]("gate_run" -> run, "gate" -> gate, "pass" -> pass,
        "seq" -> seq, "marks_ms" -> marks.toSeq, "fs" -> fs.toSeq, "rows" -> rows,
        "error" -> error, "scans" -> n("Scan parquet"), "exchanges" -> n("Exchange"),
        "reused_exchanges" -> n("ReusedExchange|ReusedQueryStage"))
    }

    plan.cold.zipWithIndex.foreach { case (g, i) => runPlain(-1, i, g) }
    val setupMs = nowMs - setup0

    // A traced run alternates untraced and traced passes so that the
    // tracing overhead is measured under the same conditions.
    val timed0 = nowMs
    plan.passes.indices.foreach { p =>
      val traced = plan.trace && p % 2 == 1
      if (traced) {
        sc.addSparkListener(jobRec)
        spark.streams.addListener(batchRec)
      }
      plan.passes(p).zipWithIndex.foreach { case (g, i) =>
        if (traced) runTraced(p, i, g) else runPlain(p, i, g)
      }
      if (traced) {
        GatebenchBus.drain(sc)
        sc.removeSparkListener(jobRec)
        spark.streams.removeListener(batchRec)
      }
    }
    val timedMs = nowMs - timed0

    // table resolution, warm: the schema of every fixture table
    val tables = if (!plan.trace) Nil else {
      sc.addSparkListener(jobRec)
      val reps = (0 until TableReps).map { r =>
        sc.setLocalProperty(Recorder.SpanKey, s"tables.$r|resolve")
        val a = nowMs
        Tables.names.foreach(t => Tables.table(spark, plan.fixtures, t).schema)
        val b = nowMs
        sc.setLocalProperty(Recorder.SpanKey, null)
        Map[String, Any]("rep" -> r, "start_ms" -> a, "end_ms" -> b)
      }
      GatebenchBus.drain(sc)
      sc.removeSparkListener(jobRec)
      reps
    }

    val master = sc.master
    val parallelism = sc.defaultParallelism
    spark.stop()
    val (jobs, stages) = jobRec.snapshot()
    val doc = Map[String, Any](
      "master" -> master,
      "parallelism" -> parallelism,
      "session_s" -> sessionMs / 1000.0,
      "setup_s" -> setupMs / 1000.0,
      "timed_s" -> timedMs / 1000.0,
      "passes" -> plan.passes.size,
      "vmhwm_bytes" -> Box.vmHwmBytes(),
      "jiffies_start" -> jiffiesStart,
      "jiffies_end" -> jiffies(),
      "samples" -> samples.toSeq,
      "gates" -> traces.toSeq,
      "jobs" -> jobs,
      "stages" -> stages,
      "batches" -> batchRec.snapshot(),
      "tables" -> tables)
    Files.writeString(Paths.get(out), Json(doc) + "\n")
  }
}
