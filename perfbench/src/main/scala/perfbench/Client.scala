package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.{Loaders, Writers}

/** Closed-loop benchmark client: one JVM, one caller, `local[cores]`.
  *
  * It reads the operation plans written by `run.py`, sets up a session
  * several times, runs a warm pass in the last one, then issues the
  * plan's operations one after another through graft's public entry
  * points until the time is up. It times every call from outside and writes raw records, one JSON
  * object a line, for `run.py` to check and summarize:
  *
  *   {"rec":"boot",...}   JVM start to `main`
  *   {"rec":"warm",...}   the warm pass
  *   {"rec":"setup",...}  one per set-up repetition
  *   {"rec":"op",...}     one per operation, with its spans (build, plan,
  *                        exec; input, write) and its result checksum
  *   {"rec":"job",...}    traced runs only: one per Spark job, with the
  *                        span it was submitted under and its call site
  *   {"rec":"check",...}  fingerprint of each query's result as written
  *                        out for the oracle comparison
  *   {"rec":"run",...}    window totals (CPU, GC, memory) and environment
  *
  * Usage:
  *   Client run key=value...              (the keys `run.py` passes)
  *   Client oracle <out.json> <query>...  (dump SparkEntry.oracleSql)
  */
object Client {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
  }

  private val out = new StringBuilder

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("oracle") =>
      val names = argv.drop(2).toSeq
      val all = SparkEntry.oracleSql
      val body = names.map(n => s"${q(n)}: ${q(all.getOrElse(n, sys.error(s"no oracle for $n")))}")
      Files.writeString(Paths.get(argv(1)), body.mkString("{\n", ",\n", "\n}\n"))
    case Some("run") =>
      run(Args(argv.drop(1).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap))
    case _ =>
      System.err.println("usage: Client run key=value... | Client oracle out.json query...")
      sys.exit(2)
  }

  // ── JSON output ──────────────────────────────────────────────────────
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def jval(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => jval(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(jval).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => s"${q(k.toString)}:${jval(x)}" }.mkString("{", ",", "}")
    case other => q(other.toString)
  }
  private def emit(rec: String, fields: (String, Any)*): Unit = out.synchronized {
    out ++= jval(Map(("rec" -> rec) +: fields: _*)) += '\n'
  }

  // ── Spark listener: jobs tagged with the span they were submitted in ─
  final class Job(val id: Int, val span: String, val callsite: String, val startMs: Long) {
    @volatile var endMs = 0L
    @volatile var ok = true
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final class Tracer extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    @volatile var lastMarker = ""

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new Properties)
      val span = p.getProperty(SpanKey)
      if (span != null && span.startsWith("marker:")) lastMarker = span
      else if (span != null) {
        val site = Option(p.getProperty("callSite.short"))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
        val j = new Job(e.jobId, span, site, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != org.apache.spark.Success) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.maxTaskMs = math.max(j.maxTaskMs, m.executorRunTime)
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.diskBytesSpilled
          }
        }
      }

    /** Blocks until every event submitted so far has been delivered: the
      * listener bus is FIFO, so once a marker job submitted now has been
      * seen, all earlier jobs' events have been too.
      */
    def drain(spark: SparkSession, tag: String): Unit = {
      val marker = s"marker:$tag"
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(SpanKey, null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (lastMarker != marker && System.nanoTime() < deadline) Thread.sleep(2)
    }
  }

  val SpanKey = "perfbench.span"

  // ── Operation plan ───────────────────────────────────────────────────
  /** One line of the plan file: tab-separated `kind pass arg...`. */
  final case class Op(kind: String, pass: Int, args: Vector[String])

  def readPlan(p: Path): Vector[Op] =
    Files.readAllLines(p).asScala.toVector.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1).toVector
      Op(f(0), f(1).toInt, f.drop(2))
    }

  /** Order-independent result fingerprint, computed by the action that
    * materializes every column: (rows, sum of per-row hashes). Doubles
    * are rounded to 9 places, as the oracle comparison does.
    */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(1000000007L))
    df.select(h.as("h")).agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("s"))
  }

  /** Exact checksum of a delta read, reproducible in DuckDB by `run.py`. */
  def deltaChecksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(col("l_orderkey")), lit(0L)),
      coalesce(sum(col("l_linenumber").cast(LongType)), lit(0L)),
      coalesce(sum(round(col("l_quantity") * 100).cast(LongType)), lit(0L)),
      coalesce(sum(round(col("l_extendedprice") * 100).cast(LongType)), lit(0L)))

  private def rowString(df: DataFrame): String =
    df.collect().head.toSeq.map(String.valueOf).mkString(":")

  // ── the run ──────────────────────────────────────────────────────────
  def run(a: Args): Unit = {
    val workload = a("workload")
    val cores = a.int("cores")
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val plan = readPlan(Paths.get(a("plan")))
    val warmPlan = readPlan(Paths.get(a("warm_plan")))
    val outFile = Paths.get(a("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainEntryMs = System.currentTimeMillis()
    // ms since epoch ↔ nanoTime, so listener job times share the span clock
    val nanoAtEpoch = System.nanoTime() - mainEntryMs * 1000000L

    var spark: SparkSession = null
    val tracer = new Tracer
    var tracing = false
    def span(name: String): Unit = spark.sparkContext.setLocalProperty(SpanKey, name)

    // delta_rw keeps one table per set-up; reads and writes go to it
    var table = ""
    // first result frame of each query, written out for the oracle check
    val kept = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    /** Runs one operation; `phase` is "first" (inside a set-up), "warm"
      * or "measure". Only measured operations are traced; set-up and
      * warm operations are recorded when `record` is set, for the check.
      */
    def runOp(idx: Int, op: Op, data: String, phase: String, record: Boolean): Unit = {
      val tracedOp = tracing && phase == "measure"
      val spans = ArrayBuffer.empty[(String, Long, Long)]
      def timed[T](kind: String)(f: => T): T = {
        if (tracedOp) span(s"$idx:$kind")
        val t0 = System.nanoTime()
        try f finally {
          spans += ((kind, t0, System.nanoTime()))
          if (tracedOp) span(null)
        }
      }
      var result = ""
      var rows = -1L
      var phases = Map.empty[String, Long]
      var built: Option[DataFrame] = None
      var err: String = null
      val isWrite = Set("append", "upsert", "delete")(op.kind)
      val checkpointsBefore = if (isWrite) checkpointCount(table) else 0
      val t0 = System.nanoTime()
      try {
        def query(build: => DataFrame, action: DataFrame => DataFrame): Unit = {
          val df = timed("build")(build)
          val agg = timed("plan") { val f = action(df); f.queryExecution.executedPlan; f }
          result = timed("exec")(rowString(agg))
          phases = agg.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap
          built = Some(df)
        }
        op.kind match {
          case "query" =>
            query(SparkEntry.queries(op.args(0))(spark, data), fingerprintFrame)
          case "read_full" =>
            query(Loaders.loadDelta(spark, table, "t").df, deltaChecksum)
          case "read_pruned" =>
            query(Loaders.loadDeltaWhere(spark, table, "t", op.args(0)).df, deltaChecksum)
          case "append" =>
            val df = timed("input")(spark.read.parquet(s"$data/${op.args(0)}"))
            rows = op.args(1).toLong
            timed("write")(Writers.writeDeltaTable(df, "append", table))
          case "upsert" =>
            val df = timed("input")(spark.read.parquet(op.args(0)))
            rows = op.args(1).toLong
            timed("write")(Writers.upsertDeltaTable(df, Seq("l_orderkey", "l_linenumber"), table))
          case "delete" =>
            timed("write") { rows = Writers.deleteFromDeltaTable(spark, table, op.args(0)).toLong }
          case other => sys.error(s"unknown operation $other")
        }
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val t1 = System.nanoTime()
      val checkpoints = if (isWrite) checkpointCount(table) - checkpointsBefore else -1
      if (tracedOp) tracer.drain(spark, s"$phase$idx")
      if (record) emit("op", "idx" -> idx, "phase" -> phase, "kind" -> op.kind, "name" -> op.args.headOption.getOrElse(""),
        "pass" -> op.pass, "traced" -> tracedOp, "args" -> op.args, "start_ns" -> t0, "end_ns" -> t1,
        "spans" -> spans.toSeq.map { case (k, s, e) => Map("kind" -> k, "start_ns" -> s, "end_ns" -> e) },
        "result" -> result, "rows" -> rows, "phases_ms" -> phases, "checkpoints" -> checkpoints,
        "error" -> Option(err))
      if (op.kind == "query" && phase != "warm") built.foreach(df => kept.getOrElseUpdate(op.args(0), df))
    }

    def newSession(): Unit = {
      if (spark != null) spark.stop()
      kept.clear() // frames of a stopped session cannot be written out
      spark = Loaders.session("perfbench", s"local[$cores]", cores)
      spark.sparkContext.setLogLevel("ERROR")
    }

    emit("boot", "s" -> ((System.nanoTime() - nanoAtEpoch) / 1e9 - jvmStartMs / 1e3))

    // ── set-up, repeated: a fresh session, the workload's inputs staged,
    // and its first operation answered. The first repetition also pays
    // for the cold JVM; the median is reported. ─────────────────────────
    val first = readPlan(Paths.get(a("first_plan")))
    for (rep <- 0 until a.int("setups")) {
      val t1 = System.nanoTime()
      newSession()
      val t2 = System.nanoTime()
      if (workload == "delta_rw") {
        table = work.resolve(s"table_$rep").toString
        Writers.writeDeltaTable(spark.read.parquet(s"${a("data")}/${a("base")}"), "overwrite", table)
      }
      val t3 = System.nanoTime()
      first.zipWithIndex.foreach { case (op, k) => runOp(-1000 * (rep + 1) - k, op, a("data"), "first", record = true) }
      val t4 = System.nanoTime()
      emit("setup", "rep" -> rep, "s" -> (t4 - t1) / 1e9, "session_s" -> (t2 - t1) / 1e9,
        "stage_s" -> (t3 - t2) / 1e9, "first_op_s" -> (t4 - t3) / 1e9)
    }

    // ── warm-up in the last set-up's session, untimed but checked: the
    // query mix (JIT, codegen), or the Delta table's first commits, which
    // also take it past its first checkpoint ────────────────────────────
    val w0 = System.nanoTime()
    warmPlan.zipWithIndex.foreach { case (op, k) => runOp(-1 - k, op, a("data"), "warm", record = true) }
    emit("warm", "s" -> (System.nanoTime() - w0) / 1e9)
    // ── measured window: `seconds` of operations in whole passes (the
    // pass in flight at the deadline completes). A traced run measures a
    // window with the listener, spans and drains on first, and reports
    // from it; a second, untraced window is the baseline for the tracing
    // overhead. ───────────────────────────────────────────────────────────
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    var i = 0
    var window: Map[String, Any] = Map.empty
    for (traceWindow <- if (traced) Seq(true, false) else Seq(false)) {
      tracing = traceWindow
      if (tracing) spark.sparkContext.addSparkListener(tracer)
      else if (traced) spark.sparkContext.removeSparkListener(tracer)
      heapPools.foreach(_.resetPeakUsage())
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcs.map(_.getCollectionTime).sum
      val jit0 = jit.getTotalCompilationTime
      val w0 = System.nanoTime()
      val deadline = w0 + (a("seconds").toDouble * 1e9).toLong
      val start = i
      while (i < plan.length && (System.nanoTime() < deadline || (i > start && plan(i).pass == plan(i - 1).pass))) {
        runOp(i, plan(i), a("data"), "measure", record = true)
        i += 1
      }
      if (traceWindow) {
        tracer.drain(spark, "end")
        if (table.nonEmpty) emit("delta_table", "log_bytes" -> dirBytes(Paths.get(table, "_delta_log")),
          "data_bytes" -> (dirBytes(Paths.get(table)) - dirBytes(Paths.get(table, "_delta_log"))),
          "files" -> Files.list(Paths.get(table)).iterator.asScala.count(_.toString.endsWith(".parquet")))
      }
      if (traceWindow || !traced) window = Map("window_s" -> (System.nanoTime() - w0) / 1e9, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "gc_s" -> (gcs.map(_.getCollectionTime).sum - gc0) / 1e3,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
    tracing = false
    if (i == plan.length) emit("plan_exhausted", "ops" -> i)

    if (traced) {
      tracer.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        emit("job", "id" -> j.id, "span" -> j.span, "callsite" -> j.callsite,
          "start_ns" -> (nanoAtEpoch + j.startMs * 1000000L), "end_ns" -> (nanoAtEpoch + j.endMs * 1000000L),
          "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "task_ms" -> j.taskMs, "max_task_ms" -> j.maxTaskMs, "shuffle_read_b" -> j.shuffleRead,
          "shuffle_write_b" -> j.shuffleWrite, "spill_b" -> j.spill)
      }
    }

    // ── output check, outside the measured window ─────────────────────
    kept.foreach { case (name, df) =>
      val dir = work.resolve("results").resolve(name).toString
      try {
        df.write.mode("overwrite").parquet(dir)
        emit("check", "name" -> name, "dir" -> dir, "result" -> rowString(fingerprintFrame(spark.read.parquet(dir))))
      } catch {
        case e: Throwable => emit("check", "name" -> name, "dir" -> dir, "result" -> "",
          "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }

    emit("run", (window.toSeq ++ Seq("rss_peak_mb" -> vmHwmMb(), "cores" -> cores,
      "spark" -> spark.version, "jvm" -> System.getProperty("java.vm.version"))): _*)
    spark.stop()
    Files.writeString(outFile, out.toString, StandardCharsets.UTF_8)
  }

  private def checkpointCount(table: String): Int = {
    val log = Paths.get(table, "_delta_log")
    if (!Files.isDirectory(log)) 0
    else Files.list(log).iterator.asScala.count(_.getFileName.toString.contains(".checkpoint"))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  private def vmHwmMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
}
