package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.functions.{ChDdl, ChSql, GraftFunctions}
import graft.sources.Tables

/** One benchmark run in one JVM, driven by a plan file that run.py
  * writes. Order: set-up, a cold pass, an untimed correctness pass,
  * timed warm passes for the run's seconds. A plan with `setup_only`
  * stops after the set-up, so run.py can time set-up in further fresh
  * JVMs. One driver thread issues every op (a closed loop, one client).
  *
  * Only public entry points are called: SparkEntry.queries, Tables,
  * ChSql.translate, ChDdl.execute, and Spark's listener APIs. All
  * statistics are computed by run.py from result.json.
  */
object Harness {

  /** One plan op: an olap/curation key, or a classed DDL statement. */
  final case class Op(cls: String, text: String)

  final class Plan(lines: Seq[String]) {
    private val kv = lines.map(_.split("\t", 2)).collect {
      case Array(k, v) => k -> v
    }
    private def one(k: String): String =
      kv.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"plan lacks $k"))
    private def all(k: String): Seq[String] = kv.collect { case (`k`, v) => v }
    val workload: String = one("workload")
    val data: String = one("data")
    /** olap/curation: where the untimed correctness pass reads */
    val checkData: String = all("check_data").headOption.getOrElse(data)
    val work: String = one("work")
    val seconds: Double = one("seconds").toDouble
    val trace: Boolean = one("trace") == "1"
    val cores: Int = one("cores").toInt
    val setupOnly: Boolean = all("setup_only").contains("1")
    val tables: Seq[String] = one("tables").split(",").toSeq
    /** `view name sql`: views a DDL script reads from */
    val views: Seq[(String, String)] = all("view").map { v =>
      val Array(n, sql) = v.split("\t", 2); n -> sql
    }
    /** olap/curation: one key order per pass, cycled. `families`
      * instead names every registry key whose first letter it lists,
      * in sorted order, for a survey of the whole registry. */
    val passes: Seq[Seq[String]] = all("families").headOption match {
      case Some(f) => Seq(SparkEntry.queries.keys.filter(k => f.contains(k.head)).toSeq.sorted)
      case None => all("pass").map(_.split(",").toSeq)
    }
    /** ddl: the script, one classed statement per line */
    val script: Seq[Op] = all("stmt").map { s =>
      val Array(c, t) = s.split("\t", 2); Op(c, t)
    }
    /** ddl: tables whose directories count as stored bytes */
    val stored: Seq[String] = all("stored").flatMap(_.split(","))
  }

  // ---------- clock: epoch microseconds with nanoTime resolution ----------

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  // ---------- JSON writing (no library needed for this shape) ----------

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => q(k) + ":" + js(v) }.mkString("{", ",", "}")
  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => q(other.toString)
  }
  /** Pre-rendered JSON, e.g. a row Spark rendered with toJSON. */
  final case class Raw(json: String)

  // ---------- tracing: spans from the harness, events from Spark ----------

  /** A span recorded around a call into one layer. `parent` is the
    * enclosing harness span; Spark events are attached later by
    * run.py from their span label and time interval. */
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startUs: Long, endUs: Long)

  final class Tracer {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Int]
    var op: Int = -1
    var enabled = false
    def apply[T](name: String)(body: => T): T = {
      if (!enabled) return body
      val id = spans.length
      val parent = if (stack.isEmpty) -1 else stack.top
      spans += Span(id, parent, name, op, nowUs, 0L)
      stack.push(id)
      val prevLabel = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", id.toString)
      try body
      finally {
        stack.pop()
        sc.setLocalProperty("perfbench.span", prevLabel)
        spans(id) = spans(id).copy(endUs = nowUs)
      }
    }
    var sc: org.apache.spark.SparkContext = _
  }

  final case class Job(id: Int, label: String, startMs: Long, var endMs: Long,
      stages: Seq[Int])
  final class StageAgg {
    var label = ""; var startMs = 0L; var endMs = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L
    var input = 0L; var spill = 0L; var peakMem = 0L; var output = 0L
    var done = false
  }
  /** Catalyst phase intervals (epoch ms) of one QueryExecution, and the
    * time graft's own optimizer rules took in it. */
  final case class Qe(fn: String, phases: Map[String, (Long, Long)], graftRuleNs: Long,
      endUs: Long)

  /** Job, stage and task counters from the public listener bus, keyed
    * by the span label the driver thread set as a local property. */
  final class Events extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    val qes = mutable.ArrayBuffer.empty[Qe]
    @volatile var markerSeen = false
    @volatile var markerQeSeen = false

    private def agg(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, label, e.time, 0L, e.stageIds)
      e.stageIds.foreach { s => stageJob(s) = e.jobId; agg(s).label = label }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      if (jobs.get(e.jobId).exists(_.label == "marker")) markerSeen = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = agg(i.stageId)
      a.startMs = i.submissionTime.getOrElse(0L)
      a.endMs = i.completionTime.getOrElse(0L)
      a.done = true
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = agg(e.stageId)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.output += m.outputMetrics.bytesWritten
      }
    }
    private def record(fn: String, qe: QueryExecution): Unit = synchronized {
      val t = qe.tracker
      val phases = t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val graftNs = t.rules.collect {
        case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
      }.sum
      qes += Qe(fn, phases, graftNs, nowUs)
    }
    override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit = {
      record(fn, qe)
      if (qe.logical.toString.contains("perfbench_marker")) markerQeSeen = true
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      record(fn, qe)

    def json: String = synchronized {
      obj(
        "jobs" -> jobs.values.toSeq.map(j => Raw(obj("id" -> j.id, "label" -> j.label,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages))),
        "stages" -> stages.toSeq.filter(_._2.done).map { case (id, a) => Raw(obj(
          "id" -> id, "job" -> stageJob.getOrElse(id, -1), "label" -> a.label,
          "start_ms" -> a.startMs, "end_ms" -> a.endMs, "tasks" -> a.tasks,
          "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "shuffle_write" -> a.shuffleWrite, "input" -> a.input, "spill" -> a.spill,
          "peak_mem" -> a.peakMem, "output" -> a.output)) },
        "qes" -> qes.toSeq.map(x => Raw(obj("fn" -> x.fn, "end_us" -> x.endUs,
          "graft_rule_ns" -> x.graftRuleNs,
          "phases" -> x.phases.map { case (k, (s, e)) => k -> Seq(s, e) }))))
    }
  }

  // ---------- the run ----------

  /** Pass number of the untimed warm-up pass; the cold pass is 0 and
    * measured passes count from 1. */
  val WarmUp = -2
  def main(args: Array[String]): Unit = {
    val plan = new Plan(Files.readAllLines(Paths.get(args(0)), UTF_8).asScala.toSeq)
    val out = Paths.get(args(1))
    if (plan.setupOnly) new Run(plan).setupOnly(out) else new Run(plan).execute(out)
  }

  final class Run(plan: Plan) {
    val tracer = new Tracer
    val events = new Events
    var spark: SparkSession = _
    val resolve = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opRecords = mutable.ArrayBuffer.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]
    val readRows = mutable.ArrayBuffer.empty[String]
    val residue = mutable.ArrayBuffer.empty[String]
    val ddlFiles = mutable.ArrayBuffer.empty[String]
    val translateProbes = mutable.ArrayBuffer.empty[String]
    var opSeq = 0
    lazy val queries = SparkEntry.queries

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${plan.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", plan.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.warehouse.dir", s"${plan.work}/warehouse")
        .config("spark.local.dir", s"${plan.work}/local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def table(t: Tables, name: String): DataFrame = name match {
      case "region" => t.region
      case "nation" => t.nation
      case "customer" => t.customer
      case "supplier" => t.supplier
      case "part" => t.part
      case "orders" => t.orders
      case "lineitem" => t.lineitem
      case "events" => t.events
      case "documents" => t.documents
      case "embeddings" => t.embeddings
    }

    /** Session, graft functions, and the tables the workload reads,
      * each resolved once through `Tables` and registered as a view. */
    def setup(): Unit = {
      spark = session()
      tracer.sc = spark.sparkContext
      if (plan.trace) startTracing()
      GraftFunctions.ensureRegistered(spark)
      val tables = Tables(spark, plan.data)
      plan.tables.foreach { t =>
        val t0 = System.nanoTime()
        tracer(s"resolve:$t") { table(tables, t).createOrReplaceTempView(t) }
        resolve += Map("table" -> t, "ms" -> (System.nanoTime() - t0) / 1e6)
      }
      plan.views.foreach { case (v, sql) => spark.sql(sql).createOrReplaceTempView(v) }
      if (plan.trace) stopTracing()
    }

    /** Set-up alone: the time from JVM launch to ready is the only
      * figure this JVM gives. */
    def setupOnly(outPath: java.nio.file.Path): Unit = {
      setup()
      val readyMs = System.currentTimeMillis()
      spark.stop()
      Files.write(outPath, obj("ready_epoch_ms" -> readyMs).getBytes(UTF_8))
    }

    def execute(outPath: java.nio.file.Path): Unit = {
      val work = new File(plan.work)
      val checkDir = new File(work, "check")
      checkDir.mkdirs()
      setup()
      val readyMs = System.currentTimeMillis()

      // the cold pass writes each key's result for the correctness check
      // when the check reads the same data; otherwise an untimed pass
      // over the check data follows it
      val ddl = plan.workload == "ddl_ingest"
      val sameData = plan.checkData == plan.data
      val coldS = if (ddl) ddlRound(0, traced = false, first = true)
        else keyPass(0, traced = false, if (sameData) Some(checkDir) else None)
      val checkT0 = System.nanoTime()
      if (!ddl) {
        if (!sameData) checkPass(checkDir)
        writeOracles(checkDir)
      }
      val checkS = (System.nanoTime() - checkT0) / 1e9

      // one untimed warm-up pass lets the JIT settle after the cold
      // pass; then measured passes until the run's seconds are spent.
      // The trace run orders its measured passes untraced, traced,
      // traced, untraced, … so the same JVM measures the tracing
      // overhead without a warm-up bias.
      if (ddl) ddlRound(WarmUp, traced = false, first = false) else keyPass(WarmUp, traced = false)
      var pass = 1
      var elapsed = 0.0
      val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double, Double)]
      val minPasses = if (plan.trace) 4 else 1
      while (pass - 1 < minPasses || elapsed < plan.seconds) {
        val traced = plan.trace && (pass % 4 == 2 || pass % 4 == 3)
        if (traced) startTracing()
        val cpu0 = processCpuNs()
        val (steal0, jiffies0) = hostCpu()
        val wall = if (ddl) ddlRound(pass, traced, first = false) else keyPass(pass, traced)
        val cpuS = (processCpuNs() - cpu0) / 1e9
        val (steal1, jiffies1) = hostCpu()
        if (traced) stopTracing()
        val steal =
          if (jiffies1 > jiffies0) (steal1 - steal0).toDouble / (jiffies1 - jiffies0) else 0.0
        passWall += ((pass, traced, wall, cpuS, steal))
        elapsed += wall
        pass += 1
      }
      val rssMb = peakRssMb()
      val retainedMb = retainedHeapMb()

      val result = obj(
        "workload" -> plan.workload,
        "ready_epoch_ms" -> readyMs,
        "cold_pass_s" -> coldS,
        "check_pass_s" -> checkS,
        "check_attempted" -> checkAttempted,
        "passes" -> passWall.toSeq.map { case (p, t, w, c, st) =>
          Raw(obj("pass" -> p, "traced" -> t, "wall_s" -> w, "cpu_s" -> c,
            "steal_share" -> st)) },
        "ops" -> opRecords.toSeq.map(Raw(_)),
        "failures" -> failures.toSeq.map(Raw(_)),
        "reads" -> readRows.toSeq.map(Raw(_)),
        "resolve" -> resolve.toSeq,
        "residue" -> residue.toSeq.map(Raw(_)),
        "ddl_files" -> ddlFiles.toSeq.map(Raw(_)),
        "translate" -> translateProbes.toSeq.map(Raw(_)),
        "space" -> space,
        "peak_rss_mb" -> rssMb,
        "retained_heap_mb" -> retainedMb,
        "cores" -> plan.cores,
        "spans" -> tracer.spans.toSeq.map(s => Raw(obj("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start_us" -> s.startUs, "end_us" -> s.endUs))),
        "events" -> Raw(events.json))
      spark.stop()
      Files.write(outPath, result.getBytes(UTF_8))
    }

    def startTracing(): Unit = {
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(events)
      tracer.enabled = true
    }

    /** Drain the listener bus with a marker action before removing the
      * listeners, so the traced pass's last events are not dropped. */
    def stopTracing(): Unit = {
      tracer.enabled = false
      events.markerSeen = false
      events.markerQeSeen = false
      spark.sparkContext.setLocalProperty("perfbench.span", "marker")
      spark.range(1).toDF("perfbench_marker").write.format("noop").mode("overwrite").save()
      spark.sparkContext.setLocalProperty("perfbench.span", null)
      val deadline = System.nanoTime() + 10e9.toLong
      while (!(events.markerSeen && events.markerQeSeen) && System.nanoTime() < deadline)
        Thread.sleep(5)
      spark.sparkContext.removeSparkListener(events)
      spark.listenerManager.unregister(events)
    }

    /** Times one op; a failed op is recorded and contributes no time. */
    def timedOp(pass: Int, name: String, cls: String, traced: Boolean)(body: => Unit): Double = {
      opSeq += 1
      tracer.op = opSeq
      val t0 = System.nanoTime()
      val ok = try { tracer("op") { body }; true } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failures += obj("pass" -> pass, "name" -> name, "error" ->
            msg.linesIterator.take(3).mkString(" | ").take(500))
          System.err.println(s"[perfbench] $name failed: ${msg.linesIterator.take(1).mkString}")
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      opRecords += obj("seq" -> opSeq, "pass" -> pass, "name" -> name, "cls" -> cls,
        "ms" -> ms, "ok" -> ok, "traced" -> traced)
      if (traced) {
        val sc = spark.sparkContext
        val persisted = sc.getPersistentRDDs.size
        val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        residue += obj("seq" -> opSeq, "rdds" -> persisted, "bytes" -> cached)
      }
      spark.catalog.clearCache()
      ms
    }

    /** One pass over the keys in this pass's seeded order: build the
      * DataFrame, then consume every row into the noop sink, or into
      * parquet under `results` for the correctness check. */
    def keyPass(pass: Int, traced: Boolean, results: Option[File] = None): Double = {
      val keys = plan.passes(Math.floorMod(pass, plan.passes.length))
      val t0 = System.nanoTime()
      keys.foreach { k =>
        timedOp(pass, k, "stmt", traced) {
          val df = tracer("construct") { queries(k)(spark, plan.data) }
          if (traced) recordPhases(df)
          tracer("exec") {
            results match {
              case Some(dir) => df.write.mode("overwrite").parquet(new File(dir, k).getPath)
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** The construction-time analysis of the op's own DataFrame; the
      * action's phases arrive through the QueryExecutionListener. */
    def recordPhases(df: DataFrame): Unit = {
      val t = df.queryExecution.tracker
      events.synchronized {
        events.qes += Qe("construct",
          t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
          t.rules.collect { case (r, s) if r.startsWith("graft.") => s.totalTimeNs }.sum,
          nowUs)
      }
    }

    var checkAttempted = 0

    /** Untimed: every key once over the check data, results written for
      * the DuckDB check. */
    def checkPass(dir: File): Unit = {
      plan.passes.head.foreach { k =>
        checkAttempted += 1
        try queries(k)(spark, plan.checkData).write.mode("overwrite")
          .parquet(new File(dir, k).getPath)
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failures += obj("pass" -> -1, "name" -> k, "error" ->
            msg.linesIterator.take(3).mkString(" | ").take(500))
        }
        spark.catalog.clearCache()
      }
    }

    /** The oracle SQL of the workload's keys, for the DuckDB check. */
    def writeOracles(dir: File): Unit = {
      val oracles = SparkEntry.oracleSql
      val keys = plan.passes.head.toSet
      val needDynamic = keys.exists(k => !oracles.contains(k))
      val dynamic =
        if (needDynamic) SparkEntry.dynamicOracleSql(spark, plan.checkData).filter(kv => keys(kv._1))
        else Map.empty[String, String]
      val json = js((oracles.filter(kv => keys(kv._1)) ++ dynamic))
      Files.write(new File(dir, "oracle_sql.json").toPath, json.getBytes(UTF_8))
    }

    var space: Map[String, Any] = Map.empty

    /** One round of the DDL script through ChDdl.execute. Reads are
      * collected and kept for the replay check; the first round also
      * dumps the final table and measures stored vs plain bytes,
      * untimed, at the script's `dump` point. */
    def ddlRound(round: Int, traced: Boolean, first: Boolean): Double = {
      var timed = 0L
      plan.script.zipWithIndex.foreach { case (Op(cls, sql), i) =>
        if (cls == "dump") {
          if (first) dump()
        } else {
          val before = if (traced && isWrite(cls)) storedFiles() else Set.empty[String]
          val t0 = System.nanoTime()
          timedOp(round, s"$cls#$i", cls, traced) {
            if (cls == "read") {
              val df = tracer("ddl_execute") { ChDdl.execute(spark, sql) }
              if (traced) recordPhases(df)
              val rows = tracer("exec") { df.toJSON.collect() }
              readRows += obj("round" -> round, "stmt" -> i, "rows" -> rows.toSeq.map(Raw(_)))
            } else {
              tracer("ddl_execute") { ChDdl.execute(spark, sql) }
            }
          }
          timed += System.nanoTime() - t0
          // ChDdl.execute translates inside the op, out of the harness's
          // reach; a traced read is translated once more here, outside
          // the op and its timing, to time ChSql.translate on its own
          if (traced && cls == "read") {
            val t1 = System.nanoTime()
            ChSql.translate(sql)
            translateProbes += obj("seq" -> opSeq, "ms" -> (System.nanoTime() - t1) / 1e6)
          }
          if (traced && isWrite(cls)) {
            val after = storedFiles()
            ddlFiles += obj("seq" -> opSeq, "new_files" -> (after -- before).size)
          }
        }
      }
      timed / 1e9
    }
    def isWrite(cls: String): Boolean = cls == "insert" || cls == "mutation"

    private val locations = mutable.Map.empty[String, Option[File]]
    /** A table's directory; DDL rounds recreate tables at the same path. */
    def location(t: String): Option[File] = locations.getOrElseUpdate(t,
      spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
        .find(_.getString(0) == "Location")
        .map(r => new File(new java.net.URI(r.getString(1)))))

    /** Data files only: hidden, checksum and marker files are skipped on
      * both sides of the space comparison. */
    def dataFiles(dir: File): Seq[File] =
      if (!dir.exists) Nil
      else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .toSeq

    def storedFiles(): Set[String] =
      plan.stored.flatMap(t => location(t).toSeq.flatMap(dataFiles)).map(_.getPath).toSet

    def dump(): Unit = {
      val plainDir = new File(plan.work, "plain")
      var stored = 0L
      var plain = 0L
      plan.stored.foreach { t =>
        stored += location(t).toSeq.flatMap(dataFiles).map(_.length).sum
        val p = new File(plainDir, t)
        spark.table(t).coalesce(1).write.mode("overwrite").parquet(p.getPath)
        plain += dataFiles(p).map(_.length).sum
      }
      plan.stored.headOption.foreach { t =>
        spark.table(t).coalesce(1).write.mode("overwrite")
          .parquet(new File(new File(plan.work, "check"), "final_table").getPath)
      }
      space = Map("stored_bytes" -> stored, "plain_bytes" -> plain)
    }

    /** CPU time of the whole JVM (driver, executor threads, JIT, GC);
      * time the hypervisor steals from the guest is not in it. */
    def processCpuNs(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

    /** Heap still in use after full collections: what the session keeps
      * once the workload's ops are done. The pauses let Spark's context
      * cleaner drop blocks of RDDs the first collections released. */
    def retainedHeapMb(): Double = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }

    /** (steal, total) jiffies of all CPUs from /proc/stat: the share of
      * CPU time the hypervisor gave to other guests during a pass. */
    def hostCpu(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    }

    def peakRssMb(): Double =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
