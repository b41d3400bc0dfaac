package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.streaming.Medallion

/** One benchmark run inside one JVM: set-up, the timed phase of one workload,
  * then output exports for the correctness check. Driven by a properties
  * plan written by `run.py`; writes one JSON result file.
  *
  * With `trace=1` it registers a SparkListener and a StreamingQueryListener,
  * records spans around every Medallion phase, landing, read query and set,
  * lists the table directories after each phase, and derives the per-layer
  * metrics from those records. With `trace=0` it only takes wall clocks.
  */
object MedBench {

  def main(args: Array[String]): Unit = {
    val plan = new Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    val cfg = (k: String) => Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    val run = new MedBench(cfg)
    val out = try run.execute() finally run.spark.stop()
    Files.write(Paths.get(cfg("out")), Json.write(out).getBytes("UTF-8"))
  }

  val Phases = Seq("bronze", "silver1", "silver23", "gold")
  val Tables = Seq("users", "gym_logs", "user_profile", "heart_rate", "workouts",
    "user_bins", "completed_workouts", "workout_bpm", "workout_bpm_summary")
  val Sources = Seq("registered_users", "gym_logins", "multiplex")
}

final class MedBench(cfg: String => String) {
  import MedBench._

  private val work = Paths.get(cfg("work"))
  private val workload = cfg("workload")
  private val traced = cfg("trace") == "1"
  private val cpus = cfg("cpus").toInt
  private val t0 = System.nanoTime()
  private def secs(from: Long, to: Long = System.nanoTime()) = (to - from) / 1e9

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = secs(t0)

  private val trace = new Trace(spark, traced)
  private val dateLookup: DataFrame = {
    import spark.implicits._
    (0 until 366).map { d =>
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      (java.sql.Date.valueOf(date), date.getDayOfYear / 7 + 1, 2024, date.getMonthValue,
        date.getDayOfWeek.getValue, date.getDayOfMonth, date.getDayOfYear,
        if (date.getDayOfYear % 2 == 0) "even" else "odd")
    }.toDF("date", "week", "year", "month", "dayofweek", "dayofmonth", "dayofyear", "week_part")
      .cache()
  }
  private val asOf = lit("2024-06-01").cast("date")

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(600)
  }

  private def setNames(store: String): Seq[String] =
    Files.list(Paths.get(store)).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  /** A fresh lakehouse: landing, tables and checkpoints under `dir`. */
  private final class Lake(val dir: Path) {
    Sources.foreach(s => Files.createDirectories(dir.resolve("landing").resolve(s)))
    val tablesDir: Path = dir.resolve("tables")
    val m = new Medallion(spark, dir.resolve("landing").toString, tablesDir.toString,
      dir.resolve("ckpt").toString, asOf)
    var broken = false

    def land(store: String, set: String): Unit = Sources.foreach { s =>
      val ext = if (s == "multiplex") "json" else "csv"
      val src = Paths.get(store, set, s, s"$set.$ext")
      if (Files.exists(src)) Files.copy(src, dir.resolve("landing").resolve(s).resolve(s"$set.$ext"))
    }

    def phase(name: String): Unit = name match {
      case "bronze" => m.runBronze(dateLookup)
      case "silver1" => m.runSilverWave1()
      case "silver23" => m.runSilverWave2()
      case "gold" => m.runGold()
    }
  }

  /** Land `set` and drive it through the four phases; per-phase seconds. */
  private def runSet(lake: Lake, store: String, set: String, parent: Int): Map[String, Double] = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val t = System.nanoTime()
    trace.span("land", parent, set)(_ => lake.land(store, set))
    times("land") = secs(t)
    trace.listTables(lake.tablesDir)
    for (p <- Phases) {
      val tp = System.nanoTime()
      trace.span(p, parent, set)(_ => lake.phase(p))
      times(p) = secs(tp)
      trace.listTables(lake.tablesDir, p)
    }
    times.toMap
  }

  /** Land each of `sets` in order and drive it through the four phases (a
    * closed loop); one record per set. Once a set fails, the lakehouse is
    * inconsistent and every later set counts as failed. */
  private def runSets(lake: Lake, store: String, sets: Seq[String], parent: Int): Seq[Map[String, Any]] =
    sets.map { set =>
      attempted += 1
      val rec = mutable.LinkedHashMap[String, Any]("set" -> set)
      if (lake.broken) { failed += 1; rec("ok") = false }
      else {
        val t = System.nanoTime()
        try {
          val phases = trace.span("set", parent, set) { id => runSet(lake, store, set, id) }
          rec("latency_s") = secs(t)
          rec ++= phases.map { case (k, v) => s"${k}_s" -> v }
          rec("ok") = true
        } catch { case e: Throwable => fail(s"set $set", e); lake.broken = true; rec("ok") = false }
      }
      rec.toMap
    }

  // ── read path ──

  private def query(m: Medallion, kind: String, p: Seq[String]): Array[Row] = kind match {
    case "gym_summary" => m.gymSummary().collect()
    case "user_summary" => m.summaryTable.read().filter(col("user_id") === p.head.toLong).collect()
    case "device_range" => m.heartRateTable.read()
      .filter(col("device_id") === p.head.toLong &&
        col("time").between(lit(p(1).toLong).cast("timestamp"), lit(p(2).toLong).cast("timestamp")))
      .collect()
    case "demographics" => m.summaryTable.read()
      .select("user_id", "avg_bpm", "max_bpm", "num_recordings")
      .join(m.userBinsTable.read(), Seq("user_id"))
      .groupBy("age", "gender")
      .agg(count(lit(1)).as("sessions"), avg(col("avg_bpm")).as("avg_bpm"),
        max(col("max_bpm")).as("max_bpm"), sum(col("num_recordings")).as("recordings"))
      .collect()
  }

  private def canon(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime / 1000
    case d: java.sql.Date => d.toString
    case b: java.lang.Boolean => b
    case n: java.lang.Number => n
    case o => o.toString
  }

  /** Run the query list; record each execution and the rows of each
    * distinct query for the correctness check. */
  private def runQueries(m: Medallion, file: String, parent: Int,
                         results: mutable.Map[String, Seq[Seq[Any]]]): Seq[Map[String, Any]] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.filter(_.nonEmpty).zipWithIndex.map { case (line, i) =>
      val parts = line.split("\t").toSeq
      val (kind, params) = (parts.head, parts.tail)
      attempted += 1
      val t = System.nanoTime()
      try {
        val rows = trace.span(kind, parent, s"q$i") { _ => query(m, kind, params) }
        val ms = secs(t) * 1000
        val first = results.getOrElseUpdate(line, rows.toSeq.map(r => r.toSeq.map(canon)))
        require(first.size == rows.length, s"repeat returned ${rows.length} rows, first run ${first.size}")
        trace.resultRows(rows.length)
        Map("kind" -> kind, "ms" -> ms, "rows" -> rows.length, "ok" -> true)
      } catch { case e: Throwable => fail(s"query $line", e); Map("kind" -> kind, "ok" -> false) }
    }

  /** Final silver and gold tables (and gym_summary) with timestamps as epoch
    * seconds, for the DuckDB comparison. */
  private def export(m: Medallion): Unit = {
    val dir = work.resolve("export")
    def out(df: DataFrame, name: String): Unit =
      df.select(df.schema.fields.toSeq.map { f => f.dataType match {
        case TimestampType => col(f.name).cast("long").as(f.name)
        case DateType => col(f.name).cast("string").as(f.name)
        case _ => col(f.name)
      }}: _*).coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    val tables = Seq(m.usersTable, m.gymLogsTable, m.userProfileTable, m.heartRateTable,
      m.workoutsTable, m.userBinsTable, m.completedWorkoutsTable, m.workoutBpmTable, m.summaryTable)
    Tables.zip(tables).foreach { case (n, t) => out(t.read(), n) }
    out(m.gymSummary(), "gym_summary")
  }

  /** The registry rows (`SparkEntry.queries`) over the generated tables in
    * `dir`, in a recording window of their own: one span per row around its
    * call and `Bench.forceAll` of its result (one cold run: the row's code
    * and its session-cached fixtures are new to the JVM), then the result is
    * exported, outside the span, for the oracle check. */
  private def runRegistry(dir: String, rows: Seq[String]): Unit = {
    val out = work.resolve("export").resolve("registry")
    trace.start()
    rows.foreach { name =>
      attempted += 1
      try {
        val df = trace.span(name, -1, name) { _ =>
          val df = graft.SparkEntry.queries(name)(spark, dir)
          graft.Bench.forceAll(df)
          df
        }
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      } catch { case e: Throwable => fail(s"row $name", e) }
    }
    trace.stop("registry")
  }

  def execute(): Map[String, Any] = {
    val loadStart = loadAvg
    val res = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
    val results = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    val store = cfg("sets")
    val sets = setNames(store)
    val lake = new Lake(work.resolve("lake"))
    def timed[T](body: Int => T): T = {
      trace.start()
      res("timed_start_ms") = System.currentTimeMillis()
      val (t, cpu) = (System.nanoTime(), processCpuNs)
      try trace.span("timed", -1, "timed")(body)
      finally {
        res("timed_wall_s") = secs(t)
        res("timed_cpu_s") = (processCpuNs - cpu) / 1e9
        trace.stop("timed")
      }
    }
    if (workload == "lakehouse_reads") {
      // set-up: the lakehouse under read is one bulk replay; traced, it
      // gives the write-path layer numbers of the bulk sets
      trace.start()
      res("setup_sets") = trace.span("build", -1, "build") { id => runSets(lake, store, sets, id) }
      trace.stop("build")
      runQueries(lake.m, cfg("warm_queries"), -1, results)
      res("queries") = timed { id => runQueries(lake.m, cfg("queries"), id, results) }
    } else {
      // set-up: the first sets of the timeline (history, and JIT warm-up)
      val history = cfg("history").toInt
      res("setup_sets") = runSets(lake, store, sets.take(history), -1)
      res("sets") = timed { id => runSets(lake, store, sets.drop(history), id) }
      if (traced) {
        // read probe over the final lakehouse: the read-layer numbers here
        trace.start()
        trace.span("probe", -1, "probe") { id => runQueries(lake.m, cfg("queries"), id, results) }
        trace.stop("probe")
      }
    }
    val te = System.nanoTime()
    try export(lake.m) catch { case e: Throwable => fail("export", e) }
    res("export_s") = secs(te)
    res("results") = results.toMap
    if (traced) {
      val medallion = trace.layers()
      val rows = cfg("registry_rows").split(",").toSeq
      runRegistry(cfg("registry"), rows)
      res("layers") = medallion ++ trace.rowLayers(rows)
      res("oracle") = graft.SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
      trace.writeSpans(work.resolve("spans.json"))
    }
    res("attempted") = attempted
    res("failed") = failed
    res("errors") = errors.toSeq
    res("load1_start") = loadStart
    res("load1_end") = loadAvg
    res("heap_max_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    res("master") = spark.sparkContext.master
    res("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    res("peak_rss_mb") = peakRssMb
    res.toMap
  }

  /** CPU time of the whole JVM (all threads: tasks, JIT, GC); unlike wall
    * time it does not count time the machine gave to other tenants. */
  private def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadAvg: Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Spans, listener records and table listings of a traced run. All record
  * methods are no-ops when tracing is off. */
final class Trace(spark: SparkSession, on: Boolean) {
  import MedBench._

  final case class Span(id: Int, name: String, parent: Int, key: String, startMs: Double, var endMs: Double)
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(job: Int, stage: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long, records: Long)
  final case class Prog(name: String, rows: Long, durations: Map[String, Long], stateUpdated: Long)

  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs = System.nanoTime() / 1e6 + offsetMs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val progress = mutable.ArrayBuffer.empty[Prog]
  private val lastState = mutable.Map.empty[String, Long] // dedup state rows per query, always tracked
  private var silverStateAtStart = 0L
  private var silverKept = 0L // dedup state growth inside recording windows
  private def silverState = lastState.filter(_._1.startsWith("silver_")).values.sum
  private val windows = mutable.Map.empty[String, (Double, Double)]
  @volatile private var active = false
  private var windowStart = 0.0
  private var resultRowCount = 0L

  // table files seen so far (path → size) and what each phase wrote
  private var seen = Map.empty[String, Long]
  private val written = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
  private val live = mutable.Map.empty[Path, (Long, Long)] // per lakehouse, after its last gold

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
        jobs(e.jobId) = Job(e.jobId, e.time, -1)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (active && e.taskMetrics != null) stageJob.get(e.stageId).foreach { j =>
          val m = e.taskMetrics
          tasks += Task(j, e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        val name = Option(p.name).getOrElse("")
        lastState(name) = ops.map(_.numRowsTotal).sum
        if (active) progress += Prog(name, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, ops.map(_.numRowsUpdated).sum)
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    })
  }

  /** Open a recording window: events before it are drained and ignored. */
  def start(): Unit = if (on) {
    BusBridge.drain(spark.sparkContext)
    silverStateAtStart = silverState
    active = true
    windowStart = nowMs
  }

  /** Close the recording window named `name` after every event is delivered. */
  def stop(name: String): Unit = if (on) {
    BusBridge.drain(spark.sparkContext)
    active = false
    silverKept += silverState - silverStateAtStart
    windows(name) = (windowStart, nowMs)
  }

  /** Run `body` inside a span (recorded only inside a window); `body` gets
    * the span id to pass as its children's parent. */
  def span[T](name: String, parent: Int, key: String)(body: Int => T): T =
    if (!active) body(-1)
    else {
      val s = Span(spans.size, name, parent, key, nowMs, -1)
      spans += s
      try body(s.id) finally s.endMs = nowMs
    }

  def resultRows(n: Int): Unit = if (active) resultRowCount += n

  /** List the silver/gold table files and bronze files; attribute new ones to `phase`. */
  def listTables(tables: Path, phase: String = ""): Unit = if (on && active) {
    val now = Files.walk(tables).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    val fresh = now.filter { case (p, _) => !seen.contains(p) }
    if (phase.nonEmpty) fresh.foreach { case (p, size) =>
      val layer = if (p.contains("/bronze_")) "bronze" else "table"
      val (n, b) = written(layer)
      written(layer) = (n + 1, b + size)
    }
    seen = now
    if (phase == "gold") {
      val cur = now.filter { case (p, _) => p.contains("/current/") }
      live(tables) = (cur.size.toLong, cur.values.sum)
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((acc, hi), (s, e)) =>
      if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
    }._1

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    (s.endMs - s.startMs) - union(kids)
  }

  private def jobsIn(ss: Seq[Span]): Seq[Job] = jobs.values.toSeq.filter(j =>
    ss.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))

  /** Per-layer metrics, all names always present. */
  def layers(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def named(n: String) = spans.filter(_.name == n).toSeq
    for (p <- Phases) {
      out(s"$p.self_s") = named(p).map(selfMs).sum / 1000
      out(s"$p.jobs") = jobsIn(named(p)).size
    }
    val bz = progress.filter(_.name.startsWith("bronze_"))
    out("bronze.rows_out") = bz.map(_.rows).sum
    out("bronze.files_out") = written("bronze")._1
    val sv = progress.filter(_.name.startsWith("silver_"))
    out("silver1.batches") = sv.size
    Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "planning_ms", "walCommit" -> "wal_commit_ms")
      .foreach { case (k, n) => out(s"silver1.$n") = sv.map(_.durations.getOrElse(k, 0L)).sum }
    // rows that survived dedup = growth of the dedup state; rows read = what
    // bronze appended (the wave-1 streams split bronze by source and topic).
    // Progress input-row counts are not used: foreachBatch bodies that run
    // several actions re-execute the batch, and per-execution metrics add up
    // over the re-executions (dedup_passes shows how often).
    val kept = silverKept
    out("silver1.state_rows") = silverState
    out("silver1.keep_ratio") = kept.toDouble / math.max(1L, out("bronze.rows_out").toLong)
    out("silver1.dedup_passes") = sv.map(_.stateUpdated).sum.toDouble / math.max(1L, kept)
    val s23 = jobsIn(named("silver23")).map(_.id).toSet
    val t23 = tasks.filter(t => s23.contains(t.job))
    out("silver23.shuffle_bytes") = t23.map(_.shuffleBytes).sum
    out("silver23.spill_bytes") = t23.map(_.spillBytes).sum
    out("silver23.task_skew") = median(t23.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val rt = ts.map(_.runMs.toDouble)
      rt.max / math.max(1.0, median(rt.toSeq))
    }.toSeq)
    val (tn, tb) = written("table")
    out("table.bytes_written") = tb
    out("table.files_written") = tn
    out("table.write_amp") = tb.toDouble / math.max(1L, live.values.map(_._2).sum)
    out("table.files_live") = live.values.map(_._1).sum
    // scheduler: over the timed window
    val (ws, we) = windows("timed")
    val timedJobs = jobs.values.toSeq.filter(j => j.startMs >= ws && j.startMs <= we)
    val inJob = union(timedJobs.map(j => (j.startMs.toDouble, math.min(we, if (j.endMs < 0) we else j.endMs.toDouble))))
    out("spark.jobs") = timedJobs.size
    val timedIds = timedJobs.map(_.id).toSet
    out("spark.tasks") = tasks.count(t => timedIds.contains(t.job))
    out("spark.in_job_s") = inJob / 1000
    out("spark.floor_s") = (we - ws - inJob) / 1000
    out("spark.floor_share") = (we - ws - inJob) / math.max(1.0, we - ws)
    val sets = named("set")
    out("spark.jobs_per_set") = if (sets.isEmpty) 0.0 else jobsIn(sets).size.toDouble / sets.size
    // per landed set: share of its latency outside any Spark job
    out("spark.set_floor_share") = if (sets.isEmpty) 0.0 else {
      val setJobs = jobsIn(sets)
      val inSets = sets.map { s =>
        union(setJobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
          .map(j => (j.startMs.toDouble, math.min(s.endMs, if (j.endMs < 0) s.endMs else j.endMs.toDouble))))
      }.sum
      val total = sets.map(s => s.endMs - s.startMs).sum
      (total - inSets) / math.max(1.0, total)
    }
    // share of the set spans not covered by the four phase spans
    val setMs = sets.map(s => s.endMs - s.startMs).sum
    out("trace.uncovered_share") = if (setMs <= 0) 0.0
      else (setMs - Phases.flatMap(named).map(s => s.endMs - s.startMs).sum) / setMs
    // read path
    for (q <- Seq("gym_summary", "user_summary", "device_range", "demographics"))
      out(s"read.$q.p50_ms") = median(named(q).map(s => s.endMs - s.startMs))
    val readIds = jobsIn(Seq("gym_summary", "user_summary", "device_range", "demographics")
      .flatMap(named)).map(_.id).toSet
    out("read.records_scanned_per_row") =
      tasks.filter(t => readIds.contains(t.job)).map(_.records).sum.toDouble / math.max(1L, resultRowCount)
    out.toMap
  }

  /** Per registry row: span seconds, Spark jobs started in it, and seconds
    * covered by those jobs. */
  def rowLayers(rows: Seq[String]): Map[String, Double] = rows.flatMap { r =>
    val ss = spans.filter(_.name == r).toSeq
    val js = jobsIn(ss)
    val inJob = ss.map { s =>
      union(js.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (j.startMs.toDouble, math.min(s.endMs, if (j.endMs < 0) s.endMs else j.endMs.toDouble))))
    }.sum
    Seq(s"$r.s" -> ss.map(s => s.endMs - s.startMs).sum / 1000, s"$r.jobs" -> js.size.toDouble,
      s"$r.in_job_s" -> inJob / 1000)
  }.toMap

  def writeSpans(path: Path): Unit = Files.write(path, Json.write(spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "key" -> s.key,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq).getBytes("UTF-8"))
}

/** Minimal JSON writer for the result file (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case b: Boolean => b.toString
    case b: java.lang.Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case d: java.lang.Double => write(d.doubleValue)
    case f: java.lang.Float => write(f.doubleValue)
    case n: java.lang.Number => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s => quote(s.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
