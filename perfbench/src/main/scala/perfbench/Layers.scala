package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Per-layer metrics, derived after the run from the timed intervals
  * the workloads record and the recorder's jobs, SQL executions and
  * Catalyst phases. Every traced run prints
  * every name below; a layer the workload does not reach reads 0. */
object Layers {
  val Modules: Seq[String] = Seq("pipeline", "silver", "gold", "analytics", "Tables",
    "SparkEntry", "ext", "sql", "streaming", "operators", "plans", "functions", "hadoop")
  val SilverTables: Seq[String] = Seq("business", "checkins", "reviews", "tips", "users")
  /** Metric suffix → gold table directory (`register` is the catalog step). */
  val GoldTables: Seq[(String, String)] = Seq("dim_time" -> "dim_time",
    "dim_business" -> "dim_business", "dim_user" -> "dim_user",
    "bridge" -> "bridge_business_category", "fact_review" -> "fact_review",
    "fact_checkin" -> "fact_checkin", "register" -> "")
  val UpsertTables: Set[String] = Set("dim_business", "dim_user", "bridge_business_category")
  val Panels: Seq[String] = graft.analytics.Dashboard.panelSql.keys.toSeq.sorted
  val NamedQueries: Seq[(String, String)] = Seq("q168" -> "q168_row_tracking",
    "q169" -> "q169_incremental_optimize", "q171" -> "q171_auto_cluster",
    "q83" -> "q83_curation_pipeline", "q93" -> "q93_bm25_search", "q43" -> "q43_percentiles",
    "q90" -> "q90_importance_resample")
  private val SparkCounters = Seq("jobs" -> "count", "tasks" -> "count", "executor_run_s" -> "s",
    "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes", "failed_tasks" -> "count")

  val names: Seq[(String, String)] =
    Seq("pipeline.bronze_to_silver_s" -> "s", "pipeline.silver_to_gold_s" -> "s") ++
      SilverTables.map(t => s"silver.${t}_s" -> "s") ++
      GoldTables.map(t => s"gold.${t._1}_s" -> "s") ++
      Seq("gold.upsert_rows_written_per_changed_row" -> "ratio",
        "pipeline.written_bytes_per_input_byte" -> "ratio",
        "pipeline.files_written" -> "count") ++
      Panels.map(p => s"analytics.${p}_ms" -> "ms") ++
      Seq("analysis", "optimization", "planning").map(p => s"catalyst.${p}_ms" -> "ms") ++
      Seq("dashboard.jobs_per_panel" -> "count", "dashboard.tasks_per_panel" -> "count",
        "dashboard.files_read_per_panel" -> "count", "dashboard.input_bytes_per_panel" -> "bytes",
        "dashboard.driver_gap_ms_per_panel" -> "ms", "tables.configure_ms" -> "ms",
        "catalog.jobs_per_query" -> "count", "catalog.driver_gap_s" -> "s",
        "catalog.planning_s" -> "s", "catalog.jobs_unattributed_frac" -> "ratio") ++
      Modules.map(m => s"jobs.$m" -> "count") ++
      NamedQueries.map(q => s"catalog.${q._1}_s" -> "s") ++
      Seq("catalog.q168_jobs" -> "count") ++
      SparkCounters.map { case (n, u) => s"spark.$n" -> u } ++
      Seq("driver_gap_s" -> "s", "trace.write_ms" -> "ms", "trace.read_ms" -> "ms")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  private def jobsOf(rec: Recorder, op: String): Seq[JobRec] =
    rec.jobs.filter(j => j.op == op || j.op.startsWith(op + "/"))

  /** Wall time of `[s, e]` not covered by any of `jobs`, in ms. */
  private def gapMs(s: Long, e: Long, jobs: Seq[JobRec]): Double =
    math.max(0L, (e - s) - Recorder.unionLength(jobs.map(j =>
      (math.max(j.startMs, s), math.min(if (j.endMs < 0) e else j.endMs, e))))).toDouble

  /** Spark counters, driver gap and jobs per module, each per cycle of
    * the timed loop (a month with its renders, a catalog pass). */
  def common(rec: Recorder, out: Outcome): Map[String, Double] = {
    val perOp = out.cycles.map { case (op, s, e) => (jobsOf(rec, op), s, e) }
    def avg(f: Seq[JobRec] => Double) = mean(perOp.map(p => f(p._1)))
    Map(
      "spark.jobs" -> avg(_.length.toDouble),
      "spark.tasks" -> avg(_.map(_.tasks).sum.toDouble),
      "spark.executor_run_s" -> avg(_.map(_.runMs).sum / 1e3),
      "spark.executor_cpu_s" -> avg(_.map(_.cpuNs).sum / 1e9),
      "spark.shuffle_write_bytes" -> avg(_.map(_.shuffleWriteBytes).sum.toDouble),
      "spark.spill_bytes" -> avg(_.map(_.spillBytes).sum.toDouble),
      "spark.input_bytes" -> avg(_.map(_.inputBytes).sum.toDouble),
      "spark.output_bytes" -> avg(_.map(_.outputBytes).sum.toDouble),
      "spark.failed_tasks" -> avg(_.map(_.failedTasks).sum.toDouble),
      "driver_gap_s" -> mean(perOp.map { case (js, s, e) => gapMs(s, e, js) / 1e3 })) ++
      Modules.map(m => s"jobs.$m" -> avg(_.count(j => Recorder.moduleOf(j.callSite).contains(m)).toDouble))
  }

  // the formatted plan lists the write command's output path as the
  // first of its arguments
  private val WritePath =
    """Execute InsertIntoHadoopFsRelationCommand\s*\nInput[^\n]*\nArguments: ([^,\s]+)""".r
  private val LayerTable = """/(silver|gold)/([a-z_]+?)(__upsert_tmp)?/?$""".r
  private val RegisterCmd = """(?s).*(DropTable|CreateDataSourceTable|CreateTable|RepairTable|RecoverPartitions).*gold_.*""".r

  /** `silver.<t>`, `gold.<t>` or `gold.register` for a SQL execution,
    * by the output path of its write or by its catalog command. */
  def tableOf(plan: String): Option[String] =
    WritePath.findFirstMatchIn(plan).map(_.group(1)).flatMap { p =>
      LayerTable.findFirstMatchIn(p).map(m => s"${m.group(1)}.${m.group(2)}")
    }.orElse(if (RegisterCmd.pattern.matcher(plan.take(2000)).matches()) Some("gold.register") else None)

  /** Pipeline metrics over the timed `runMonth` calls `ops`. `runMonth`
    * is `bronzeToSilver` then `silverToGold`; the split between them is
    * where the month's last write to silver/ ends. */
  def pipeline(rec: Recorder, ops: Seq[(String, Long, Long)], changed: Map[String, Long],
               bronzeBytes: Long): Map[String, Double] = {
    val execs = rec.executions.map(e => e -> tableOf(e.plan))
    val split = ops.map { case (_, s, e) =>
      val silverEnd = execs.collect {
        case (x, Some(t)) if t.startsWith("silver.") && x.startMs >= s && x.startMs <= e && x.endMs >= 0 => x.endMs
      }
      val at = math.min(e, if (silverEnd.isEmpty) s else silverEnd.max)
      ((at - s) / 1e3, (e - at) / 1e3)
    }
    val perMonth = ops.map { case (_, s, e) =>
      execs.filter { case (x, _) => x.startMs >= s && x.startMs <= e }
        .collect { case (x, Some(t)) => t -> x }.groupBy(_._1).map { case (t, xs) =>
          t -> Recorder.unionLength(xs.map { case (_, x) => (x.startMs, if (x.endMs < 0) e else x.endMs) }) / 1e3
        }
    }
    def tableS(t: String) = Stats.median(perMonth.map(_.getOrElse(t, 0.0)))
    val monthJobs = ops.flatMap(o => jobsOf(rec, o._1))
    val upsertExecs = execs.collect { case (x, Some(t)) if UpsertTables(t.stripPrefix("gold.")) => x.id }.toSet
    val upsertRows = monthJobs.filter(j => upsertExecs(j.executionId)).map(_.recordsWritten).sum
    Map("pipeline.bronze_to_silver_s" -> Stats.median(split.map(_._1)),
      "pipeline.silver_to_gold_s" -> Stats.median(split.map(_._2)),
      "gold.upsert_rows_written_per_changed_row" ->
        upsertRows.toDouble / math.max(1L, UpsertTables.toSeq.map(changed.getOrElse(_, 0L)).sum),
      "pipeline.written_bytes_per_input_byte" ->
        monthJobs.map(_.outputBytes).sum.toDouble / math.max(1L, bronzeBytes)) ++
      SilverTables.map(t => s"silver.${t}_s" -> tableS(s"silver.$t")) ++
      GoldTables.map { case (m, dir) => s"gold.${m}_s" -> tableS(if (dir.isEmpty) "gold.register" else s"gold.$dir") }
  }

  def dashboard(rec: Recorder, panels: Seq[YelpWorkloads.PanelRun]): Map[String, Double] = {
    val jobsBy = rec.jobs.groupBy(_.op)
    def jobs(p: YelpWorkloads.PanelRun) = jobsBy.getOrElse(s"${p.op}/${p.panel}", Nil)
    Panels.map(n => s"analytics.${n}_ms" -> Stats.median(panels.filter(_.panel == n).map(_.ms))).toMap ++
      Seq("analysis", "optimization", "planning").map(ph =>
        s"catalyst.${ph}_ms" -> mean(panels.map(_.phasesMs.getOrElse(ph, 0L).toDouble))) ++
      Map("dashboard.jobs_per_panel" -> mean(panels.map(jobs(_).length.toDouble)),
        "dashboard.tasks_per_panel" -> mean(panels.map(jobs(_).map(_.tasks).sum.toDouble)),
        "dashboard.files_read_per_panel" -> mean(panels.map(_.files.toDouble)),
        "dashboard.input_bytes_per_panel" -> mean(panels.map(_.bytes.toDouble)),
        "dashboard.driver_gap_ms_per_panel" -> mean(panels.map(p => gapMs(p.startMs, p.endMs, jobs(p)))))
  }

  /** Catalog metrics over the timed query executions `ops`
    * (`pass:<n>/<query>`); per-pass figures are means over `passes`. */
  def catalog(rec: Recorder, ops: Seq[(String, Long, Long)], perQuery: Map[String, Double],
              passes: Int): Map[String, Double] = {
    val jobsBy = rec.jobs.groupBy(_.op)
    val qJobs = ops.map { case (op, s, e) => (op.split("/", 2)(1), jobsBy.getOrElse(op, Nil), s, e) }
    val allJobs = qJobs.flatMap(_._2)
    val phases = rec.phases.filter(p => Set("analysis", "optimization", "planning")(p.phase))
    val planningMs = ops.map { case (_, s, e) =>
      phases.filter(p => p.startMs >= s && p.startMs <= e).map(_.durationMs).sum.toDouble
    }.sum
    val q168 = qJobs.filter(_._1 == "q168_row_tracking")
    Map("catalog.jobs_per_query" -> allJobs.length.toDouble / math.max(1, ops.length),
      "catalog.driver_gap_s" -> qJobs.map { case (_, js, s, e) => gapMs(s, e, js) }.sum / 1e3 / passes,
      "catalog.planning_s" -> planningMs / 1e3 / passes,
      "catalog.jobs_unattributed_frac" ->
        allJobs.count(j => Recorder.moduleOf(j.callSite).isEmpty).toDouble / math.max(1, allJobs.length),
      "catalog.q168_jobs" -> mean(q168.map(_._2.length.toDouble))) ++
      NamedQueries.map { case (short, q) => s"catalog.${short}_s" -> perQuery.getOrElse(q, 0.0) / 1e3 }
  }

  /** Writes the timed cycles, recorded jobs, SQL executions and phases
    * as JSON lines, once the run has ended. */
  def writeTrace(rec: Recorder, cycles: Seq[(String, Long, Long)], file: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    val lines = cycles.map { case (op, s, e) => s"""{"cycle":${q(op)},"start_ms":$s,"end_ms":$e}""" } ++
      rec.jobs.map(j =>
        s"""{"job":${j.id},"op":${q(j.op)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""execution":${j.executionId},"tasks":${j.tasks},"module":${q(Recorder.moduleOf(j.callSite).getOrElse(""))},""" +
          s""""call_site":${q(j.callSite.split("\n").headOption.getOrElse(""))}}""") ++
      rec.executions.map(x =>
        s"""{"execution":${x.id},"root":${x.rootId},"start_ms":${x.startMs},"end_ms":${x.endMs},""" +
          s""""table":${q(tableOf(x.plan).getOrElse(""))},"plan":${q(x.plan.linesIterator.take(3).mkString(" | "))}}""") ++
      rec.phases.map(p => s"""{"phase":${q(p.phase)},"start_ms":${p.startMs},"ms":${p.durationMs}}""")
    val path = Paths.get(file)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
