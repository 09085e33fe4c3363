package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.analytics.Dashboard
import graft.pipeline.Runner

/** The paper's own system as one workload: the monthly medallion
  * pipeline (`Runner.runMonth`) and, after each month, the dashboard
  * that serves its gold tables (`Dashboard.panelSql` through
  * `spark.sql`), rendered by one closed-loop client from a fresh
  * session. */
object YelpWorkloads {

  /** Share of the reference's published scale (BASELINE.md) generated
    * per run: the largest that keeps a run within its share of the
    * benchmark's time (a month costs ~7 s at 2-10%, ~10 s at 25%). */
  val Scale: YelpScale = YelpScale.of(0.1)
  /** Renders after each timed month, in one fresh client session: the
    * first is cold. */
  val RendersPerMonth = 6
  /** Renders after the untimed warm month: enough to warm the panel
    * queries' code paths. */
  val WarmRenders = 2
  /** Timed months per run: a fixed count, so that a faster engine runs
    * the same months as a slower one. */
  val TimedMonths = 2

  /** Builds a fresh Yelp base through its first (bootstrap) month;
    * returns it with the time that took. */
  private def bootstrap(c: Ctx): (YelpGen, Runner, String, Double) = {
    val base = s"${c.work}/yelp"
    val t0 = System.nanoTime()
    val gen = new YelpGen(c.seed, Scale, base)
    val runner = new Runner(c.spark, base)
    val m = gen.landMonth()
    c.tagged("setup")(runner.runMonth(m.year, m.month))
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: bootstrap month in $sec%.2f s")
    (gen, runner, base, sec)
  }

  /** The KPI panels and reviews per weekday must equal the generator's
    * truth exactly. Returns the name of the first panel that does not. */
  def kpiMismatch(truth: YelpTruth, results: Map[String, Array[Row]]): Option[String] = {
    def single(p: String): Long = results(p).head.getLong(0)
    val expected = Seq(
      "total_reviews" -> (single("total_reviews") == truth.reviews),
      "total_checkins" -> (single("total_checkins") == truth.checkins),
      "total_businesses" -> (single("total_businesses") == truth.businesses),
      "reviews_per_weekday" -> (results("reviews_per_weekday")
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        truth.reviewsPerWeekday.filter(_._2 > 0)))
    expected.collectFirst { case (p, false) => p }
  }

  final case class PanelRun(op: String, panel: String, ms: Double, startMs: Long, endMs: Long,
                            rows: Array[Row], phasesMs: Map[String, Long], files: Long, bytes: Long)

  def monthly(c: Ctx): Outcome = {
    val spark = c.spark
    val (gen, runner, base, bootS) = bootstrap(c)
    val pool = Executors.newFixedThreadPool(c.cpus)
    var attempted = 0L
    var failed = 0L
    val monthMs = Seq.newBuilder[Double]
    val renderMs = Seq.newBuilder[Double]
    val firstMs = Seq.newBuilder[Double]
    val cycles = Seq.newBuilder[(String, Long, Long)]
    val runs = Seq.newBuilder[(String, Long, Long)]
    val panels = Seq.newBuilder[PanelRun]
    var records = 0L
    var bronzeBytes = 0L
    var timedNs = 0L
    val changed = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val filesWritten = Seq.newBuilder[Double]

    /** One month: land it (untimed), `runMonth`, then the renders.
      * Only a `timed` month's figures are recorded; any month's
      * failures are counted. */
    def month(timed: Boolean): Unit = {
      val m = gen.landMonth()
      val cycle = f"month:${m.year}-${m.month}%02d"
      val tag = if (timed) cycle else "setup"
      attempted += 1
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val ok = try {
        c.tagged(s"$tag/run")(runner.runMonth(m.year, m.month))
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] runMonth ${m.year}-${m.month} failed: $e"); false }
      val ns = System.nanoTime() - s0
      if (!ok) { failed += 1; return }
      if (timed) {
        runs += ((s"$cycle/run", startMs, startMs + ns / 1000000))
        if (c.rec.enabled) filesWritten += newFiles(base, startMs).toDouble
      }
      // a fresh client session per month: session-scoped state starts cold
      val session = spark.newSession()
      val truth = gen.truth
      var monthOk = true
      val times = (1 to (if (timed) RendersPerMonth else WarmRenders)).map { i =>
        attempted += 1
        val op = s"$tag/render:$i"
        val r0 = System.nanoTime()
        val rs = try Some(Dashboard.panelSql.toSeq.sortBy(_._1).map { case (name, sql) =>
            pool.submit(new Callable[PanelRun] {
              def call(): PanelRun = runPanel(c, session, op, name, sql)
            })
          }.map(_.get()))
          catch { case e: Exception => System.err.println(s"[perfbench] $op failed: $e"); None }
        val ms = (System.nanoTime() - r0) / 1e6
        rs.fold(Option("all panels"))(r => kpiMismatch(truth, r.map(p => p.panel -> p.rows).toMap)) match {
          case Some(p) =>
            System.err.println(s"[perfbench] $cycle $op: panel $p disagrees with the truth")
            failed += 1
            monthOk = false
          case None if timed =>
            renderMs += ms
            if (i == 1) firstMs += ms
            if (c.rec.enabled) panels ++= rs.get
          case None =>
        }
        ms
      }
      System.err.println(f"[perfbench] $cycle: runMonth ${ns / 1e9}%.2f s, renders " +
        times.map(r => f"$r%.0f").mkString(" ") +
        s" ms, ${if (monthOk) "all match the truth" else "FAILED"}${if (timed) "" else " (set-up)"}")
      // a month whose gold disagrees with the truth is never a time
      if (!monthOk) failed += 1
      else if (timed) {
        monthMs += ns / 1e6
        timedNs += ns
        records += m.bronzeRecords
        bronzeBytes += m.bronzeBytes
        m.changedRows.foreach { case (t, n) => changed(t) += n }
      }
      if (timed) cycles += ((cycle, startMs, System.currentTimeMillis()))
    }

    val setupS = try {
      // the warm month runs the incremental path and the renders once
      // before timing; it is set-up
      val w0 = System.nanoTime()
      month(timed = false)
      c.sessionS + bootS + (System.nanoTime() - w0) / 1e9
    } catch { case e: Throwable => pool.shutdown(); throw e }
    try (1 to TimedMonths).foreach(_ => c.probe.cycle(month(timed = true)))
    finally pool.shutdown()
    val months = monthMs.result()
    val renders = renderMs.result()
    val firsts = firstMs.result()
    val stored = Stats.dirBytes(s"$base/silver") + Stats.dirBytes(s"$base/gold")
    val bronze = Stats.dirBytes(s"$base/bronze")
    val layers =
      if (!c.rec.enabled) Map.empty[String, Double]
      else Layers.pipeline(c.rec, runs.result(), changed.toMap, bronzeBytes) ++
        Layers.dashboard(c.rec, panels.result()) +
        ("pipeline.files_written" -> Stats.median(filesWritten.result()))
    Outcome(attempted, failed, setupS, months, renders, cycles.result(), Map(
      "month_s" -> (Stats.median(months) / 1000, s"median of ${months.length} months"),
      "ingest_rows_per_s" -> (records / (timedNs / 1e9), "bronze records per second of runMonth"),
      "stored_bytes_per_input_byte" -> (stored.toDouble / bronze, "silver + gold over bronze"),
      "render_ms_p50" -> (Stats.median(renders), s"${renders.length} renders"),
      "render_ms_p95" -> (Stats.quantile(renders, 0.95),
        s"${renders.length} renders, ${renders.length / 20} beyond it"),
      "first_render_ms" -> (Stats.median(firsts), s"median of ${firsts.length} fresh sessions")),
      layers)
  }

  /** Data files under silver/ and gold/ written since `sinceMs`. */
  private def newFiles(base: String, sinceMs: Long): Long =
    Seq("silver", "gold").map { d =>
      val p = Paths.get(base, d)
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.count { f =>
          Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-") &&
            Files.getLastModifiedTime(f).toMillis >= sinceMs
        }.toLong finally s.close()
      }
    }.sum

  private object Scans extends AdaptiveSparkPlanHelper {
    /** (files read, bytes of files read) over every file scan. */
    def read(plan: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      (scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
        scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum)
    }
  }

  private def runPanel(c: Ctx, session: SparkSession, render: String, name: String,
                       sql: String): PanelRun = {
    val sc = session.sparkContext
    sc.setLocalProperty(Recorder.OpKey, s"$render/$name")
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = session.sql(sql)
      val rows = df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      if (!c.rec.enabled) PanelRun(render, name, ms, startMs, startMs + ms.toLong, rows, Map.empty, 0, 0)
      else {
        val qe = df.queryExecution
        val (files, bytes) = Scans.read(qe.executedPlan)
        PanelRun(render, name, ms, startMs, startMs + ms.toLong, rows,
          qe.tracker.phases.map { case (k, v) => k -> v.durationMs }, files, bytes)
      }
    } finally sc.setLocalProperty(Recorder.OpKey, null)
  }
}
