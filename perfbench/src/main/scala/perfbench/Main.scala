package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val workload: String, val seed: Long, val rec: Recorder,
                val work: String, val cpus: Int) {
  val probe = new Contention
  private var built: SparkSession = _
  var sessionS: Double = 0.0

  /** The run's one SparkSession: `local[nproc]`, settings as `Bench`
    * sets them. Building it is part of set-up. */
  def spark: SparkSession = {
    if (built == null) {
      val t0 = System.nanoTime()
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      if (rec.enabled) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      built = b.getOrCreate()
      built.sparkContext.setLogLevel("ERROR")
      if (rec.enabled) built.sparkContext.addSparkListener(rec.sparkListener)
      sessionS = (System.nanoTime() - t0) / 1e9
    }
    built
  }

  def stop(): Unit = if (built != null) built.stop()

  /** Runs `body` with every job it launches tagged as operation `op`. */
  def tagged[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.OpKey)
    sc.setLocalProperty(Recorder.OpKey, op)
    try body finally sc.setLocalProperty(Recorder.OpKey, prev)
  }
}

/** One workload's result. `writeMs` and `readMs` hold the timings of
  * the workload's write side and read side that succeeded and passed
  * their checks, each side reported as their mean; `cycles` names each cycle of the timed loop with its
  * interval, for the trace; `detail` maps the workload's own metrics
  * (names in `Main.Detail`) to a value and a note on its samples;
  * `layers` holds the per-layer metrics only this workload computes. */
final case class Outcome(attempted: Long, failed: Long, setupS: Double, writeMs: Seq[Double],
                         readMs: Seq[Double], cycles: Seq[(String, Long, Long)],
                         detail: Map[String, (Double, String)], layers: Map[String, Double])

object Main {
  val Workloads = Seq("yelp_monthly", "catalog")

  /** Every workload-level metric, printed by name on every workload,
    * `null` where the workload does not measure it. */
  val Detail: Seq[(String, String)] = Seq("setup_s" -> "s", "failed_frac" -> "ratio",
    "month_s" -> "s", "ingest_rows_per_s" -> "rows/s", "stored_bytes_per_input_byte" -> "ratio",
    "render_ms_p50" -> "ms", "render_ms_p95" -> "ms", "first_render_ms" -> "ms",
    "store_s" -> "s", "kernel_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workloads.contains(workload) || !opts.contains("seed") || !opts.contains("work")) {
      System.err.println(s"usage: perfbench.Main --workload ${Workloads.mkString("|")} --seed N " +
        "--trace 0|1 --work DIR [--trace-out FILE]")
      sys.exit(2)
    }
    val trace = opts.getOrElse("trace", "0") == "1"
    val rec = new Recorder(trace)
    Recorder.current = rec
    val ctx = new Ctx(workload, opts("seed").toLong, rec, opts("work"), Runtime.getRuntime.availableProcessors())
    val out = workload match {
      case "yelp_monthly" => YelpWorkloads.monthly(ctx)
      case "catalog" => CatalogWorkload.run(ctx)
    }
    val stamp = ctx.probe.finish()
    // stopping the context drains the listener bus, so every event of
    // the run has reached the recorder before the trace is read
    ctx.stop()

    val correct = out.failed == 0 && out.writeMs.nonEmpty && out.readMs.nonEmpty
    // the mean, not the median: a render's time swings ~15% from one
    // render to the next, and over a run's twelve renders the mean
    // varies half as much from run to run as the median does
    val writeMs = Stats.mean(out.writeMs)
    val readMs = Stats.mean(out.readMs)
    val known = out.detail ++ Map("setup_s" -> (out.setupS, ""),
      "failed_frac" -> (out.failed.toDouble / math.max(1L, out.attempted), s"of ${out.attempted} operations"))
    val detail = Detail.map { case (n, u) =>
      val (v, note) = known.get(n).filterNot(x => x._1.isNaN || x._1.isInfinite)
        .fold(("null", "not measured by this workload"))(x => (x._1.toString, x._2))
      s""""$n":{"value":$v,"unit":"$u"${if (note.isEmpty) "" else s""","note":"$note""""}}"""
    }
    println(s"""{"workload":"$workload","seed":${ctx.seed},"trace":$trace,"cpus":${ctx.cpus},""" +
      s""""metrics_by_name":{${detail.mkString(",")}},""" +
      s""""contention":${stamp.json}}""")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("setup_s", out.setupS, "s"), ("write_ms", writeMs, "ms"), ("read_ms", readMs, "ms"))
      else {
        val layers = Layers.common(rec, out) ++ out.layers ++
          Map("trace.write_ms" -> writeMs, "trace.read_ms" -> readMs)
        Layers.names.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
    opts.get("trace-out").filter(_ => trace).foreach(f => Layers.writeTrace(rec, out.cycles, f))
    val m = metrics.map { case (n, v, u) => s""""$n":{"value":${Stats.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${m.mkString(",")}}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }
}

/** The contention stamp, taken the way `Bench` probes: the CPU other
  * processes used during each cycle of the timed part (busy jiffies of
  * the machine minus this process's own), with the maximum over cycles
  * deciding `contended`, so that a short burst of outside load is not
  * averaged away. The 5-minute load average at start is reported for
  * information only: the run does not wait for it to settle, so it
  * includes the previous run and the machine's other tenants. */
final class Contention {
  private def load5(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(1).toDouble
    catch { case _: Throwable => -1.0 }

  private def jiffies(): (Long, Long) =
    try {
      val tot = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = tot(0) + tot(1) + tot(2) + tot.drop(5).take(3).sum
      val raw = scala.io.Source.fromFile("/proc/self/stat").mkString
      val f = raw.substring(raw.lastIndexOf(')') + 2).split(" ")
      (busy, f(11).toLong + f(12).toLong)
    } catch { case _: Throwable => (-1L, -1L) }

  private val load5Start = load5()
  private val perCycle = Seq.newBuilder[Double]

  /** Runs one cycle of the timed part and records the external CPU,
    * in cores, it saw. */
  def cycle[T](body: => T): T = {
    val (b0, s0) = jiffies()
    val t0 = System.nanoTime()
    try body
    finally {
      val (b1, s1) = jiffies()
      val wall = (System.nanoTime() - t0) / 1e9
      if (b0 >= 0 && b1 >= 0 && wall > 0)
        perCycle += math.max(0.0, ((b1 - b0) - (s1 - s0)) / 100.0 / wall)
    }
  }

  final case class Stamp(load5Start: Double, externalCores: Seq[Double]) {
    val externalMax: Double = if (externalCores.isEmpty) -1.0 else externalCores.max
    def contended: Boolean = externalMax > 0.5
    def json: String =
      f"""{"load5_at_start":$load5Start%.2f,"external_cpu_cores_max":$externalMax%.2f,""" +
        s""""external_cpu_cores_per_cycle":[${externalCores.map(c => f"$c%.2f").mkString(",")}],""" +
        s""""contended":$contended}"""
  }

  def finish(): Stamp = Stamp(load5Start, perCycle.result())
}
