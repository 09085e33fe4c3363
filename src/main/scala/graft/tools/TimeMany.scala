package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev timing harness for a SUBSET of catalog queries: same session
  * config and noop-write methodology as [[graft.Bench]] (one untimed
  * warm-up pass, then N interleaved timed passes, per-query median) —
  * for A/B-ing a change batch without paying a full catalog pass.
  *
  * Usage: runMain graft.tools.TimeMany <q1,q2,...> [sfDir] [runs]
  * (one query with `runs` = 30 keeps the JVM busy long enough to
  * sample it with jstack; `jps` finds the pid).
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-only A/B hook: comma-separated k=v pairs applied to the
    // session builder (static SparkConf entries can't be set later)
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v) }
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    for ((name, fn) <- fns)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[timemany] warmup $name failed: ${e.getMessage}") }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (_ <- 1 to runs; (name, fn) <- fns) {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[timemany] $name failed: ${e.getMessage}"); false }
      samples(name) = samples(name) :+ (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    for ((name, _) <- fns) {
      val s = samples(name)
      val med = if (s.contains(-1.0)) -1.0 else s.sorted.apply(s.length / 2)
      println(f"TIMEMANY $name%-28s median=$med%.3f all=${s.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
