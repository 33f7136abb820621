package wikibench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload: what it builds before the clock starts, and one round of
  * its closed loop.
  */
trait Workload {
  /** Builds every input and store under `dir`. Runs several times; the
    * last build is the one the timed part uses.
    */
  def setup(dir: String): Unit
  /** One round of the closed loop: a fixed, seeded sequence of calls. */
  def step(h: Harness): Unit
  /** Rounds the traced run makes (a fixed count, so its counters repeat). */
  def tracedRounds: Int
  /** Per-layer metrics only the workload can compute (untimed, at the end). */
  def layerMetrics(h: Harness): Map[String, Double] = Map.empty
  /** Measured properties of the generated inputs. */
  def inputProperties: Map[String, Double]
}

object Main {
  private def log(msg: String): Unit = System.err.println(s"[wikibench] $msg")

  private def procStatus(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
    finally src.close()
  }

  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    if (name == "cds") {
      // class-data-sharing training: load the classes a session start and a
      // small parquet round trip need, so the build can archive them
      spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$work/cds")
      spark.read.parquet(s"$work/cds").groupBy("k").count().collect()
      spark.stop()
      return
    }
    val wl: Workload = name match {
      case "wiki_lifecycle" => new WikiLifecycle(spark, seed, work)
      case "corpus_churn" => new CorpusChurn(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, three times; its median plus session start is setup_s
    val setupS = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(s"$work/setup-$rep")
      graft.Caches.releaseAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    log(f"session $sessionS%.2f s, set-up reps ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val h = new Harness(tracer, log)
    val gc0 = gcMs(); val steal0 = stealTicks()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    while (if (traced) rounds < wl.tracedRounds else System.nanoTime() < deadline || rounds == 0) {
      wl.step(h)
      rounds += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gc0; val steal = stealTicks() - steal0
    tracer.foreach(_.uninstall())

    val writes = h.ms(!_.read)
    val reads = h.ms(_.read)
    val endToEnd = Seq(
      "setup_s" -> (sessionS + Stats.median(setupS), "s"),
      "write_geomean_ms" -> (Stats.geomean(writes), "ms"),
      "round_cpu_s" -> (h.cpuMs / 1000 / rounds, "s"))
    val props = wl.inputProperties
    log(s"$rounds rounds in ${"%.2f".format(timedS)} s; ${writes.size} writes, " +
      s"${reads.size} reads; inputs ${props.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")
    println(Json.obj(Seq("samples" -> Json.obj(Seq(
      "writes" -> writes.size.toString, "reads" -> reads.size.toString,
      "rounds" -> rounds.toString)))))

    val metrics: Seq[(String, (Double, String))] = tracer match {
      case None => endToEnd
      case Some(t) =>
        val layer = Layers.metrics(t, h, cores) ++ wl.layerMetrics(h) ++
          props.map { case (k, v) => s"gen.$k" -> v } ++
          Map("jvm.gc_ms" -> gc.toDouble, "host.steal_ticks" -> steal.toDouble,
            "jvm.peak_rss_mb" -> procStatus("VmHWM"),
            "trace.mistagged_jobs" -> t.mistagged.toDouble)
        t.write(java.nio.file.Paths.get(opts.getOrElse("trace-out",
          s"$work/trace.jsonl")))
        Layers.names.map(n => n -> (layer.getOrElse(n, 0.0), Layers.unit(n))) ++
          endToEnd.map { case (k, (v, u)) => s"traced.$k" -> (v, u) }
    }
    val failed = h.failed
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    spark.stop()
    println(result)
    sys.exit(if (failed == 0) 0 else 1)
  }
}
