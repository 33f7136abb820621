package graft

import org.apache.spark.sql.SparkSession

/** Shared plan-digging helpers for plan-asserting specs. */
object PlanDig {
  /** All FileSourceScanExec leaves of a plan, unwrapping AQE's stage
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf nodes to
    * `collect`, so a naive collect misses everything inside them).
    */
  def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
    }.flatten
}

/** The Spark jobs a block runs, by the call site Spark names each
  * after (`parquet at X.scala:12`). Every job that starts while the
  * block runs counts, on any thread: a fork's suites run one at a
  * time, so nothing else submits jobs meanwhile.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sites.add(j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse(s"job ${j.jobId}"))
    }
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    // pin the JVM locale: Spark's upper/lower fall back to the DEFAULT
    // locale off the ASCII fast path, while the engine's JVM loops use
    // Locale.ROOT — on e.g. a Turkish-locale host the two sides disagree
    // on i/İ case mapping, so parity requires one locale everywhere
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // GraftSession: match the bench/verify session shape (AQE may
    // re-plan reads of cached plans), so the suite exercises the same
    // plan family the driver measures
    val s = GraftSession.tune(SparkSession.builder()
      // 8 task threads: the store-lifecycle suites chain dozens of small
      // multi-task jobs whose wall is task throughput, not scheduling —
      // local[4] left the 32-core test host mostly idle
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def resource(name: String): String =
    getClass.getResource(name).getPath
}
