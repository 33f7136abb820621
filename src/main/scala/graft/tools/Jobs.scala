package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Contention-immune A/B meter: runs named bench queries and reports the
  * DETERMINISTIC execution-shape counters — jobs, stages, tasks, shuffle
  * bytes read/written, input bytes — via a SparkListener. Wall time on
  * a co-tenant host swings 3x with steal; these counters do not.
  * Diagnostic only; not part of the driver contract.
  *
  * `runMain graft.tools.Jobs <query>...` (default `graph_pagerank`);
  * `SPARK_GRAFT_SF_DIR` picks the data, `SPARK_GRAFT_CPUS` the local
  * core count.
  */
object Jobs {

  private class Meter extends SparkListener {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var input = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
      }
    }
    def snapshot: String =
      f"jobs=$jobs%-4d stages=$stages%-5d tasks=$tasks%-6d " +
        f"shufR=${shuffleRead / 1024}%7d KiB shufW=${shuffleWrite / 1024}%7d KiB " +
        f"input=${input / 1024 / 1024}%5d MiB"
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0
      shuffleRead = 0; shuffleWrite = 0; input = 0
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("graph_pagerank")
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      // warm rep (uncounted): JIT/codegen/file-listing caches
      fn(spark, sfDir).count()
      graft.Caches.releaseAll(spark)
      // settle listener events from the warm rep before resetting
      Thread.sleep(300)
      meter.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.Caches.releaseAll(spark)
      Thread.sleep(300)
      println(f"[jobs] $n%-32s ${meter.snapshot} wall=$dt%6.2f s")
      meter.reset()
    }
    spark.stop()
  }
}
