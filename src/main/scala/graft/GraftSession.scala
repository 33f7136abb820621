package graft

import org.apache.spark.sql.SparkSession

/** Engine-recommended session configuration — the library home for confs
  * the operators' performance shape assumes (r19 optimization #7 moved
  * here in r20 so the behavior no longer depends on which main built the
  * session: a library user constructing their own session applies
  * [[tune]] and gets the same plans as Bench/Verify/TestSpark).
  *
  * Currently one conf:
  *
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
  *    the engine stages
  *    iteration-static and multiply-read frames (CC edge lists, FTS probe
  *    postings, merge sources); with this off, every downstream stage
  *    inherits the cache's raw shuffle width regardless of data size —
  *    32 tasks per stage over KB-sized caches locally, and no skew/size
  *    adaptation over TB-sized caches on a cluster. AQE sizes them from
  *    observed bytes in both regimes (r19 measured: pagerank 778→66
  *    tasks, fts_bm25_store 715→119, results identical). Upstream
  *    defaults it to false only to keep cached-plan output partitioning
  *    stable for consumers that depend on it; nothing in this engine
  *    does.
  */
object GraftSession {

  /** The recommended conf map. */
  def confs: Map[String, String] = Map(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Apply the engine confs to a session builder (library entry point —
    * `GraftSession.tune(SparkSession.builder()...).getOrCreate()`).
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Apply the engine confs to a LIVE session (all are runtime SQL confs,
    * so this is equivalent to building with [[tune]]).
    */
  def tune(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
