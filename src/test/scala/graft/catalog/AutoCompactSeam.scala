package graft.catalog

import org.apache.spark.sql.SparkSession

/** Specs outside `graft.catalog` reach [[VersionedTable]]'s auto-compaction
  * thresholds (constants behind package-private seams) through here.
  */
object AutoCompactSeam {

  /** Run `body` with `spark.graft.autoCompact` on and the fold's
    * thresholds at the given values; the conf and both thresholds are
    * restored afterwards.
    */
  def withAutoCompact[T](spark: SparkSession, minSmallFiles: Int,
                         targetFileBytes: Long =
                           VersionedTable.autoCompactTargetBytes)(
      body: => T): T = {
    val (minSmall0, target0) = (VersionedTable.autoCompactMinSmallFiles,
      VersionedTable.autoCompactTargetBytes)
    spark.conf.set("spark.graft.autoCompact", "true")
    VersionedTable.autoCompactMinSmallFiles = minSmallFiles
    VersionedTable.autoCompactTargetBytes = targetFileBytes
    try body
    finally {
      spark.conf.unset("spark.graft.autoCompact")
      VersionedTable.autoCompactMinSmallFiles = minSmall0
      VersionedTable.autoCompactTargetBytes = target0
    }
  }
}
