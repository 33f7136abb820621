package graft.catalog

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100 TB catalog (SURVEY.md §4.1: the
  * reference's secondary indexes become partitioning/bucketing + min-max
  * pruning here).
  *
  * Bucketing pre-shuffles a table by its join/aggregation key at write
  * time: two tables bucketed on the same key with the same bucket count
  * join with NO exchange on either side — the shuffle is paid once at
  * ingest instead of per query. This is how the engine's `aliases` /
  * `entities` / `articles` tables co-locate on `entity_id` at scale.
  */
object Catalog {

  /** Write a bucketed+sorted managed table (parquet). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int = 32,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Write hive-style partitioned parquet (partition pruning on
    * `partitionCol` — the engine's answer to the reference's secondary
    * indexes for low-cardinality predicates).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCol).parquet(path)

  /** Small-file compaction (the OPTIMIZE of lakehouse tables): rewrite a
    * parquet directory into ~`targetFileBytes`-sized files. Incremental
    * ingest (streaming sinks, per-round appends) accumulates small files
    * whose per-file open/footer cost eventually dominates scans; the fix
    * is a periodic rewrite sized from the ACTUAL on-disk bytes. Returns
    * (filesBefore, filesAfter). Uses a temp-dir + atomic-ish swap so a
    * failed rewrite never destroys the input.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(hPath)
    // a hive-partitioned layout has its data in subdirectories — a flat
    // rewrite would silently destroy the partition structure (and with
    // it every pruning path); compact each partition directory instead
    require(!entries.exists(e => e.isDirectory &&
        e.getPath.getName.contains("=")),
      s"$path is a partitioned table — compact its partition directories " +
        "individually, a flat rewrite would drop the partitioning")
    val dataFiles = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(dataFiles.nonEmpty, s"no parquet data files directly under $path")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.delete(bak, true) // stale backup from a crashed prior run
    spark.read.parquet(path).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.rename(hPath, bak), s"could not move $path aside to $bak")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // restore; the input is never lost
      throw new IllegalStateException(s"swap failed, restored original $path")
    }
    fs.delete(bak, true)
    val after = fs.listStatus(hPath)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (dataFiles.length, after)
  }

  /** Z-order (Morton) clustered parquet write — multi-dimensional
    * clustering, the lakehouse `OPTIMIZE ZORDER BY` reduced to its
    * Spark-expressible core. The columns are min-max scaled to
    * `bits`-bit integers whose bits are interleaved into one sort key;
    * range-partitioning + sorting by that key lays rows out in Z-curve
    * tiles, so parquet row-group min/max stats become selective on EVERY
    * clustered column at once and a predicate on ANY of them prunes row
    * groups (a single-column sort only ever prunes its own column).
    * ScaleSpec proves the effect on scan metrics.
    *
    * Min-max scaling assumes roughly uniform value spread; heavily skewed
    * columns want rank-based binning (approxQuantile cut points) before
    * the interleave — same key shape, different normalizer. The min/max
    * agg is one 1-row collect (quantizer-style driver material, not
    * data).
    */
  def writeZOrderedN(df: DataFrame, path: String, cols: Seq[String],
                     bits: Int = 0, numFiles: Int = 0,
                     mode: SaveMode = SaveMode.Overwrite): Unit =
    zOrderedFrameN(df, cols, bits, numFiles)
      .write.mode(mode).parquet(path)

  /** [[writeZOrderedN]]'s arrangement WITHOUT the write: validation, the
    * Morton interleave, range partitioning and within-partition sort,
    * returned as a DataFrame so sinks that manage their own files (the
    * versioned table's OPTIMIZE) cluster through their own commit path.
    * The clustering survives any sink that does not reshuffle.
    */
  def zOrderedFrameN(df: DataFrame, cols: Seq[String], bits: Int = 0,
                     numFiles: Int = 0): DataFrame = {
    val n = if (numFiles > 0) numFiles
            else df.sparkSession.sessionState.conf.numShufflePartitions
    withMortonN(df, cols, bits)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** `df` plus a validated `__z` Morton-interleave column across N ≥ 2
    * dimensions (bit `i` of dimension `d` lands at `i * N + d`), each
    * min-max scaled to `bits` bits. `bits = 0` picks the most precision
    * that fits a 64-bit key, `min(16, 63 / N)`: two or three dims get 16
    * bits each, six fall back to 10. More dimensions dilute per-column
    * clustering (the curse of the Z-curve); 2–4 columns is the useful
    * range, matching lakehouse practice. Shared by the flat z-order
    * layout above and the versioned table's per-partition clustering.
    */
  private[catalog] def withMortonN(df: DataFrame, cols: Seq[String],
                                   bits: Int = 0): DataFrame = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate z-order column in $cols")
    val nDims = cols.size
    val nBits = if (bits == 0) math.min(16, 63 / nDims) else bits
    require(nBits >= 1 && nDims * nBits <= 63,
      s"$nDims dims × $nBits bits exceeds the 63-bit key, lower bits")
    // min/max ignore nulls, so a null-FRACTION would slip past an agg-row
    // check: count bad rows explicitly (one cheap pass relative to the
    // rewrite) — and count them on the CASTED values, because a
    // non-numeric string only becomes null after the cast and a NaN
    // double sails through a bare null check; either would get a
    // null/garbage z and collapse unsorted into one range partition,
    // silently breaking the clustering. try_cast, not cast: under ANSI
    // (Spark 4's default) a malformed cast THROWS mid-scan — the guard
    // must survive the bad value to report it with a usable message.
    val casts = cols.map(c => col(c).try_cast("double"))
    val aggs = casts.flatMap(c => Seq(min(c), max(c))) :+
      sum(casts.map(c => c.isNull || isnan(c)).reduce(_ || _).cast("long"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.foreach(i => require(!r.isNullAt(2 * i),
      s"z-order column ${cols(i)} is entirely null/non-numeric or the " +
        "input is empty"))
    require(r.getLong(2 * nDims) == 0L,
      s"z-order columns ${cols.mkString("/")} carry ${r.getLong(2 * nDims)} " +
        "rows that are null, non-numeric or NaN as doubles — filter or " +
        "impute them before clustering")
    val mins = Array.tabulate(nDims)(i => r.getDouble(2 * i))
    val maxs = Array.tabulate(nDims)(i => r.getDouble(2 * i + 1))
    val maxV = (1L << nBits) - 1
    val scales = Array.tabulate(nDims)(i =>
      if (maxs(i) > mins(i)) maxV / (maxs(i) - mins(i)) else 0.0)
    val zUdf = udf((vals: Seq[Double]) => {
      var z = 0L
      var d = 0
      while (d < nDims) {
        val q = math.min(maxV,
          math.max(0L, math.round((vals(d) - mins(d)) * scales(d))))
        var i = 0
        while (i < nBits) {
          z |= ((q >>> i) & 1L) << (i * nDims + d)
          i += 1
        }
        d += 1
      }
      z
    })
    df.withColumn("__z",
      zUdf(array(cols.map(c => col(c).cast("double")): _*)))
  }

  /** Partition-level upsert (the MERGE of a plain-parquet lakehouse):
    * overwrite ONLY the partitions present in `df`, leaving every other
    * partition's files untouched — Spark's dynamic partition-overwrite,
    * set per-write so the session default stays static (a static
    * Overwrite here would silently DELETE all other partitions). This is
    * how incremental re-ingest lands a corrected day/source without
    * rewriting the 100 TB table; pair with [[compactParquet]] on the
    * touched partitions afterwards.
    */
  def upsertPartitions(df: DataFrame, path: String,
                       partitionCol: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Persist the wikid catalog bucketed by its join keys: entities and
    * aliases co-bucketed on the entity id so loadEntities' joins and the
    * A1 aggregation run shuffle-free.
    */
  def saveWikidCatalog(spark: SparkSession, entities: DataFrame,
                       aliases: DataFrame, articles: DataFrame,
                       prefix: String = "graft", numBuckets: Int = 32): Unit = {
    writeBucketed(entities.withColumnRenamed("id", "entity_id"),
      s"${prefix}_entities", "entity_id", numBuckets)
    writeBucketed(aliases, s"${prefix}_aliases", "entity_id", numBuckets)
    writeBucketed(articles, s"${prefix}_articles", "entity_id", numBuckets)
  }
}
