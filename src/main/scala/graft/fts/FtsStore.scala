package graft.fts

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental FTS index store — the reference's FTS5 tables are not
  * built once: they GROW, one batched INSERT per parsed chunk, as the
  * dump streams through (`entities_texts` at
  * /root/reference/scripts/wiki/wikidata.py:255-256, `articles_texts` at
  * wikipedia.py:297), and SQLite FTS5 keeps them queryable after every
  * insert. [[Fts.buildIndex]] covers the build-once shape; this store is
  * the grow-in-place shape at Spark scale.
  *
  * Layout — Lucene-style immutable segments under a versioned manifest:
  * {{{
  *   path/meta.json            numBuckets, pinned at creation
  *   path/manifest-N           live segment list; highest N wins (commit point)
  *   path/seg-S/postings/tb=K  (term, doc_id, tf, positions) — positional,
  *                             hash-partitioned on term bucket tb
  *   path/seg-S/docs           (doc_id, dl, deleted) — slim per-doc stats
  * }}}
  *
  * Scale contract, piece by piece:
  *  - '''append is O(batch)''': a new segment holds only the batch's
  *    postings and doc stats; no existing file is read or rewritten, and
  *    the manifest commit is one tiny write-once file.
  *  - '''term lookups prune''': postings are disk-partitioned on
  *    `tb = bucket(term)`, so a query for k terms reads ≤ k of the
  *    `numBuckets` partitions per segment — never the whole index.
  *    (Prefix queries cannot hash-prune; see [[Fts.searchPrefix]].)
  *  - '''updates and deletes are logical''': re-appending a doc_id
  *    supersedes it (latest segment wins), [[delete]] writes tombstone
  *    doc rows. Resolution touches the FAT postings table only through a
  *    '''broadcast anti-join on the churn set''' — the docs rewritten or
  *    tombstoned since the last compaction, small by construction — while
  *    the winner computation runs on the slim docs tables alone. No
  *    postings shuffle at query time.
  *  - '''BM25 needs no corpus pass''': `|D|`, avgdl and N come from the
  *    persisted docs tables ([[liveDocs]]) — the side table
  *    [[Fts.searchBm25From]]'s scaladoc promises — so a BM25 query reads
  *    the query terms' buckets plus doc stats, nothing else.
  *  - '''compaction is reader-safe''': live postings/stats are rewritten
  *    into one fresh segment and committed by the next manifest number;
  *    superseded segments and manifests are retained `retainCycles`
  *    compactions before sweeping, so a reader that resolved the old
  *    manifest keeps valid paths.
  *  - '''appends are OPTIMISTIC and lock-free''' (a crashed writer
  *    blocks nobody), committed by the segment protocol both incremental
  *    stores share ([[graft.SegmentLog]]): claimed segment ids, a
  *    conditional manifest claim that rebases on a lost race, and a
  *    re-number whenever a higher segment id landed first — latest-wins
  *    is judged by SEGMENT id, so an append always supersedes a
  *    concurrent compaction's packed (older) copies of its docs.
  *    Concurrent upserts of the SAME doc_id commit in arbitrary order —
  *    the caller contract.
  *  - [[compact]] still takes the store `_lock` (mutual exclusion
  *    between compactions only) and replans when an append commits
  *    between its plan and its manifest claim; its sweep deletes
  *    unreferenced segment dirs only past a grace window, so it can
  *    never pull a lock-free in-flight append's files out from under it.
  */
object FtsStore {
  import graft.SegmentLog.{claimSeg, nextManifestNumber, readManifest,
    tryWriteManifest}

  /** Postings files carry a parquet bloom filter on `term`: within a
    * bucket many terms share the file, and for a rare term the bloom
    * skips whole row groups where the sorted layout's min/max range
    * still spans it (zone map = range, bloom = membership).
    */
  private val postingsWriterOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#term" -> "true",
    "parquet.bloom.filter.expected.ndv#term" -> "100000")

  /** Plan-size floor above which a segment build/pack keys its exchange
    * on (tb, doc_id) instead of tb alone — unbounded build parallelism
    * at the cost of extra files per tb dir (see [[writeSegment]]): 1 GiB.
    * A test seam (specs run both sides of the gate); nothing else sets
    * it.
    */
  private[fts] var wideBuildBytes: Long = 1L << 30

  /** Stable term→bucket hash, computable driver-side (partition-dir
    * pruning) and executor-side (write path) with no Spark-internal
    * dependency. MurmurHash3.stringHash is a pure function of the chars.
    */
  def termBucket(term: String, numBuckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(term), numBuckets)

  /** Create the store from an initial corpus. Doc ids must be unique
    * within every batch passed to create/append (they key supersession).
    */
  def create(docs: DataFrame, idCol: String, textCols: Seq[String],
             path: String, numBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    val fsys = graft.StoreLock.fs(spark, path)
    require(!fsys.exists(new HPath(s"$path/meta.json")),
      s"fts store at $path already exists — use append()")
    // meta.json is the store-exists marker, so it is written LAST: a
    // create that crashed mid-way left segment/manifest leftovers but
    // no meta — this retry picks fresh numbers past them (they stay
    // unreferenced until a compaction sweep) instead of bricking on
    // parquet's ErrorIfExists
    val seg = claimSeg(fsys, path)
    writeSegment(docs, idCol, textCols, path, seg, numBuckets)
    if (!tryWriteManifest(fsys, path, nextManifestNumber(fsys, path),
        Seq(seg)))
      throw new IllegalStateException(
        s"concurrent create of fts store at $path — only one creator wins")
    writeMeta(fsys, path, numBuckets)
  }

  /** Create an EMPTY store (meta + empty manifest) for callers that only
    * ever grow it batch-by-batch — the streaming-ingest shape, where the
    * first micro-batch is just another [[append]].
    */
  def createEmpty(spark: SparkSession, path: String,
                  numBuckets: Int = 32): Unit = {
    val fsys = graft.StoreLock.fs(spark, path)
    require(!fsys.exists(new HPath(s"$path/meta.json")),
      s"fts store at $path already exists — use append()")
    if (!tryWriteManifest(fsys, path, nextManifestNumber(fsys, path),
        Seq.empty))
      throw new IllegalStateException(
        s"concurrent create of fts store at $path — only one creator wins")
    writeMeta(fsys, path, numBuckets) // last — see create()
  }

  /** Append a batch of new or UPDATED documents as one immutable segment:
    * O(batch) — nothing existing is read or rewritten, and NO LOCK is
    * taken (optimistic claims; see the object scaladoc). A doc_id
    * already in the store is superseded (latest segment wins at read).
    */
  def append(docs: DataFrame, idCol: String, textCols: Seq[String],
             path: String): Unit = {
    val spark = docs.sparkSession
    // an empty batch is a no-op, not an empty segment: a docs dir with
    // no parquet files cannot be schema-inferred at the next read (and
    // streaming replays may legitimately deliver empty batches)
    if (docs.isEmpty) return
    val fsys = graft.StoreLock.fs(spark, path)
    val nb = readMeta(fsys, path)
    graft.SegmentLog.commitSegment(fsys, path, "fts append") { seg =>
      writeSegment(docs, idCol, textCols, path, seg, nb)
    }
  }

  /** Logical delete: a tombstone-only segment (doc rows flagged deleted,
    * no postings). The postings stay on disk until [[compact]]; readers
    * drop them through the same churn anti-join as updates.
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    if (ids.isEmpty) return // no-op: see the append() empty-batch note
    val fsys = graft.StoreLock.fs(spark, path)
    readMeta(fsys, path): Unit // store-exists check, fail loud
    graft.SegmentLog.commitSegment(fsys, path, "fts delete") { seg =>
      ids.select(col(idCol).as("doc_id")).distinct()
        .withColumn("dl", lit(0.0))
        .withColumn("deleted", lit(true))
        // few slim files, like writeSegment: every probe re-reads the
        // docs tables (docsUnion), so tombstone segments must not
        // scatter one file per shuffle partition. Tiered via AQE (r20):
        // the distinct's exchange coalesces by bytes — one file for the
        // usual small delete batch, a parallel reduce for a huge one
        // (r19's coalesce(1) made the distinct itself single-task)
        .write.parquet(s"$path/seg-$seg/docs")
    }
  }

  /** The resolved live postings — (term, doc_id, tf, positions), exactly
    * [[Fts.buildPositionalIndex]]'s schema over the store's CURRENT
    * corpus state — so every Fts query form runs over a store unchanged.
    * Full-index shape (per-segment scans, no term pruning): feed
    * aggregations and compaction with it; term queries should use
    * [[postingsForTerms]].
    */
  def postings(spark: SparkSession, path: String): DataFrame =
    resolved(spark, path, FullProbe)

  /** Term-query probe path: reads ONLY the query terms' `tb` partitions
    * of each live segment (disk-partition pruning via driver-computed
    * buckets), then the same churn anti-join.
    */
  def postingsForTerms(spark: SparkSession, path: String,
                       terms: Seq[String]): DataFrame =
    resolved(spark, path, TermProbe(terms))

  /** Prefix-query probe path: hash bucketing cannot place a prefix, but
    * each segment carries a (bucket → min/max term) sidecar written at
    * segment-build time — a bucket whose term range cannot intersect
    * `[prefix, succ(prefix))` is never read. Hash buckets of a LARGE
    * segment span most of the alphabet (little pruning — the in-file
    * sorted layout's row-group zone maps carry that case); small
    * incremental segments have narrow ranges and prune hard, which is
    * exactly where per-append file scatter would otherwise hurt.
    */
  def postingsForPrefix(spark: SparkSession, path: String,
                        prefix: String): DataFrame =
    resolved(spark, path, PrefixProbe(prefix))

  /** FTS5 `pre*` over the store's current state: sidecar-pruned postings
    * through [[Fts.searchPrefix]] unchanged.
    */
  def searchPrefix(spark: SparkSession, path: String,
                   prefix: String): DataFrame =
    Fts.searchPrefix(postingsForPrefix(spark, path, prefix), prefix)

  /** FTS5 `"a b c"` phrase query over the store: the phrase's terms are
    * known up front, so the probe reads only their buckets (the same
    * hash pruning as [[searchAll]]) before [[Fts.searchPhrase]]'s
    * position alignment.
    */
  def searchPhrase(spark: SparkSession, path: String,
                   phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.split("[^\\p{L}\\p{N}]+")
      .filter(_.nonEmpty).toSeq
    Fts.searchPhrase(postingsForTerms(spark, path, terms), phrase)
  }

  /** FTS5 `NEAR(a b, n)` over the store, bucket-pruned to the two terms. */
  def searchNear(spark: SparkSession, path: String, termA: String,
                 termB: String, maxDistance: Int = 10): DataFrame =
    Fts.searchNear(postingsForTerms(spark, path, Seq(termA, termB)),
      termA, termB, maxDistance)

  /** Live per-document stats (doc_id, dl) from the slim docs tables —
    * BM25's persisted side table; also the corpus-size frame (count it
    * in-plan, never a separate action).
    */
  def liveDocs(spark: SparkSession, path: String): DataFrame = {
    val segs = liveSegs(spark, path)
    if (segs.isEmpty)
      return spark.range(0)
        .select(col("id").as("doc_id"), lit(0.0).as("dl"))
    val all = docsUnion(spark, path, segs)
    all.groupBy("doc_id")
      .agg(max(struct(col("__seg"), col("deleted"), col("dl"))).as("w"))
      .filter(!col("w.deleted"))
      .select(col("doc_id"), col("w.dl").as("dl"))
  }

  /** tf-idf AND-ranked search over the store's current state: pruned
    * postings + live-doc count, through [[Fts.searchAllFrom]] unchanged.
    */
  def searchAll(spark: SparkSession, path: String,
                terms: Seq[String]): DataFrame =
    Fts.searchAllFrom(postingsForTerms(spark, path, terms),
      liveDocs(spark, path), terms)

  /** BM25 over the store: query-term buckets + persisted doc stats —
    * no full-index pass for |D|/avgdl/N (the [[Fts.searchBm25From]]
    * recomputation this store exists to retire).
    */
  def searchBm25(spark: SparkSession, path: String, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75,
                 requireAll: Boolean = true): DataFrame = {
    // statistics convention, pinned to [[Fts.searchBm25From]] and the
    // driver's DuckDB oracle: N counts EVERY live doc (token-free ones
    // included), while avgdl averages over postings-bearing docs only
    // (dl > 0) — a doc that tokenizes to nothing must not drag avgdl
    // toward zero, but it is still corpus for idf purposes
    val stats = graft.Caches.stage(liveDocs(spark, path))
    Fts.searchBm25WithStats(postingsForTerms(spark, path, terms),
      stats.filter(col("dl") > 0),
      stats.agg(count(lit(1)).cast("double").as("__ndocs")),
      terms, k1, b, requireAll)
  }

  /** Offline maintenance: rewrite the resolved live postings and doc
    * stats into ONE fresh segment (one file set per term bucket), commit
    * via the next manifest, and sweep segments/manifests superseded for
    * more than `retainCycles` compactions. O(store) by design — the
    * amortized job that clears the churn set and the per-append file
    * scatter; never on the probe path. Reader-safe: no path a reader
    * could have resolved through a retained manifest is deleted.
    */
  def compact(spark: SparkSession, path: String,
              retainCycles: Int = 2,
              // 7 days, the VersionedTable.vacuum convention: an
              // in-flight lock-free append's unclaimed segment must
              // never be swept while its (possibly hours-long at scale)
              // write phase is still running
              orphanGraceMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    val fsys = graft.StoreLock.fs(spark, path)
    val nb = readMeta(fsys, path) // store-exists check, fail loud
    // the packed segment must cover every committed append, or its old
    // doc copies could outrank a newer segment: the shared loop replans
    // when an append commits between this plan and the manifest claim
    graft.SegmentLog.compact(fsys, path, "fts store", retainCycles,
        orphanGraceMs) { _ =>
      val stats = graft.Caches.stage(liveDocs(spark, path))
      // every doc tombstoned: the compacted state is the EMPTY store — a
      // segment-less manifest (an empty docs parquet dir would be
      // unreadable at the next open)
      if (stats.isEmpty) Seq.empty
      else {
        val newSeg = claimSeg(fsys, path)
        val live = graft.Caches.stage(postings(spark, path))
        writePostings(live, path, newSeg, nb)
        stats.withColumn("deleted", lit(false))
          .select("doc_id", "dl", "deleted")
          // few larger files, not one per shuffle partition — the
          // packed docs table is what every later probe reads
          .repartition(math.max(1,
            (stats.count() / 4000000L).toInt + 1))
          .write.parquet(s"$path/seg-$newSeg/docs")
        Seq(newSeg)
      }
    }
  }

  // ------------------------------------------------------------------

  private def writeSegment(docs: DataFrame, idCol: String,
                           textCols: Seq[String], path: String, seg: Int,
                           numBuckets: Int): Unit = {
    // ONE tokenize pass and ONE exchange feed the whole segment (r19):
    //  - posexplode_outer keeps token-free docs as a (null term) row, so
    //    the doc-stats table falls out of the SAME staged frame — the
    //    previous shape re-scanned the input for ids and left-joined
    //    them back (a second source pass + a distinct + a join per
    //    segment write);
    //  - the shuffle is keyed by the TERM BUCKET up front, so the
    //    (doc_id, term) aggregation and the tb-partitioned layout share
    //    one exchange: HashPartitioning(tb) satisfies the aggregate's
    //    ClusteredDistribution(tb, doc_id, term) because tb is a
    //    grouping key and a pure function of term — the old shape paid
    //    a groupBy exchange AND a repartition(tb) exchange over the
    //    same postings.
    val text = concat_ws(" ", textCols.map(col): _*)
    val tbU = udf((t: String) =>
      if (t == null) 0 else termBucket(t, numBuckets))
    // tb-only keying caps the reduce (tokenize+collect_list, the heavy
    // stage) at numBuckets tasks — the right trade for micro-batch
    // appends (one exchange, one file per tb dir), wrong for a LARGE
    // initial create, which would push the whole corpus aggregation
    // through ≤numBuckets tasks regardless of cluster width. TIERED
    // (r20, plan-size heuristic, [[wideBuildBytes]]):
    // past the floor the exchange keys on (tb, doc_id) — still ONE
    // exchange, HashPartitioning(tb, doc_id) ⊆ the aggregation's
    // clustering keys, AQE-sized reduce — accepting one file per
    // (task, tb) pair in exchange for unbounded build parallelism.
    // Results are identical either way (grouping keys are unchanged).
    val wide =
      docs.queryExecution.optimizedPlan.stats.sizeInBytes > wideBuildBytes
    val shuffleKeys =
      if (wide) Seq(col("tb"), col("doc_id")) else Seq(col("tb"))
    val post = graft.Caches.stage(
      docs.select(col(idCol).as("doc_id"),
          posexplode_outer(Fts.tokenize(text)).as(Seq("pos", "term")))
        .withColumn("tb", tbU(col("term")))
        .repartition(shuffleKeys: _*)
        .groupBy("tb", "doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list("pos")).as("positions")))
    writeArrangedPostings(
      post.filter(col("term").isNotNull)
        .select("term", "doc_id", "tf", "positions", "tb"),
      path, seg)
    // one doc-stats row per input doc, INCLUDING token-free docs (they
    // must be able to supersede older generations; BM25 statistics
    // filter them back out — see searchBm25): the null-term row keeps
    // them present in the staged frame, and never counts toward dl
    post.groupBy("doc_id")
      .agg(coalesce(sum(when(col("term").isNotNull, col("tf"))), lit(0L))
        .cast("double").as("dl"))
      .select(col("doc_id"), col("dl"), lit(false).as("deleted"))
      // Few slim files per segment, not one per shuffle partition: the
      // docs table is batch-sized metadata that every probe re-reads
      // (docsUnion), so 32 tiny files per segment taxes each query.
      // TIERED (r20, replacing r19's coalesce(1)): the groupBy(doc_id)
      // exchange above is AQE-coalesced by observed bytes, so a
      // micro-batch append still lands one tiny file while a large
      // initial create's doc-stats aggregation keeps a parallel reduce
      // and writes proportionally many files — r19's coalesce(1) folded
      // INTO the final aggregation and serialized the whole create-path
      // doc-stats reduce through one task at scale.
      .write.parquet(s"$path/seg-$seg/docs")
  }

  /** Write a segment's postings dir plus its (bucket → min/max term)
    * sidecar. Layout: repartition ON the partition column so each tb dir
    * is written by exactly one task (the signature-store lesson,
    * Dedup.scala); sort by term within each bucket file so parquet
    * row-group min/max stats skip groups on term equality AND prefix
    * predicates (the [[Fts.writeIndexSorted]] zone-map layout, inside
    * every bucket). The sidecar is the BUCKET-level zone map the hash
    * layout lacks — what prefix probes prune on ([[postingsForPrefix]])
    * — and it costs NO extra Spark job: the ranges are read back from
    * the parquet footers the write just produced (driver-side metadata,
    * one footer per bucket file).
    */
  private def writePostings(post: DataFrame, path: String, seg: Int,
                            numBuckets: Int): Unit = {
    val tbU = udf((t: String) => termBucket(t, numBuckets))
    // same parallelism tier as writeSegment: a compaction packs the
    // WHOLE store, so tb-only keying would push the O(store) rewrite
    // through ≤numBuckets tasks at scale
    val wide =
      post.queryExecution.optimizedPlan.stats.sizeInBytes > wideBuildBytes
    val keys = if (wide) Seq(col("tb"), col("doc_id")) else Seq(col("tb"))
    writeArrangedPostings(
      post.withColumn("tb", tbU(col("term"))).repartition(keys: _*),
      path, seg)
  }

  /** Write postings that already CARRY `tb` and the tb partitioning —
    * the [[writeSegment]] fast path, whose single exchange is keyed by
    * tb before the aggregation ever runs. No emptiness pre-probe: it
    * re-evaluated the tokenize+group plan a second time (~0.3 s per
    * micro-batch). An all-token-free batch just writes a postings dir
    * with no tb= children, which [[resolved]]'s has-data check skips —
    * one job per batch instead of two.
    */
  private def writeArrangedPostings(post: DataFrame, path: String,
                                    seg: Int): Unit = {
    // sort by (tb, term), not term alone (r20): the partitioned write
    // REQUIRES ordering by its partition column and plans its own
    // Sort(tb) when the child's ordering doesn't satisfy it — so the
    // old term-only sort ran twice (term, then the writer's tb sort,
    // whose stability the term layout silently depended on). A (tb,
    // term) sort satisfies the writer's requirement as a prefix: ONE
    // per-task sort, and the in-file term order the zone maps rely on
    // is guaranteed by construction instead of by sort stability.
    post.sortWithinPartitions("tb", "term")
      .write.options(postingsWriterOptions)
      .partitionBy("tb").parquet(s"$path/seg-$seg/postings")
    writeTermRangeSidecar(post.sparkSession, path, seg)
  }

  /** Derive each bucket's [min, max] term from the column statistics in
    * its parquet footers and persist them as the segment's
    * `termrange.tsv` (TSV is unambiguous: terms are \p{L}\p{N}-only,
    * Fts.tokenize). Footer truncation only ever WIDENS a binary stat
    * (truncated min ≤ real min, truncated max ≥ real max), so the
    * sidecar range stays a superset — pruning on it is always safe. A
    * bucket whose footers lack term stats aborts the sidecar for the
    * whole segment (prefix probes then read every bucket — layout, not
    * correctness).
    */
  private def writeTermRangeSidecar(spark: SparkSession, path: String,
                                    seg: Int): Unit = {
    val fsys = fsFor(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val postingsDir = new HPath(s"$path/seg-$seg/postings")
    if (!fsys.exists(postingsDir)) return
    // one bucket's [lo, hi] term range off its files' footers; None =
    // stats missing somewhere (aborts the whole sidecar, layout only)
    def bucketRange(tbDir: org.apache.hadoop.fs.FileStatus)
        : Option[String] = {
      val tb = tbDir.getPath.getName.drop(3).toInt
      var lo: String = null
      var hi: String = null
      for (f <- fsys.listStatus(tbDir.getPath)
           if f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks
          (0 until blocks.size).foreach { b =>
            val cols = blocks.get(b).getColumns
            val termCol = (0 until cols.size).map(cols.get)
              .find(_.getPath.toDotString == "term")
              .getOrElse(sys.error(s"no term column in ${f.getPath}"))
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              termCol.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue)
              return None
            val mn = new String(st.getMinBytes, "UTF-8")
            val mx = new String(st.getMaxBytes, "UTF-8")
            if (lo == null || utf8Lt(mn, lo)) lo = mn
            if (hi == null || utf8Lt(hi, mx)) hi = mx
          }
        } finally reader.close()
      }
      if (lo == null) None else Some(s"$tb\t$lo\t$hi")
    }
    // concurrent footer reads (r20, the stats-harvest discipline): the
    // serial per-bucket loop charged every segment write ~13-20 ms per
    // bucket file of driver-side footer decode; the files were just
    // written (page-cache hot), so this parallelizes near-linearly
    import scala.collection.parallel.CollectionConverters._
    val ranges = fsys.listStatus(postingsDir).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("tb="))
      .par.map(bucketRange).seq
    if (ranges.exists(_.isEmpty)) return // stats missing: no sidecar
    val lines = ranges.flatten
    if (lines.isEmpty) return
    val out = fsys.create(new HPath(s"$path/seg-$seg/termrange.tsv"), false)
    try out.write(lines.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** What a probe wants from the postings: everything, a term set
    * (hash-bucket pruning), or a prefix (sidecar range pruning).
    */
  private sealed trait Probe
  private case object FullProbe extends Probe
  private case class TermProbe(terms: Seq[String]) extends Probe
  private case class PrefixProbe(prefix: String) extends Probe

  /** Live postings with supersession/tombstone resolution applied. The
    * winner computation runs on the slim docs tables; the fat postings
    * union is touched only by a broadcast anti-join on the churn pairs —
    * (doc_id, seg) rows superseded or tombstoned since last compaction.
    *
    * ONE scan relation across every live segment (r20): the previous
    * shape unioned one parquet relation PER SEGMENT, so a probe's plan —
    * analysis, optimization, codegen — grew linearly in segment count
    * (guide §3: very wide unions make planning itself the bottleneck;
    * fts_incremental's probe plan was 4 scan nodes + a 4-way union per
    * branch after 4 appends). Bucket pruning moves from a tb partition
    * FILTER to driver-side DIR SELECTION — hash buckets (TermProbe) and
    * per-segment sidecar ranges (PrefixProbe) pick exactly the `tb=` dirs
    * each segment must contribute, which is strictly finer than the old
    * single filter for prefix probes (each segment prunes by its own
    * range) and identical for term probes; `__seg` is recovered from the
    * file path (codegen'd regexp over `input_file_name`, no extra scan
    * cost), so segment count no longer shows up in the plan at all.
    */
  private def resolved(spark: SparkSession, path: String,
                       probe: Probe): DataFrame = {
    val fsys = graft.StoreLock.fs(spark, path)
    val nb = readMeta(fsys, path)
    val segs = liveSegs(spark, path)
    // per segment: the tb dirs on disk, and of those the ones this probe
    // must read (one listStatus per segment — the same FS cost the old
    // has-data check paid)
    val avail: Seq[(Int, Seq[Int])] = segs.map { s =>
      val dir = new HPath(s"$path/seg-$s/postings")
      val tbs =
        try fsys.listStatus(dir).toSeq.map(_.getPath.getName)
          .collect { case n if n.startsWith("tb=") => n.drop(3).toInt }
        catch { case _: java.io.FileNotFoundException => Seq.empty[Int] }
      (s, tbs)
    }
    val leafDirs: Seq[String] = avail.flatMap { case (s, tbs) =>
      val want: Seq[Int] = probe match {
        case TermProbe(ts) =>
          val buckets = ts.map(_.toLowerCase).distinct
            .map(termBucket(_, nb)).toSet
          tbs.filter(buckets)
        case PrefixProbe(p) => prefixBuckets(fsys, path, s, p) match {
          case Some(buckets) => tbs.filter(buckets.toSet)
          case None => tbs // no sidecar (legacy segment): read all
        }
        case FullProbe => tbs
      }
      want.map(b => s"$path/seg-$s/postings/tb=$b")
    }
    if (leafDirs.isEmpty) {
      // nothing to read. If the STORE has postings files (the probe just
      // pruned every bucket), the empty frame must carry the store's real
      // schema — a probe for an absent bucket feeds joins downstream and
      // a default-typed doc_id could silently re-type the (empty) result.
      // Only a store with no postings at all falls back to the default
      // typing (doc_id long), exactly the old per-segment-union behavior.
      val sample = avail.collectFirst {
        case (s, tbs) if tbs.nonEmpty => s"$path/seg-$s/postings/tb=${tbs.head}"
      }
      return sample match {
        case Some(dir) =>
          val sch = graft.SegmentLog.leafSchema(spark, path,
            "postings-files", dir)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None =>
          spark.range(0).select(lit("").as("term"),
            col("id").as("doc_id"), lit(0L).as("tf"),
            array().cast("array<int>").as("positions"))
      }
    }
    val sch = graft.SegmentLog.leafSchema(spark, path, "postings-files",
      leafDirs.head)
    val all = spark.read.schema(sch).parquet(leafDirs: _*)
      .withColumn("__seg", regexp_extract(input_file_name(),
        ".*/seg-(\\d+)/postings/", 1).cast("int"))
    val dead = churnPairs(docsUnion(spark, path, segs))
    all.join(broadcast(dead), Seq("doc_id", "__seg"), "left_anti")
      .drop("__seg", "tb")
  }

  /** (doc_id, __seg) pairs whose postings are dead: every non-winning
    * generation, plus the winner itself when tombstoned. Only docs
    * appearing in >1 segment or deleted can produce rows — the set is
    * bounded by churn since the last compaction, hence broadcastable.
    */
  private def churnPairs(docsAll: DataFrame): DataFrame = {
    val win = docsAll.groupBy("doc_id")
      .agg(max(struct(col("__seg"), col("deleted"))).as("w"),
        count(lit(1)).as("__n"))
      .select(col("doc_id"), col("w.__seg").as("__wseg"),
        col("w.deleted").as("__wdel"), col("__n"))
      .filter(col("__n") > 1 || col("__wdel"))
    docsAll.join(win.select("doc_id", "__wseg", "__wdel"), Seq("doc_id"))
      .filter(col("__seg") < col("__wseg") || col("__wdel"))
      .select("doc_id", "__seg")
  }

  /** The segment's buckets whose [min, max] term range can intersect
    * `[prefix, succ(prefix))` — the candidate set a prefix probe must
    * read. None = no sidecar (legacy segment) or unpruneable prefix;
    * Some(buckets) is always a SUPERSET of the matching buckets (pruning
    * is layout, never correctness — the caller still filters on term).
    */
  private[fts] def prefixBuckets(fsys: FileSystem, path: String, seg: Int,
                                 prefix: String): Option[Seq[Int]] = {
    val p = prefix.toLowerCase
    val sidecar = new HPath(s"$path/seg-$seg/termrange.tsv")
    // unpruneable prefixes (empty, or a successor we cannot form without
    // mangling a code point) fall back to reading every bucket. The
    // successor check matters too: for p.last = U+D7FF the +1 char is an
    // unpaired surrogate, which UTF-8-encodes as '?' and would byte-order
    // BELOW p — every bucket would fail the intersection and a valid
    // prefix would probe empty.
    if (p.isEmpty || Character.isSurrogate(p.last) ||
        p.last == Char.MaxValue ||
        Character.isSurrogate((p.last + 1).toChar) || !fsys.exists(sidecar))
      return None
    val pSucc = p.init + (p.last + 1).toChar
    val in = fsys.open(sidecar)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    Some(s.split("\n").filter(_.nonEmpty).toSeq.flatMap { line =>
      line.split("\t") match {
        // intersect [lo, hi] with [p, pSucc) — in UTF-8 byte order,
        // because the sidecar's min/max came from Spark's binary string
        // comparison, which diverges from Java's UTF-16 order for
        // supplementary-plane letters
        case Array(tb, lo, hi) if !utf8Lt(hi, p) && utf8Lt(lo, pSucc) =>
          Some(tb.toInt)
        case _ => None
      }
    })
  }

  /** a < b in unsigned UTF-8 byte order (Spark/parquet string order). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    graft.StoreLock.fs(spark, path)

  /** Every live segment's doc stats as ONE scan relation (r20, the
    * [[resolved]] one-relation shape): each committed segment has a docs
    * dir by construction ([[writeSegment]]/[[delete]] always write one),
    * so the dirs are read together and `__seg` comes off the file path.
    */
  private def docsUnion(spark: SparkSession, path: String,
                        segs: Seq[Int]): DataFrame = {
    val dirs = segs.map(s => s"$path/seg-$s/docs")
    val sch = graft.SegmentLog.leafSchema(spark, path, "docs-files",
      dirs.head)
    spark.read.schema(sch).parquet(dirs: _*)
      .withColumn("__seg", regexp_extract(input_file_name(),
        ".*/seg-(\\d+)/docs/", 1).cast("int"))
  }

  private def liveSegs(spark: SparkSession, path: String): Seq[Int] = {
    val (n, segs) = readManifest(graft.StoreLock.fs(spark, path), path)
    require(n >= 0, s"no fts store at $path (no manifest)")
    segs
  }

  private def writeMeta(fsys: FileSystem, path: String, numBuckets: Int): Unit = {
    // the creation NONCE is the store's identity: path-keyed caches key
    // on it, so a store deleted and re-created at the same path (even
    // within one mtime tick, with an identical byte length) can never
    // be served the old store's cached verdicts
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
    val onDisk = graft.SegmentLog.createMeta(fsys, path,
      Seq("numBuckets" -> numBuckets, "nonce" -> nonce))
    if (!onDisk.get("nonce").contains(nonce))
      throw new IllegalStateException(
        s"concurrent create of fts store at $path — only one creator wins")
  }

  private def readMeta(fsys: FileSystem, path: String): Int = {
    val m = graft.SegmentLog.readMeta(fsys, path)
    require(m.nonEmpty, s"no fts store at $path (missing meta.json)")
    m.get.get("numBuckets").flatMap(_.toIntOption).getOrElse(
      sys.error(s"malformed meta.json at $path: ${m.get}"))
  }
}
