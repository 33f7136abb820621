package graft.catalog

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Versioned parquet tables: atomic commits, snapshot-isolated readers,
  * time travel, partition-level upsert and retention-based vacuum — the
  * lakehouse commit-log core reduced to its Spark essentials.
  *
  * Why the engine needs it: [[Catalog.upsertPartitions]] (dynamic
  * partition overwrite) mutates files IN PLACE — a reader scanning the
  * table while a correction lands sees half-old half-new partitions, and
  * yesterday's training run cannot name the exact bytes it read. At
  * 100 TB, reproducibility ("train against snapshot v12") and safe
  * concurrent re-ingest are table stakes; this is the same
  * immutable-files + versioned-manifest discipline the engine's MinHash
  * signature store and FTS segment store already use, applied to plain
  * tables.
  *
  * Layout:
  * {{{
  *   path/data/c-S-xxxx/[pcol=V/]part-*.parquet  immutable; one dir per commit
  *                                           attempt (S = a monotonic hint for
  *                                           display/schema-pin order, xxxx = a
  *                                           writer nonce making the dir unique
  *                                           without any coordination)
  *   path/_commits/v-N                       write-once commit point: either a
  *                                           FULL file list, or a DELTA
  *                                           ("#delta base=M" + "+f"/"-f" lines)
  *                                           against version M; highest N wins
  *   path/_commits/v-N.checkpoint            derived full file list for version N
  *                                           (bounds delta-chain walks; idempotent)
  *   path/_commits/c-S-xxxx.stats            per-file column ranges of that data
  *                                           dir (data skipping; advisory)
  *   path/_lock                              vacuum-only mutual exclusion
  * }}}
  *
  * Every write lands files under a fresh nonce-named `data/` dir and then
  * commits one write-once manifest — previous versions' files are never
  * touched, so a reader that resolved any retained manifest reads a
  * consistent snapshot no matter what writers do meanwhile.
  *
  * '''Optimistic concurrency (no writer lock)''': commits do not
  * serialize behind a lock — a crashed writer blocks nobody. The atomic
  * commit point is a rename of a hidden tmp file onto `_commits/v-N`:
  * renaming a file onto an EXISTING file is refused by HDFS-class
  * filesystems and by LocalFileSystem alike (verified behavior), so at
  * most one writer wins each version number; the loser re-resolves the
  * new latest version, re-checks for conflicts, and retries at N+1.
  * Conflict rules are first-committer-wins at FILE granularity (the
  * Delta "WriteSerializable" shape):
  *   - `append` and full-snapshot `commit` read nothing — they always
  *     rebase and never conflict;
  *   - `merge`/`deleteRows` conflict when a concurrent commit removed a
  *     file they planned to rewrite, or added a file that COULD contain
  *     their batch keys (judged by the stats sidecars; no stats = assume
  *     it could) — on conflict they REPLAN from the new base and retry;
  *   - `upsertPartitions`/`deletePartitions` conflict when a concurrent
  *     commit added files into a partition they replace/drop;
  *   - `optimize`/`compactSmallFiles` conflict when their read set moved
  *     at all — maintenance reruns are cheap and must not clobber data.
  * In-process writers additionally serialize the (metadata-only) claim
  * step on a per-table JVM monitor, so same-JVM races are exact; on
  * object stores whose rename is not atomic (S3), hard exclusion needs
  * an external committer, the standard lakehouse caveat.
  *
  * '''Commit metadata is O(batch), not O(table)''': an append or upsert
  * writes a DELTA manifest naming only the files it added and removed —
  * a one-batch append to a million-file table commits a few lines, never
  * the full file list (the Delta-Lake commit-log shape). Resolution walks
  * the delta chain back to the nearest full manifest or checkpoint
  * sidecar; a checkpoint is written every [[checkpointInterval]] delta
  * commits, so the walk is bounded regardless of table age. Full-table
  * verbs (commit, optimize) naturally write full manifests — for them
  * the full list IS the delta.
  */
object VersionedTable extends org.apache.spark.internal.Logging {

  /** A concurrent commit invalidated this writer's plan (see the
    * conflict rules in the object scaladoc). Rebase-able verbs retry
    * internally; maintenance verbs surface it for the caller to rerun.
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** A commit's data violated a table CHECK constraint — the commit was
    * aborted before any manifest claim, so the table state is unchanged.
    */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** What a commit READ, for first-committer-wins conflict detection
    * when its claimed version number is lost to a concurrent writer.
    */
  private sealed trait ReadScope
  /** Read nothing (blind replace / pure addition): always rebase. */
  private case object NoReads extends ReadScope
  /** Read the whole base version (optimize): any base movement
    * conflicts.
    */
  private case class WholeBase(baseV: Int) extends ReadScope
  /** Read `removed` (the files this commit rewrites) out of the base
    * version's `baseFiles`, optionally pruned by a key-range
    * `predicate` (column, lo, hi) — the merge/delete plan shape.
    */
  private case class FileSet(baseV: Int, baseFiles: Seq[String],
                             removed: Set[String],
                             predicate: Option[(String, Any, Any)])
    extends ReadScope

  /** Per-table JVM monitor for the claim step (in-process writers
    * serialize the metadata-only claim; cross-process exclusion rests on
    * the conditional manifest rename).
    */
  private val claimMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def claimMonitor(path: String): Object =
    claimMonitors.computeIfAbsent(path, _ => new Object)

  /** Test seam: runs between a verb's PLAN and its optimistic COMMIT,
    * letting specs inject a concurrent commit at the exact point the
    * conflict rules must catch. No-op outside tests.
    */
  private[catalog] var betweenPlanAndCommit: () => Unit = () => ()

  /** Test seam: runs between a commit's DATA WRITE and its manifest
    * CLAIM — the window in which its files exist but no manifest
    * references them (what a concurrent vacuum sees as a possible
    * orphan). No-op outside tests.
    */
  private[catalog] var betweenWriteAndClaim: () => Unit = () => ()

  // Size gates. Each is a constant; the vars are test seams, like the
  // ones above, so specs can run both sides of a gate.

  /** Plan-size floor for the single-task partitioned-commit fast path
    * (see [[writeCommit]]): 32 MiB.
    */
  private[catalog] var smallCommitBytes: Long = 32L * 1024 * 1024

  /** Plan-size floor under which a merge/delete batch's key probe
    * collects the distinct keys and filters the scan with an IN list
    * instead of a semi join (see [[probeKeys]]): 8 MiB.
    */
  private[catalog] var mergeInListBytes: Long = 8L * 1024 * 1024

  /** The most distinct keys an IN list may carry; a larger batch takes
    * the join path.
    */
  private[catalog] var mergeInListKeys: Int = 32768

  /** [[maybeAutoCompact]]'s compaction target: 128 MiB; a file below
    * half of it counts as small.
    */
  private[catalog] var autoCompactTargetBytes: Long = 128L * 1024 * 1024

  /** The small-file count at which [[maybeAutoCompact]] folds: 16. */
  private[catalog] var autoCompactMinSmallFiles: Int = 16

  /** A checkpoint sidecar (full resolved file list) is written after
    * every this-many consecutive delta commits, bounding the manifest
    * reads a snapshot resolution can need. Checkpoints are derived and
    * advisory: a crash that loses one only lengthens the walk.
    */
  private val checkpointInterval = 10

  /** Full-table snapshot commit (optionally hive-partitioned): the new
    * version contains exactly `df`. Returns the committed version.
    */
  def commit(df: DataFrame, path: String,
             partitionCols: Seq[String] = Nil,
             writerOptions: Map[String, String] = Map.empty): Int =
    graft.Caches.scoped {
      writeCommit(fillDerived(df, path), path, partitionCols, "commit",
        writerOptions = writerOptions, scope = NoReads,
        bucketArrange = true) {
        (_, newFiles) => newFiles }
    }

  /** Parquet bloom-filter writer options for point-lookup columns:
    * beyond min/max zone maps, the reader then skips row groups on
    * equality predicates over high-cardinality columns (ids, hashes)
    * where ranges prune nothing because every row group spans the whole
    * domain. Pass to any commit verb's `writerOptions`; `ndv` sizes the
    * filter (expected distinct values per row group — overshooting costs
    * bytes, undershooting costs false positives, never correctness).
    */
  def bloomOptions(cols: Seq[String], ndv: Long = 100000L): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)).toMap

  /** Append commit: the new version is the previous file set plus `df`'s
    * files — no existing file is read or rewritten, and the manifest is
    * a delta naming only the new files (O(batch) end to end).
    *
    * A batch whose column set drifts from the table's fails loud unless
    * `evolveSchema` — then a new batch column widens the table (it reads
    * null for every pre-evolution row, mergeSchema semantics) and a
    * batch-omitted column reads null for the batch's rows. The firehose
    * contract: schema-on-read sources (the reference's dumps vary their
    * field sets per entity) drift in week one, and the drift must be a
    * DECISION, not a typo'd column silently forking the schema. The gate
    * costs one footer-schema read of the current version — metadata, no
    * data scan.
    */
  def append(df: DataFrame, path: String,
             partitionCols: Seq[String] = Nil,
             writerOptions: Map[String, String] = Map.empty,
             evolveSchema: Boolean = false,
             bucketArrange: Boolean = false): Int = graft.Caches.scoped {
    val filled = fillDerived(df, path)
    appendGate(filled, path, "append", evolveSchema)
    val v = writeCommit(filled, path, partitionCols, "append",
      writerOptions = writerOptions, scope = NoReads,
      bucketArrange = bucketArrange) {
      (prev, newFiles) => prev ++ newFiles }
    maybeAutoCompact(df.sparkSession, path)
    v
  }

  /** Declare `col` as an IDENTITY column (the Delta `GENERATED ALWAYS
    * AS IDENTITY` contract): every ingest commit whose batch LACKS the
    * column mints `start + k·step` values with `k` drawn from an
    * atomically reserved block — UNIQUE across arbitrarily many
    * concurrent writers with no coordination beyond one tiny
    * create-exclusive cursor file per commit
    * (`_commits/_idhw/<col>-<hi>`, highest wins — the same crash-safe
    * cursor discipline as the txn floors). Gaps are allowed (a crashed
    * writer wastes its block — the identity contract), values are
    * monotonic within a writer, and a batch that SUPPLIES the column
    * keeps its values (so rewrites/merges carry rows untouched) —
    * with the cursor advanced past the supplied range first (SYNC
    * IDENTITY, see [[fillIdentity]]), so later minting can never
    * re-issue a supplied value. The declaration lives in an
    * `_identity/<col>` sidecar; clones carry both the declaration and
    * the high-water cursor.
    */
  def setIdentityColumn(spark: SparkSession, path: String, col: String,
                        start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0L, "IDENTITY step must be non-zero")
    val fsys = fs(spark, path)
    val out = fsys.create(new HPath(s"$path/_identity/$col"), true)
    try out.write(s"$start $step".getBytes("UTF-8")) finally out.close()
  }

  /** The table's identity columns as col -> (start, step). */
  def identityColumns(spark: SparkSession, path: String)
      : Map[String, (Long, Long)] =
    identityOf(fs(spark, path), path)

  private def identityOf(fsys: FileSystem, path: String)
      : Map[String, (Long, Long)] = {
    val dir = new HPath(s"$path/_identity")
    if (!fsys.exists(dir)) Map.empty
    else fsys.listStatus(dir).toSeq.map { st =>
      val in = fsys.open(st.getPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val parts = s.trim.split("\\s+")
      st.getPath.getName -> ((parts(0).toLong, parts(1).toLong))
    }.toMap
  }

  /** Reserve a block of `n` identity indices for `col`, returning the
    * block's base. Lock-free: read the highest cursor, CREATE-EXCLUSIVE
    * the next one; a lost race re-reads and retries. Reservations are
    * never reclaimed (gaps are allowed by contract), so a crashed
    * writer costs a gap, never a duplicate. Stale cursors below the
    * new high water are pruned best-effort (deleting a non-max cursor
    * can never lower the observed max).
    */
  private def claimIdBlock(fsys: FileSystem, path: String, col: String,
                           n: Long): Long = claimMonitor(path).synchronized {
    // same-JVM racers serialize on the table's claim monitor (exactly
    // the manifest-claim discipline); cross-process the conditional
    // rename below arbitrates on HDFS/S3-like stores
    val dir = new HPath(s"$path/_commits/_idhw")
    fsys.mkdirs(dir)
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val cursors = fsys.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(col + "-"))
        .flatMap(s => s.drop(col.length + 1).toLongOption.map(s -> _))
      val hw = cursors.map(_._2).maxOption.getOrElse(0L)
      // conditional RENAME, the manifest-claim discipline: same-JVM
      // racers serialize on the claim monitor above; cross-process the
      // rename-refuses-existing-destination contract arbitrates on
      // HDFS and POSIX-complete stores — the SAME filesystem contract
      // every manifest claim in this engine already requires (object
      // stores without atomic rename are outside the commit protocol's
      // support surface, for identity cursors and manifests alike)
      val tmp = new HPath(dir,
        s".$col-${hw + n}-${scala.util.Random.nextInt()}.tmp")
      fsys.create(tmp, false).close()
      val won = fsys.rename(tmp, new HPath(dir, s"$col-${hw + n}"))
      if (!won) scala.util.Try(fsys.delete(tmp, false))
      if (won) {
        cursors.filter(_._2 < hw).foreach { case (nme, _) =>
          scala.util.Try(fsys.delete(new HPath(dir, nme), false)) }
        return hw
      }
    }
    throw new IllegalStateException(
      s"identity block claim for $col at $path lost 1000 straight races")
  }

  /** Raise `col`'s identity cursor to at least `minCursor` (the SYNC
    * IDENTITY step behind supplied-value ingest, see [[fillIdentity]]).
    * Same crash-safe highest-cursor-wins discipline as
    * [[claimIdBlock]]; a no-op when the cursor is already past. A lost
    * rename race re-reads — the racer either raised it enough or this
    * retries.
    */
  private def syncIdCursor(fsys: FileSystem, path: String, col: String,
                           minCursor: Long): Unit =
    claimMonitor(path).synchronized {
      val dir = new HPath(s"$path/_commits/_idhw")
      fsys.mkdirs(dir)
      var attempts = 0
      while (attempts < 1000) {
        attempts += 1
        val hw = fsys.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(col + "-"))
          .flatMap(s => s.drop(col.length + 1).toLongOption)
          .maxOption.getOrElse(0L)
        if (hw >= minCursor) return
        val tmp = new HPath(dir,
          s".$col-$minCursor-${scala.util.Random.nextInt()}.tmp")
        fsys.create(tmp, false).close()
        val won = fsys.rename(tmp, new HPath(dir, s"$col-$minCursor"))
        if (won) return
        scala.util.Try(fsys.delete(tmp, false))
      }
      throw new IllegalStateException(
        s"identity cursor sync for $col at $path lost 1000 straight races")
    }

  /** Declare the table BUCKETED by `col` into `numBuckets` hash buckets
    * — the pre-shuffled co-located-join layout, versioned: full-table
    * writes ([[commit]], flat [[optimize]]) hash-arrange their rows with
    * Spark's own bucket function and name the files with Spark's bucket
    * suffix, so an indexed scan reports `HashPartitioning(col, n)` and
    * two graft tables bucketed on the same key and count JOIN WITH NO
    * EXCHANGE ON EITHER SIDE — the shuffle is paid once at ingest, not
    * per query (the 100 TB fact-to-fact join shape). DML rewrites
    * (MERGE/UPDATE/DELETE survivors, DV image batches, replaceWhere,
    * compaction, DV purge) ALSO bucket-arrange on a declared flat
    * table — they already shuffle, so arranging costs only the hash
    * choice, and the co-location claim survives the upserted-fact-table
    * lifecycle instead of degrading on the first MERGE. Degrade-safe by
    * construction: any commit that does not bucket-arrange (plain
    * appends — a small batch must not fan into n tiny bucket files)
    * leaves files without bucket ids, and the scan then simply drops
    * the bucket claim for that snapshot — correct plans, one extra
    * exchange — until a bucket-arranging rewrite (auto-compaction,
    * flat OPTIMIZE) restores the layout.
    * Sizing at scale: a bucket-arranged write runs `numBuckets` write
    * tasks (one per bucket) — choose n so table_bytes / n is a sane
    * task size, exactly the standard bucketed-table tradeoff; an
    * oversized bucket still splits into MULTIPLE correctly-named files
    * under `spark.sql.files.maxRecordsPerFile` (every split file keeps
    * its task's part index, which IS the bucket id).
    * Composes with hive partitioning: arranged writes put n bucket
    * files in every partition dir (one shuffle, the bucket hash owns
    * the task layout), and partition pruning + the bucket claim serve
    * the same scan. A declaration naming a PARTITION column never
    * arranges or claims (no in-file bytes to hash). Incompatible with
    * renaming the bucket column. Redeclaring a different column or count is safe
    * because the claim is PROVEN per commit dir: every bucket-arranged
    * write records its actual (column, count) in a write-once
    * `_commits/<dir>.bucket` sidecar, and the scan claims the layout
    * only when every contributing dir's sidecar equals the CURRENT
    * declaration — stale-arranged files can never be claimed under a
    * new spec (which would silently drop join matches), and the sidecar
    * ALSO records the bucket columns' WRITTEN data types — the
    * type-widening promotion chain ([[widenType]]) can change a bucket
    * column's read type between commits (int→long, long→double), and
    * Murmur3 hashes of the same value under different widths DIFFER, so
    * a claim mixing pre- and post-widening dirs (or claiming
    * HashPartitioning over the widened type for files hashed under the
    * narrow one) would co-locate nothing: the scan claims only when
    * every dir's recorded types equal the snapshot's READ types, and a
    * widened table degrades (extra exchange, full-scan lookups) until a
    * rewrite re-arranges under the new type. (Sidecars from engine
    * versions predating the type record are trusted as-written — the
    * documented legacy caveat.)
    */
  def setBucketing(spark: SparkSession, path: String, col: String,
                   numBuckets: Int): Unit =
    setBucketing(spark, path, Seq(col), numBuckets, Nil)

  /** Multi-column / sorted form: `CLUSTERED BY (cols…) [SORTED BY
    * (sortCols…)] INTO n BUCKETS`. Composite keys hash exactly as
    * Spark's `HashPartitioning(cols, n)` (column order matters — it is
    * part of the layout identity), so fact-to-fact joins on the full
    * composite key plan with no exchange, and a point lookup binding
    * EVERY bucket column prunes to one bucket (a predicate on a strict
    * subset never prunes — the hash needs the whole tuple). `sortCols`
    * additionally sorts rows WITHIN each bucket file and is proven per
    * dir like the bucket claim itself; when every contributing dir
    * proves the declared sort, the scan claims the `SortOrder` too, so
    * a co-bucketed-co-sorted sort-merge join plans with ZERO Exchange
    * AND ZERO Sort on either side (Spark claims the ordering only on
    * one-file-per-bucket snapshots — post-OPTIMIZE/CTAS — and only
    * under `spark.sql.legacy.bucketedTableScan.outputOrdering=true` —
    * a planning-time setting the claim is inert without). An un-sorted
    * or
    * differently-sorted commit drops ONLY the sort claim; the bucket
    * claim stands on (cols, n, types) alone.
    */
  def setBucketing(spark: SparkSession, path: String, cols: Seq[String],
                   numBuckets: Int, sortCols: Seq[String]): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(cols.nonEmpty, "at least one bucket column required")
    require(cols.distinct.size == cols.size,
      s"duplicate bucket columns: ${cols.mkString(",")}")
    // the declaration doubles as a file name — restrict to
    // filesystem-safe simple names (the appId discipline); exotic
    // column names simply can't be bucket-declared in v1
    (cols ++ sortCols).foreach(c => require(c.matches("[A-Za-z0-9_.\\-]+"),
      s"bucket/sort column name must be [A-Za-z0-9_.-]+, got '$c'"))
    val fsys = fs(spark, path)
    // one bucket declaration per table: drop any previous column's file
    val dir = new HPath(s"$path/_bucket")
    if (fsys.exists(dir)) fsys.delete(dir, true)
    // file NAME carries the bucket columns (legacy single-column files
    // are the same format); content line 1 is the count, an optional
    // `sorted=` line the SORTED BY columns
    val out = fsys.create(
      new HPath(s"$path/_bucket/${cols.mkString(",")}"), true)
    val body = numBuckets.toString +
      (if (sortCols.isEmpty) "" else s"\nsorted=${sortCols.mkString(",")}")
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    // drop this table's cached declaration NOW: a redeclare inside one
    // filesystem mtime tick (or a store with constant dir mtimes) would
    // otherwise keep serving the old spec for the JVM's lifetime
    val prefix = s"${fsys.getUri}$path/_bucket"
    bucketDeclCache.synchronized {
      bucketDeclCache.keySet.removeIf(_._1 == prefix)
    }
  }

  /** A table's bucket-layout declaration: hash `cols` into `n` buckets,
    * each bucket file internally sorted by [[effectiveSort]].
    */
  case class BucketDecl(cols: Seq[String], n: Int, sortCols: Seq[String]) {
    /** The within-file sort an arranged write lays down: the declared
      * SORTED BY, or the bucket columns themselves when none is
      * declared (the arranged write sorts either way — sorting is free
      * inside the bucket shuffle and keeps one-file-per-bucket
      * snapshots merge-scannable).
      */
    def effectiveSort: Seq[String] = if (sortCols.nonEmpty) sortCols else cols
  }

  /** The table's bucket declaration as (columns-csv, numBuckets), if
    * any — the DESCRIBE DETAIL display shape; [[bucketDecl]] is the
    * structured form.
    */
  def bucketing(spark: SparkSession, path: String)
      : Option[(String, Int)] =
    bucketingOf(fs(spark, path), path).map(d => (d.cols.mkString(","), d.n))

  /** The table's full bucket declaration, if any. */
  def bucketDecl(spark: SparkSession, path: String): Option[BucketDecl] =
    bucketingOf(fs(spark, path), path)

  /** Declaration cache keyed by the `_bucket` dir's identity (fs URI +
    * path + mtime — [[setBucketing]] replaces the whole dir, so a
    * redeclare always changes it): one getFileStatus per indexed read
    * instead of exists+list+open, and an UNDECLARED table pays exactly
    * one existence probe. Bounded LRU.
    */
  private val bucketDeclCache =
    new java.util.LinkedHashMap[(String, Long), Option[BucketDecl]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Option[BucketDecl]])
          : Boolean = size() > 512
    }

  private def bucketingOf(fsys: FileSystem, path: String)
      : Option[BucketDecl] = {
    val dir = new HPath(s"$path/_bucket")
    val st = try fsys.getFileStatus(dir)
    catch { case _: java.io.FileNotFoundException => return None }
    val key = (s"${fsys.getUri}$path/_bucket", st.getModificationTime)
    bucketDeclCache.synchronized(Option(bucketDeclCache.get(key)))
      .getOrElse {
        val v = fsys.listStatus(dir).headOption.map { f =>
          val in = fsys.open(f.getPath)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          val lines = s.trim.split("\n").map(_.trim)
          BucketDecl(
            f.getPath.getName.split(",").toSeq,
            lines.head.toInt,
            lines.tail.collectFirst { case l if l.startsWith("sorted=") =>
              l.drop("sorted=".length).split(",").toSeq
            }.getOrElse(Nil))
        }
        bucketDeclCache.synchronized(bucketDeclCache.put(key, v): Unit)
        v
      }
  }

  /** Write-once per-commit-dir bucket-layout sidecars
    * (`_commits/<dir>.bucket` = "col TAB n", written by the
    * bucket-arranging write BEFORE its claim): the PROOF of what a
    * dir's files were actually hashed by. The scan-side claim requires
    * every contributing dir's sidecar to EQUAL the current declaration
    * — name-parse alone cannot tell hash(a)%8 files from hash(b)%8 or
    * %16 files, and a redeclared column/count claiming stale files
    * would silently drop join matches. Cached per dir (write-once),
    * keyed with the filesystem URI so two filesystems resolving the
    * same path string never cross-serve.
    */
  /** What one commit dir's layout sidecar PROVES about its files:
    * hashed by (`cols`, `n`) over the `types`-typed column values
    * (None = a pre-type-record legacy sidecar, trusted as-written),
    * each file internally sorted by `sortCols`. Legacy sidecars imply
    * `sortCols = cols` — every arranged write has always sorted within
    * buckets by the bucket column.
    */
  private case class DirLayout(cols: Seq[String], n: Int,
                               types: Option[Seq[String]],
                               sortCols: Seq[String])

  private val dirBucketCache =
    new java.util.LinkedHashMap[String, Option[DirLayout]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[DirLayout]]): Boolean =
        size() > 4096
    }

  private def writeDirBucketSidecar(fsys: FileSystem, path: String,
                                    dir: String,
                                    layout: DirLayout): Unit = {
    val out = fsys.create(new HPath(s"$path/_commits/$dir.bucket"), true)
    // "cols TAB n TAB types=t1|t2 TAB sorted=s1,s2" — `|` separates
    // types because catalogString itself may contain commas
    // (decimal(10,2)); cols/sortCols are declaration-gated simple names
    val body = s"${esc(layout.cols.mkString(","))}\t${layout.n}" +
      s"\ttypes=${layout.types.getOrElse(Nil).mkString("|")}" +
      s"\tsorted=${layout.sortCols.mkString(",")}"
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Table-identity guard for the path-keyed caches: a table deleted
    * and re-created at the same path must never be served the OLD
    * table's dir listings or bucket-sidecar verdicts (the commit-dir
    * nonce makes a collision unlikely; this makes it impossible for
    * every creation that goes through our own verbs). Called by the
    * creation paths — first commit, convert, clone target.
    */
  private[catalog] def purgePathCaches(fsys: FileSystem,
                                       path: String): Unit = {
    val prefix = s"${fsys.getUri}$path/"
    dirBucketCache.synchronized(
      dirBucketCache.keySet.removeIf(_.startsWith(prefix)): Unit)
    GraftScan.invalidateDirCache(fsys, path)
  }

  private def dirBucketOf(fsys: FileSystem, path: String,
                          dir: String): Option[DirLayout] = {
    val p = s"$path/_commits/$dir.bucket"
    val key = s"${fsys.getUri}$p"
    val cached = dirBucketCache.synchronized(Option(dirBucketCache.get(key)))
    if (cached.isDefined) return cached.get
    val v = try {
      val in = fsys.open(new HPath(p))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val fields = s.split("\t")
      val cols = unesc(fields(0)).split(",").toSeq
      val n = fields(1).trim.toInt
      val types = fields.collectFirst {
        case f if f.startsWith("types=") =>
          f.drop("types=".length).split("\\|").toSeq.filter(_.nonEmpty)
      }
      val sort = fields.collectFirst {
        case f if f.startsWith("sorted=") =>
          f.drop("sorted=".length).split(",").toSeq.filter(_.nonEmpty)
      }.getOrElse(cols) // legacy: arranged writes always sorted by cols
      Some(DirLayout(cols, n, types, sort))
    } catch {
      // only the DEFINITIVE no-sidecar answer caches (sidecars are
      // write-once-before-claim, so absence at read time is permanent);
      // a transient I/O failure degrades THIS query's claim and is
      // retried next time — caching it would pin an extra exchange
      // onto a genuinely bucketed table for the JVM's lifetime
      case _: java.io.FileNotFoundException => None
      case NonFatal(_) => return None
    }
    dirBucketCache.synchronized(dirBucketCache.put(key, v): Unit)
    v
  }

  /** The `BucketSpec` an indexed scan of `entries` may claim: the
    * declaration, gated on (1) EVERY contributing commit dir's layout
    * sidecar matching the declared (column, count) — so stale files
    * arranged under an older column or count can never be claimed as
    * the new layout — and (2) every live base file carrying a parseable
    * in-range bucket id (Spark's reader contract). Hive-partitioned
    * snapshots claim too (the standard partitioned+bucketed fact-table
    * layout — n bucket files per partition dir; Spark groups the
    * partition-pruned file set by bucket id, so partition pruning and
    * the exchange-free join compose). Any non-bucketed commit (a plain
    * append) or a redeclare drops the claim silently (correct plans,
    * one extra exchange) until a bucket-arranging rewrite — DML
    * rewrites arrange, and auto-compaction or an OPTIMIZE restores an
    * append-degraded layout.
    */
  private[catalog] def bucketSpecFor(spark: SparkSession, path: String,
                                     entries: Seq[String],
                                     fieldTypes: Option[Map[String,
                                       org.apache.spark.sql.types.DataType]]
                                       = None)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    val fsys = fs(spark, path)
    bucketingOf(fsys, path).flatMap { decl =>
      val dirs = entries.map(e => baseOf(e).split("/").head).distinct
      val layouts = dirs.map(d => dirBucketOf(fsys, path, d))
      // the snapshot's READ types for the bucket columns — the claim
      // (HashPartitioning over the read schema) is honest only when the
      // files were hashed under exactly these types; a type-widened
      // column (int→long) silently changes the hash, so widened
      // snapshots degrade until re-arranged
      val readTypes = fieldTypes.map(m =>
        decl.cols.flatMap(c => m.get(c).map(_.catalogString)))
      def typesOk(l: DirLayout): Boolean = (l.types, readTypes) match {
        case (Some(ts), Some(rs)) => rs.size == decl.cols.size && ts == rs
        // legacy (pre-type-record) sidecar, or a caller without the
        // snapshot schema: structural check only — documented caveat
        case _ => true
      }
      val ok = entries.nonEmpty && layouts.forall(_.exists(l =>
          l.cols == decl.cols && l.n == decl.n && typesOk(l))) &&
        entries.forall { e =>
          // the id lives in the file NAME; hive partition dirs above it
          // are fine (the standard partitioned+bucketed layout)
          val b = baseOf(e)
          org.apache.spark.sql.graft.SqlBridge
            .bucketIdOf(b.drop(b.lastIndexOf('/') + 1))
            .exists(id => id >= 0 && id < decl.n)
        }
      if (!ok) None
      else {
        // the sort claim stands only when EVERY contributing dir proved
        // the declared within-file sort; a differently-sorted (or
        // legacy-sorted) dir drops the ordering claim alone — the
        // bucket claim is already settled above
        val sorted =
          layouts.forall(_.exists(_.sortCols == decl.effectiveSort))
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
          decl.n, decl.cols, if (sorted) decl.effectiveSort else Nil))
      }
    }
  }

  /** Operational status of the table's bucket declaration — DESCRIBE
    * DETAIL's "did my layout silently drop" probe, so operators see a
    * degraded claim without reading plans. None = no declaration;
    * "claimed" = the head snapshot's per-dir layout proof holds;
    * "degraded (since v<k>)" = the claim dropped at version k (bounded
    * backward walk over recent versions — an older degrade reports as
    * plain "degraded"). Manifest + sidecar metadata only.
    */
  def bucketClaimStatus(spark: SparkSession, path: String)
      : Option[String] =
    claimStatusWalk(spark, path, _ => true)

  /** Operational status of the table's SORTED BY declaration — the
    * DESCRIBE DETAIL companion to [[bucketClaimStatus]], same contract:
    * None when no SORTED BY is declared; "claimed" when the head
    * snapshot's per-dir proofs carry the declared sort (so a scan
    * claims the `SortOrder` and a co-sorted join plans zero Sort);
    * "degraded (since v<k>)" when some contributing dir was arranged
    * without it. The sort claim can degrade while the bucket claim
    * stands — they are proven independently per dir.
    */
  def sortClaimStatus(spark: SparkSession, path: String)
      : Option[String] = {
    val decl = bucketDecl(spark, path)
    if (decl.forall(_.sortCols.isEmpty)) None
    else claimStatusWalk(spark, path, _.sortColumnNames.nonEmpty)
  }

  private def claimStatusWalk(spark: SparkSession, path: String,
      accept: org.apache.spark.sql.catalyst.catalog.BucketSpec => Boolean)
      : Option[String] = {
    val fsys = fs(spark, path)
    bucketingOf(fsys, path).map { _ =>
      val vs = manifestNumbers(fsys, path).sorted
      def claimed(v: Int): Boolean = {
        // fieldTypesAt re-resolves the version internally — acceptable
        // double-tap: both passes are served by the manifest-content
        // and dir-schema caches, and the walk is bounded (≤33 versions,
        // DESCRIBE DETAIL only — never a query path)
        val files = resolveFiles(fsys, path, v)
        files.nonEmpty && bucketSpecFor(spark, path, files,
          Some(GraftScan.fieldTypesAt(spark, path, v))).exists(accept)
      }
      if (vs.isEmpty) "declared (no data)"
      else if (claimed(vs.max)) "claimed"
      else vs.reverse.drop(1).take(32).find(claimed) match {
        case Some(ok) =>
          s"degraded (since v${vs.dropWhile(_ <= ok).head})"
        case None => "degraded"
      }
    }
  }

  /** Declare `col` as a GENERATED column (`GENERATED ALWAYS AS
    * (expr)`): every ingest commit whose batch LACKS the column
    * computes it from `sqlExpr` (over the batch's own columns — a
    * plain codegen'd expression, no shuffle), and a batch that
    * SUPPLIES it is VALIDATED by an auto-installed CHECK constraint
    * `col <=> (expr)` through the ordinary commit-time constraint gate
    * (null-safe equality, so a wrong supplied value — including a
    * null-fill — aborts the commit loud with nothing claimed). The
    * headline use is a generated PARTITION column (`day` from a
    * timestamp): ingest never computes it by hand and every reader
    * prunes on it. Declaration lives in a `_generated/<col>` sidecar;
    * clones carry it (constraints already travel).
    */
  def setGeneratedColumn(spark: SparkSession, path: String, col: String,
                         sqlExpr: String): Unit = {
    // validate BEFORE persisting anything: a malformed expression (or
    // existing rows violating the check) must not leave a half-
    // installed declaration that poisons every later ingest
    org.apache.spark.sql.graft.SqlBridge.sessionParser(spark)
      .parseExpression(sqlExpr): Unit
    // enforcement rides the CHECK machinery — validates existing rows
    // too when the table already has data; the declaration sidecar is
    // written LAST, so a failed install leaves the table untouched
    setConstraint(spark, path, s"gen_$col", s"`$col` <=> ($sqlExpr)")
    val fsys = fs(spark, path)
    val out = fsys.create(new HPath(s"$path/_generated/$col"), true)
    try out.write(sqlExpr.getBytes("UTF-8")) finally out.close()
  }

  /** The table's generated columns as col -> sql expression. */
  def generatedColumns(spark: SparkSession, path: String)
      : Map[String, String] =
    generatedOf(fs(spark, path), path)

  private def generatedOf(fsys: FileSystem, path: String)
      : Map[String, String] = {
    val dir = new HPath(s"$path/_generated")
    if (!fsys.exists(dir)) Map.empty
    else fsys.listStatus(dir).toSeq.map { st =>
      val in = fsys.open(st.getPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      st.getPath.getName -> s
    }.toMap
  }

  /** Fill absent DERIVED columns of an ingest batch: identity blocks
    * first, then generated expressions (which may reference the fresh
    * identity values). Batches that carry a column keep it — identity
    * values pass through, generated values are constraint-validated.
    */
  private def fillDerived(df: DataFrame, path: String): DataFrame = {
    val withIds = fillIdentity(df, path)
    val gens = generatedOf(fs(df.sparkSession, path), path)
      .filterNot { case (c, _) => withIds.columns.contains(c) }
    gens.foldLeft(withIds) { case (cur, (c, e)) =>
      cur.withColumn(c, expr(e))
    }
  }

  /** Fill absent identity columns of an ingest batch (no-op for
    * tables without identity declarations or batches that already
    * carry the column). One count() sizes the reservation; values
    * assign in batch order.
    */
  private def fillIdentity(df: DataFrame, path: String): DataFrame = {
    val spark = df.sparkSession
    val fsys = fs(spark, path)
    val ids = identityOf(fsys, path)
    if (ids.isEmpty) return df
    // a batch that SUPPLIES a declared identity column keeps its values
    // — but the cursor must advance past them first (the SYNC IDENTITY
    // step): a supplied value inside the not-yet-claimed range would
    // otherwise be minted AGAIN by a later ingest, silently breaking
    // the uniqueness contract. The batch is STAGED before the sync
    // aggregate so the synced range and the eventually-written values
    // come from ONE materialization — a non-deterministic batch
    // re-evaluated between the two could otherwise write a value above
    // the synced cursor. One min/max aggregate per sync (the supplied
    // path is rare; the common mint path never pays it), conservative
    // for off-grid values — over-advancing costs a gap, which the
    // identity contract allows.
    val supplied = ids.filter { case (c, _) => df.columns.contains(c) }
    val base = if (supplied.isEmpty) df else {
      val staged = graft.Caches.stage(df)
      val aggs = supplied.keys.toSeq.flatMap(c =>
        Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
      val row = staged.agg(aggs.head, aggs.tail: _*).head()
      supplied.keys.toSeq.zipWithIndex.foreach { case (c, i) =>
        if (!row.isNullAt(2 * i)) {
          val (start, step) = supplied(c)
          val (lo, hi) = (row.getLong(2 * i), row.getLong(2 * i + 1))
          val k = math.max(Math.floorDiv(lo - start, step),
            Math.floorDiv(hi - start, step))
          if (k >= 0L) syncIdCursor(fsys, path, c, k + 1L)
        }
      }
      staged
    }
    val missing = ids.filterNot { case (c, _) => df.columns.contains(c) }
    missing.foldLeft(base) { case (cur0, (c, (start, step))) =>
      fillOneIdentity(cur0, fsys, path, c, start, step)
    }
  }

  /** Mint one identity column over a batch, staying in whole-stage
    * codegen end to end (no RDD round-trip): ONE job counts rows per
    * partition (also sizing the block reservation), then the value is a
    * plain expression — partition offset (broadcast map literal) plus
    * the within-partition record number recovered from
    * `monotonically_increasing_id`'s documented layout (partition id in
    * the upper 31 bits, record number in the lower 33). Assignment
    * order equals the old zipWithIndex order: partitions in id order,
    * rows in partition order.
    */
  private[catalog] def fillOneIdentity(cur0: DataFrame, fsys: FileSystem,
                                       path: String, c: String,
                                       start: Long, step: Long): DataFrame = {
    // STAGE the batch so the reservation-sizing count and the assigning
    // expression read ONE materialization — a non-deterministic batch
    // (rand() filter, concurrently-changing source) re-evaluated
    // between the two could otherwise yield more rows than reserved and
    // collide with the next writer's block. The enclosing verb's Caches
    // scope releases it.
    val cur = graft.Caches.stage(cur0)
    val parts = cur.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = parts.map(_._2).sum
    if (n == 0L) cur.withColumn(c, lit(start))
    else {
      val base = claimIdBlock(fsys, path, c, n)
      val cumul = parts.scanLeft(0L) { case (acc, (_, cnt)) => acc + cnt }
      val offMap = parts.map(_._1).zip(cumul).toMap
      val offCol = element_at(typedLit(offMap), spark_partition_id())
      val idx = monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast("long"), 33)
      cur.withColumn(c,
        (lit(start) + (lit(base) + offCol + idx) * lit(step))
          .cast("long"))
    }
  }

  /** Opt-in post-ingest compaction (`spark.graft.autoCompact = true`):
    * after an append lands, fold the table's small-file debt through
    * [[compactSmallFiles]] once it crosses [[autoCompactMinSmallFiles]]
    * files below half of [[autoCompactTargetBytes]] — streaming and
    * micro-batch ingest then keep read amplification bounded WITHOUT an
    * external OPTIMIZE scheduler.
    * The debt probe is one manifest resolve + O(current files) FS
    * metadata stats; the threshold debounces it to every ~N batches'
    * worth of smalls. BEST-EFFORT by design: the ingest commit has
    * already landed, so a compaction failure (or a lost race — it
    * replans internally anyway) logs and never fails the caller; a
    * data-identical compact commit racing anything is safe to skip.
    */
  private def maybeAutoCompact(spark: SparkSession, path: String): Unit = {
    if (!spark.conf.getOption("spark.graft.autoCompact")
        .exists(_.toBoolean)) return
    try {
      val fsys = fs(spark, path)
      val cur = resolveFiles(fsys, path, manifestNumbers(fsys, path).max)
      val smalls = fileSizes(fsys, path, cur).values
        .count(_ < autoCompactTargetBytes / 2)
      if (smalls >= autoCompactMinSmallFiles)
        compactSmallFiles(spark, path,
          targetFileBytes = autoCompactTargetBytes): Unit
    } catch { case NonFatal(e) =>
      logWarning(s"autoCompact at $path skipped: ${e.getMessage}")
    }
  }

  /** Fail loud when an append batch's column set drifted from the
    * table's and the caller did not opt into evolution (see [[append]]).
    * Advisory gating outside the claim: two racing first-evolvers can
    * both pass — benign, both schemas union on read, exactly the
    * mergeSchema semantics evolution opts into.
    */
  private def appendGate(df: DataFrame, path: String, what: String,
                         evolve: Boolean): Unit = {
    if (evolve) return
    val spark = df.sparkSession
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) return
    // fast path: the declared schema travels in the head manifest — one
    // metadata read per gated append, no parquet footer opens. Legacy
    // tables (no declaration yet) fall back to the footer-derived union.
    declaredColsAt(fsys, path, vs.max) match {
      case Some(declared) =>
        evolutionGate(what, evolve, declared, df.columns)
      case None =>
        val cur = resolveFiles(fsys, path, vs.max)
        if (cur.isEmpty) return
        val (cmap, drops) = schemaMetaAt(fsys, path, vs.max)
        evolutionGate(what, evolve,
          logicalFields(spark, path, cur, cmap, drops).map(_.name),
          df.columns)
    }
  }

  /** [[append]] with a transactional idempotence marker, the Delta
    * `txnAppId`/`txnVersion` shape: the commit manifest records
    * `(appId, batchId)`, and an append whose batchId is at-or-below the
    * app's recorded maximum SKIPS (returning the current version) —
    * so a crash-replayed micro-batch appends exactly once. The guard
    * re-checks inside the optimistic claim loop: two racers with the
    * same txn can never both land (the rename loser sees the winner's
    * marker on retry). BatchIds must be monotonic per app (the
    * Structured Streaming batchId contract), and the guard reaches as
    * far back as vacuum retains manifests — size retention beyond the
    * replay horizon — PLUS the per-app floor sidecars under
    * `_commits/_txn/`, which survive vacuum and make the lookup O(1):
    * each committed txn records `<appId>-<version>-<batchId>` (max
    * version wins, exactly the crash-safe `cursor-N` discipline), so
    * the guard reads one directory listing plus only the manifests
    * newer than the app's floor instead of walking every retained
    * manifest. Schema drift gates like [[append]] (`evolveSchema`).
    */
  def appendIdempotent(df: DataFrame, path: String, appId: String,
                       batchId: Long,
                       partitionCols: Seq[String] = Nil,
                       writerOptions: Map[String, String] = Map.empty,
                       evolveSchema: Boolean = false,
                       bucketArrange: Boolean = false): Int = {
    require(appId.matches("[A-Za-z0-9_.\\-]+"),
      s"appId must be [A-Za-z0-9_.-]+, got '$appId'")
    val fsys = fs(df.sparkSession, path)
    // cheap pre-check skips the data write entirely on a clean replay;
    // the in-claim re-check makes the guard race-exact
    if (txnMaxBatch(fsys, path, appId).exists(_ >= batchId))
      manifestNumbers(fsys, path).max
    else graft.Caches.scoped {
      val filled = fillDerived(df, path)
      appendGate(filled, path, "append", evolveSchema)
      val v = writeCommit(filled, path, partitionCols, "append",
        writerOptions = writerOptions, scope = NoReads,
        txn = Some((appId, batchId)),
        bucketArrange = bucketArrange) {
        (prev, newFiles) => prev ++ newFiles }
      maybeAutoCompact(df.sparkSession, path)
      v
    }
  }

  /** Partition-level upsert with snapshot isolation: partitions present
    * in `df` are replaced, all others carry forward BY MANIFEST REFERENCE
    * (their files are not read, rewritten, or even listed individually —
    * the commit cost is O(patch), and the delta manifest names only the
    * replaced and replacing files). Readers on the previous version keep
    * a complete consistent table; the swap is the manifest write.
    */
  def upsertPartitions(df0: DataFrame, path: String, partitionCol: String,
                       writerOptions: Map[String, String] = Map.empty,
                       evolveSchema: Boolean = false): Int =
      graft.Caches.scoped {
    val df = fillDerived(df0, path)
    // schema drift gates exactly like append (a replaced partition is
    // still ingest): loud by default, widening only on the opt-in
    appendGate(df, path, "upsert", evolveSchema)
    // a concurrent add into a replaced partition conflicts (rule 2) and
    // the upsert REPLANS internally — the plan is declarative (cheap base
    // recompute), so a streaming partition-upsert pipeline survives
    // benign concurrent appends like merge does; a lost attempt's data
    // dir is an orphan the vacuum grace sweep reclaims
    replanOnConflict("upsert", path) {
      // declarative partition replace: reads no existing file, so its only
      // conflict is a concurrent ADD into a replaced partition (rule 2 —
      // the recomputed resolve would silently drop that add)
      val (baseV, baseFiles) = planBase(df.sparkSession, path)
      // write with the table's FULL layout: on a multi-level table a
      // single-level rewrite would mix layouts under the indexed scan
      val layout = layoutPartitionCols(df.sparkSession, path)
      val writeCols = if (layout.nonEmpty) layout else Seq(partitionCol)
      require(writeCols.contains(partitionCol),
        s"$partitionCol is not a partition level of $path " +
          s"(layout: ${writeCols.mkString(", ")})")
      writeCommit(df, path, writeCols, "upsert",
        writerOptions = writerOptions,
        bucketArrange = true,
        scope = FileSet(baseV, baseFiles, Set.empty, None)) {
        (prev, newFiles) =>
        val touched = newFiles.flatMap(partitionSegment(_, partitionCol)).toSet
        require(newFiles.forall(partitionSegment(_, partitionCol).isDefined),
          s"upsert data files missing $partitionCol=... path segment")
        prev.filterNot(f =>
          partitionSegment(f, partitionCol).exists(touched)) ++ newFiles
      }
    }
  }

  /** The latest committed (version, resolved files) a mutating verb
    * plans against — (-1, empty) for a not-yet-created table.
    */
  private def planBase(spark: SparkSession, path: String)
      : (Int, Seq[String]) = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) (-1, Seq.empty)
    else (vs.max, resolveFiles(fsys, path, vs.max))
  }

  /** Row-level MERGE (upsert by key): rows of `df` whose key exists in
    * the table replace those rows; the rest are inserts. The rewrite is
    * FILE-PRUNED, the Delta-style two-phase shape:
    *
    *  1. find the files that contain any batch key — a scan of the KEY
    *     COLUMN only (column-pruned), zone-map-bounded by the batch's
    *     [min, max] key (row groups outside the batch key range are
    *     skipped via parquet stats — pass [[bloomOptions]] on the key at
    *     write time to sharpen this to membership), semi-joined against
    *     the batch keys, collecting just distinct file names;
    *  2. rewrite ONLY those files (their non-matched rows ∪ the batch)
    *     into a fresh commit — every untouched file carries forward by
    *     manifest reference, exactly like a partition upsert.
    *
    * Cost: one key-column scan of the current version plus a rewrite of
    * O(files containing matched keys) — never a full-table rewrite. A
    * clustered key (OPTIMIZE ZORDER, or naturally sorted ingest) keeps
    * the touched set small; a batch whose keys spray uniformly across a
    * million files degrades to a large rewrite, which is what partition
    * upsert is for. The two phases commit optimistically: if a
    * concurrent commit invalidates the touched-file plan (removed a
    * planned file, or added one that could contain a batch key), the
    * merge REPLANS from the new base and retries — disjoint-file
    * concurrent writers never collide. Duplicate keys within `df` are
    * the caller's bug (both rows land). A batch whose column set drifts
    * from the table's fails loud unless `evolveSchema` — then new batch
    * columns read null for pre-evolution rows and a batch-omitted
    * column nulls in replaced rows (full-row upsert; use [[mergeWhen]]
    * for partial updates). Returns the committed version.
    */
  def merge(df: DataFrame, path: String, keyCol: String,
            partitionCols: Seq[String] = Nil,
            writerOptions: Map[String, String] = Map.empty,
            evolveSchema: Boolean = false): Int =
    replanOnConflict("merge", path) {
      val spark = df.sparkSession
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path — commit() first")
        val cur = resolveFiles(fsys, path, prevVs.max)
        // the batch keys drive three plans (bounds, touched-file semi
        // join, rewrite anti join) — stage once, scope-released
        // schema evolution is OPT-IN: a drifted batch schema is a
        // caller bug (a typo'd column silently becoming a new table
        // column) unless evolveSchema says otherwise — then a new
        // batch column reads null for old rows and a batch-omitted
        // column nulls in REPLACED rows (merge is full-row upsert;
        // partial update is mergeWhen's job). Gated on the CURRENT
        // schema (footer metadata) so even a pure-insert batch
        // can't slip a drifted schema in.
        val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
        if (cur.nonEmpty)
          evolutionGate("merge", evolveSchema,
            declaredColsAt(fsys, path, prevVs.max).getOrElse(
              logicalFields(spark, path, cur, cmap, drops).map(_.name)),
            df.columns)
        // NO distinct: duplicate keys are the caller's bug by contract,
        // and the semi/anti joins below ignore duplicate build rows —
        // a distinct here only added a full batch shuffle per merge
        // (per MICRO-BATCH on the streaming path). Staging a narrow
        // projection pins one evaluation for all three plans.
        val keys = graft.Caches.stage(df.select(keyCol))
        // the key scan runs in PHYSICAL space (stats sidecars and
        // footers carry physical names); the rewrite reads logical
        val pKey = physicalOf(cmap, keyCol)
        val pKeys = keys.toDF(pKey)
        touchedFiles(spark, path, cur, pKeys, pKey, probeKeys(pKeys)) match {
          case None => prevVs.max // empty batch: no-op
          case Some((touched, bounds, inList)) =>
            val merged =
              if (touched.isEmpty) df
              else keySurvivors(
                  readEntries(spark, path, cur.filter(touched), cmap, drops),
                  keyCol, keys, inList)
                .unionByName(df, allowMissingColumns = evolveSchema)
            rewriteCommit(merged, path, partitionCols, "merge",
              writerOptions, FileSet(prevVs.max, cur, touched,
                // all-null-key batch = pure insert, keyless: no
                // concurrent add can collide with it (predicate column
                // is PHYSICAL — conflict checks judge file stats)
                if (bounds._1 == null) None
                else Some((pKey, bounds._1, bounds._2))))
        }
      }
    }

  /** MERGE with conditional clauses — the full lakehouse statement
    * shape on top of [[merge]]'s file-pruned two-phase rewrite:
    *
    * {{{
    *   WHEN MATCHED AND <deleteWhen>  THEN DELETE            -- first
    *   WHEN MATCHED [AND <updateWhen>] THEN UPDATE SET <updateCols>
    *   WHEN NOT MATCHED               THEN INSERT            -- if insert
    * }}}
    *
    * Conditions are SQL expressions over aliases `s` (source row) and
    * `t` (target row), e.g. `"s.n_chars > t.n_chars"`. `updateCols`
    * restricts the update to those columns (partial update — the rest
    * of the target row is untouched); None updates every source column.
    * `updateExprs` is the general assignment form the SQL `MERGE`
    * statement needs — `(targetCol, sqlExpr)` pairs where the
    * expression ranges over both aliases (`"t.n_chars + s.n_chars"`);
    * when given it supersedes `updateCols`, and each value is cast to
    * the target column's type (ANSI store-assignment shape) so the
    * table schema never drifts under an update.
    * A matched row satisfying neither clause carries unchanged; an
    * inserted row missing target columns inserts them as null. Same
    * cost shape, concurrency (replan on conflict) and duplicate-key
    * contract as [[merge]]. A slim source (subset of target columns) is
    * the normal partial-update shape; a source column the table LACKS
    * fails loud unless `evolveSchema` — then it joins the table (update
    * rows take the source value, untouched rows read null). Returns the
    * committed version (unchanged
    * when the source is empty or nothing matched with `insert` off and
    * no clause fired — an empty rewrite still commits: file-granular
    * CDC needs the version).
    */
  def mergeWhen(source: DataFrame, path: String, keyCol: String,
                updateWhen: Option[String] = None,
                updateCols: Option[Seq[String]] = None,
                deleteWhen: Option[String] = None,
                insert: Boolean = true,
                partitionCols: Seq[String] = Nil,
                writerOptions: Map[String, String] = Map.empty,
                evolveSchema: Boolean = false,
                updateExprs: Option[Seq[(String, String)]] = None,
                dv: Boolean = false): Int = {
    updateCols.foreach(cs => require(cs.forall(source.columns.contains),
      s"updateCols not in source: " +
        cs.filterNot(source.columns.contains).mkString(",")))
    val assigns: Option[Seq[(String, String)]] =
      updateExprs.orElse(updateCols.map(_.map(c => c -> s"s.`$c`")))
    mergeClauses(source, path, keyCol,
      matched = deleteWhen.map(w => MatchedDelete(Some(w))).toSeq :+
        MatchedUpdate(updateWhen, assigns),
      notMatched = if (insert) Seq(MergeInsert(None, None)) else Seq.empty,
      bySource = Seq.empty,
      partitionCols = partitionCols, writerOptions = writerOptions,
      evolveSchema = evolveSchema, dv = dv)
  }

  /** One `WHEN MATCHED` clause of [[mergeClauses]] — conditions and
    * assignment values are SQL over aliases `t` (target row) and `s`
    * (source row). [[MatchedUpdate]] with `assignments = None` is
    * `UPDATE SET *` (every source column).
    */
  sealed trait MergeMatched { def condition: Option[String] }
  case class MatchedUpdate(condition: Option[String],
                           assignments: Option[Seq[(String, String)]])
      extends MergeMatched
  case class MatchedDelete(condition: Option[String]) extends MergeMatched

  /** One `WHEN NOT MATCHED [AND c] THEN INSERT` clause — condition and
    * values range over alias `s` only (there is no target row).
    * `assignments = None` is `INSERT *`; otherwise unassigned target
    * columns insert as null.
    */
  case class MergeInsert(condition: Option[String],
                         assignments: Option[Seq[(String, String)]])

  /** One `WHEN NOT MATCHED BY SOURCE` clause — conditions and values
    * range over BARE target column names (no source row exists for
    * these target rows).
    */
  sealed trait MergeBySource { def condition: Option[String] }
  case class BySourceUpdate(condition: Option[String],
                            assignments: Seq[(String, String)])
      extends MergeBySource
  case class BySourceDelete(condition: Option[String]) extends MergeBySource

  /** The FULL SQL `MERGE` statement shape — ordered clause lists with
    * first-match-wins semantics per row (the ANSI/Delta contract):
    *
    * {{{
    *   WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE      (ordered)
    *   WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES ... | INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE ... | DELETE
    * }}}
    *
    * For each matched (target row, source row) pair the FIRST matched
    * clause whose condition holds fires; a pair satisfying none carries
    * the target row unchanged. Each unmatched source row fires the
    * first insert clause whose condition holds (or is dropped); each
    * target row with no source key fires the first BY SOURCE clause
    * whose condition holds (or carries unchanged). Every assigned value
    * is cast to the target column's type (store assignment — the
    * schema never drifts under a merge).
    *
    * Scale shape: [[merge]]'s file-pruned two-phase rewrite. Matched
    * clauses touch only files containing source keys (zone-map-bounded
    * key scan); BY SOURCE clauses touch only files holding a row that
    * is NOT source-keyed AND satisfies some clause condition — planned
    * through the indexed scan ([[GraftScan]]), so stats and hive
    * partition pruning bound the sweep (the unconditional
    * sync-a-snapshot form legitimately visits every file holding an
    * unmatched row: that IS its semantics). Everything untouched
    * travels by manifest reference. Concurrency contract is
    * [[merge]]'s: replan on conflict, key-bounds conflict predicate,
    * concurrent blind appends never conflict. Returns the committed
    * version — unchanged when the statement provably changes nothing
    * (empty source with no BY SOURCE clause; no touched file and no
    * insert clause); a touched-but-empty rewrite still commits
    * (file-granular CDC needs the version).
    */
  def mergeClauses(source: DataFrame, path: String, keyCol: String,
                   matched: Seq[MergeMatched] = Seq.empty,
                   notMatched: Seq[MergeInsert] = Seq.empty,
                   bySource: Seq[MergeBySource] = Seq.empty,
                   partitionCols: Seq[String] = Nil,
                   writerOptions: Map[String, String] = Map.empty,
                   evolveSchema: Boolean = false,
                   dv: Boolean = false,
                   txn: Option[(String, Long)] = None): Int =
    replanOnConflict("merge_when", path) {
      val spark = source.sparkSession
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path — commit() first")
        val cur = resolveFiles(fsys, path, prevVs.max)
        // a SLIM source (subset of target columns) is the normal
        // partial-update shape; a NEW source column is evolution and
        // must be opted into — gated on the current schema so even a
        // nothing-matched pure-insert source can't drift the table.
        // The gate only matters when a STAR clause (UPDATE SET * /
        // INSERT *) could pull source columns into the table: with
        // every assignment explicit, an extra source column is just a
        // condition/value input (the SQL MERGE contract — a source
        // relation is an arbitrary query) and can never drift the
        // schema, because the output frame is built from the table's
        // columns alone.
        // identity columns are minted on the INGEST path only — a MERGE
        // insert clause that would silently null-fill one fails loud
        // (nulls in an identity column are corruption, not a default)
        val idCols = identityOf(fsys, path).keySet
        if (idCols.nonEmpty) notMatched.foreach { ins =>
          val assigned = ins.assignments match {
            case Some(as) => as.map(_._1).toSet
            case None => source.columns.toSet // INSERT *
          }
          idCols.filterNot(assigned).foreach { c =>
            throw new IllegalArgumentException(
              s"MERGE INSERT would null-fill IDENTITY column $c — " +
                "supply it in the source / assignments, or ingest new " +
                "rows through append/INSERT INTO (which mint values)")
          }
        }
        val starClause =
          matched.exists {
            case MatchedUpdate(_, None) => true; case _ => false } ||
            notMatched.exists(_.assignments.isEmpty)
        val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
        if (cur.nonEmpty && (starClause || evolveSchema))
          evolutionGate("merge_when", evolveSchema,
            declaredColsAt(fsys, path, prevVs.max).getOrElse(
              logicalFields(spark, path, cur, cmap, drops).map(_.name)),
            source.columns,
            allowSlim = true)
        // materialize the source ONCE (r19, the Delta-style merge-source
        // materialization): the key-bounds probe, the touched-file key
        // scan, the survivors join and the insert anti-join each
        // evaluate the source plan — for callers whose source is a
        // change-feed aggregation (MV maintenance) or a streaming
        // micro-batch that was 3-4 recomputations of the whole chain
        // per merge. Merge sources are batch-sized by the verb's
        // contract; the cache is scope-released with this merge.
        val src = graft.Caches.stage(source)
        // no distinct (duplicate source keys are the caller's bug by
        // the merge contract, and semi/anti joins ignore duplicate
        // build rows) — a distinct added a full source shuffle per
        // merge, per micro-batch on the streaming path
        val keys = src.select(keyCol)
        val pKey = physicalOf(cmap, keyCol)
        val pKeys = keys.toDF(pKey)
        val (srcEmpty, touchedM, bounds) =
          touchedFiles(spark, path, cur, pKeys, pKey, probeKeys(pKeys)) match {
            case None => (true, Set.empty[String], (null: Any, null: Any))
            case Some((t, b, _)) => (false, t, b)
          }
        // an EMPTY source still matters to BY SOURCE clauses (sync-to-
        // empty = process every target row); without them it's a no-op
        if (srcEmpty && bySource.isEmpty) prevVs.max
        else {
          // phase 1b: files holding a row that is NOT source-keyed and
          // satisfies some BY SOURCE condition — through the indexed
          // scan, so a stats- or partition-boundable condition prunes
          val touchedB: Set[String] =
            if (bySource.isEmpty || cur.isEmpty) Set.empty
            else {
              val orCond = bySource.map(_.condition).foldLeft(lit(false)) {
                (acc, c) => acc || c.map(expr).getOrElse(lit(true))
              }
              // file name attached at the scan projection (before the
              // anti join — input_file_name needs a single source)
              val scan = GraftScan.read(spark, path, prevVs.max)
                .filter(orCond)
                .select(col(keyCol), input_file_name().as("__f"))
              entriesOf(cur, countFiles(
                (if (srcEmpty) scan
                 else scan.join(keys, Seq(keyCol), "left_anti"))
                  .select("__f"))._2)
            }
          val touched = touchedM ++ touchedB
          if (touched.isEmpty && notMatched.isEmpty) prevVs.max
          else {
            val scope = FileSet(prevVs.max, cur, touched,
              if (bounds._1 == null) None
              else Some((pKey, bounds._1, bounds._2)))
            // merge-on-read: affected rows become a deletion vector +
            // appended images/inserts — zero base-file rewrites. None =
            // past the vector cap or under evolution — fall through to
            // the rewrite branch.
            if (dv && touched.nonEmpty)
              mergeDv(path, src, keyCol, matched, notMatched, bySource,
                scope, partitionCols, writerOptions, txn, evolveSchema)
                .foreach(v => return v)
            rewriteCommit(mergeRewrite(spark, path, src, keyCol,
                matched, notMatched, bySource, cur, touched, cmap, drops,
                evolveSchema),
              path, partitionCols, "merge_when", writerOptions, scope, txn)
          }
        }
      }
    }

  /** Re-qualify a BY SOURCE clause's BARE column refs to the `t` alias
    * of the merge join (parse → transform → render; already-qualified
    * refs pass through).
    */
  private def qualifyT(spark: SparkSession, sql: String): String =
    org.apache.spark.sql.graft.SqlBridge.sessionParser(spark)
      .parseExpression(sql).transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq("t", a.nameParts.head))
      }.sql

  /** The single-pass clause rewrite over the touched files: one
    * left-outer join target×source, per-row first-match-wins cascades
    * (nested `when` in clause order) deciding survival and each output
    * column, plus the anti-joined insert rows. Runs entirely inside
    * whole-stage codegen — the cascades are plain conditional
    * expressions, never per-clause scans.
    */
  private def mergeRewrite(spark: SparkSession, path: String,
                           source: DataFrame, keyCol: String,
                           matched: Seq[MergeMatched],
                           notMatched: Seq[MergeInsert],
                           bySource: Seq[MergeBySource],
                           cur: Seq[String], touched: Set[String],
                           cmap: Seq[(String, String)],
                           drops: Seq[String],
                           evolveSchema: Boolean): DataFrame = {
    val srcCols = source.columns.toSeq
    // the table's column/type frame (schema only — no data read beyond
    // footers, dir-schema-cached); an empty table inserts source-shaped
    val tblSchema: Seq[(String, org.apache.spark.sql.types.DataType)] =
      if (cur.isEmpty) Seq.empty
      else logicalFields(spark, path, cur, cmap, drops)
        .map(f => f.name -> f.dataType)
    val tblCols = tblSchema.map(_._1)
    // under evolution (opt-in), brand-new source columns join the
    // output; otherwise they are condition/value inputs only and the
    // output frame is built from the table's columns alone
    val newCols =
      if (evolveSchema) srcCols.filterNot(tblCols.contains)
      else Seq.empty[String]
    val outCols = if (cur.isEmpty) srcCols else tblCols ++ newCols
    val outType: Map[String, org.apache.spark.sql.types.DataType] =
      (tblSchema ++ newCols.map(c => c -> source.schema(c).dataType)).toMap
    matched.foreach {
      case MatchedUpdate(_, Some(as)) =>
        require(as.forall(a => outCols.contains(a._1)),
          "MERGE UPDATE assigns to non-table column(s): " +
            as.map(_._1).filterNot(outCols.contains).mkString(","))
      case _ => ()
    }
    (notMatched.flatMap(_.assignments).flatten ++
      bySource.collect { case BySourceUpdate(_, as) => as }.flatten)
      .foreach { case (c, _) =>
        require(outCols.contains(c),
          s"MERGE INSERT/UPDATE assigns to non-table column: $c") }

    val tgtTouched: Option[DataFrame] =
      if (touched.isEmpty) None
      else Some(readEntries(spark, path, cur.filter(touched), cmap, drops))

    val survivors: Option[DataFrame] =
      tgtTouched.map { tgt =>
        val casc = mergeCascades(spark, matched, bySource, srcCols,
          tgt.columns.toSeq, keyCol, outType)
        val joined = tgt.alias("t").join(source.alias("s"),
          col(s"t.`$keyCol`") === col(s"s.`$keyCol`"), "left_outer")
        joined.filter(!casc.del)
          .select(outCols.map(c => casc.out(c).as(c)): _*)
      }

    val inserts: Option[DataFrame] = mergeInserts(source, notMatched,
      tgtTouched.map(_.select(keyCol)), keyCol, srcCols, outCols, outType)

    (survivors, inserts) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => // touched empty, no inserts — unreachable
        source.limit(0)
    }
  }

  /** The per-row first-match-wins clause cascades of a merge, as plain
    * conditional expressions over the `t` (target) × `s` (source)
    * left-outer join — shared by the rewrite branch ([[mergeRewrite]])
    * and the merge-on-read branch ([[mergeDv]]), so the two can never
    * disagree on clause semantics. `del` = the first firing clause
    * deletes the row; `fires` = SOME clause fires for the row (matched
    * rows judge the MATCHED list, unmatched target rows the BY SOURCE
    * list); `out(c)` = the row's post-merge value of column `c`. All
    * cascades stay inside whole-stage codegen.
    */
  private case class MergeCascades(
      isM: org.apache.spark.sql.Column,
      del: org.apache.spark.sql.Column,
      fires: org.apache.spark.sql.Column,
      out: String => org.apache.spark.sql.Column)

  private def mergeCascades(spark: SparkSession,
                            matched: Seq[MergeMatched],
                            bySource: Seq[MergeBySource],
                            srcCols: Seq[String], tgtCols: Seq[String],
                            keyCol: String,
                            outType: Map[String, org.apache.spark.sql.types.DataType])
      : MergeCascades = {
    def tOr(c: String): org.apache.spark.sql.Column =
      if (tgtCols.contains(c)) col(s"t.`$c`")
      else lit(null).cast(outType(c))
    val isM = col(s"s.`$keyCol`").isNotNull
    def cc(c: Option[String]): org.apache.spark.sql.Column =
      c.map(expr).getOrElse(lit(true))
    // first-firing-clause cascades (a null condition falls through
    // to the next clause — SQL clause semantics)
    val delM = matched.foldRight(lit(false)) { (cl, rest) =>
      when(cc(cl.condition), lit(cl.isInstanceOf[MatchedDelete]))
        .otherwise(rest)
    }
    val delB = bySource.foldRight(lit(false)) { (cl, rest) =>
      when(cc(cl.condition.map(qualifyT(spark, _))),
        lit(cl.isInstanceOf[BySourceDelete])).otherwise(rest)
    }
    val anyM = matched.foldRight(lit(false)) { (cl, rest) =>
      when(cc(cl.condition), lit(true)).otherwise(rest)
    }
    val anyB = bySource.foldRight(lit(false)) { (cl, rest) =>
      when(cc(cl.condition.map(qualifyT(spark, _))), lit(true))
        .otherwise(rest)
    }
    def valM(c: String): org.apache.spark.sql.Column =
      matched.foldRight(tOr(c)) { (cl, rest) =>
        cl match {
          case MatchedDelete(cond) =>
            when(cc(cond), tOr(c)).otherwise(rest) // filtered anyway
          case MatchedUpdate(cond, as) =>
            val v = as match {
              case Some(pairs) => pairs.find(_._1 == c)
                .map(p => expr(p._2).cast(outType(c))).getOrElse(tOr(c))
              case None => // UPDATE SET *
                if (srcCols.contains(c))
                  col(s"s.`$c`").cast(outType(c))
                else tOr(c)
            }
            when(cc(cond), v).otherwise(rest)
        }
      }
    def valB(c: String): org.apache.spark.sql.Column =
      bySource.foldRight(tOr(c)) { (cl, rest) =>
        cl match {
          case BySourceDelete(cond) =>
            when(cc(cond.map(qualifyT(spark, _))), tOr(c))
              .otherwise(rest)
          case BySourceUpdate(cond, as) =>
            val v = as.find(_._1 == c)
              .map(p => expr(qualifyT(spark, p._2)).cast(outType(c)))
              .getOrElse(tOr(c))
            when(cc(cond.map(qualifyT(spark, _))), v).otherwise(rest)
        }
      }
    MergeCascades(isM,
      del = when(isM, delM).otherwise(delB),
      fires = when(isM, anyM).otherwise(anyB),
      out = c => when(isM, valM(c)).otherwise(valB(c)))
  }

  /** The anti-joined insert rows of a merge (None when the statement
    * has no insert clause). `existingKeys` is the touched slice's key
    * column: every source key present in the table lives in a touched
    * file (touchedFiles finds ALL key-bearing files), so the anti join
    * against the touched slice alone is exact.
    */
  private def mergeInserts(source: DataFrame,
                           notMatched: Seq[MergeInsert],
                           existingKeys: Option[DataFrame],
                           keyCol: String, srcCols: Seq[String],
                           outCols: Seq[String],
                           outType: Map[String, org.apache.spark.sql.types.DataType])
      : Option[DataFrame] =
    if (notMatched.isEmpty) None
    else {
      val srcNew = existingKeys match {
        case None => source
        case Some(keys) => source.join(keys, Seq(keyCol), "left_anti")
      }
      val s = srcNew.alias("s")
      def cc(c: Option[String]): org.apache.spark.sql.Column =
        c.map(expr).getOrElse(lit(true))
      val anyFire = notMatched.foldRight(lit(false)) { (cl, rest) =>
        when(cc(cl.condition), lit(true)).otherwise(rest)
      }
      def insVal(c: String): org.apache.spark.sql.Column =
        notMatched.foldRight(lit(null).cast(outType(c))) { (cl, rest) =>
          val v = cl.assignments match {
            case Some(pairs) => pairs.find(_._1 == c)
              .map(p => expr(p._2).cast(outType(c)))
              .getOrElse(lit(null).cast(outType(c)))
            case None => // INSERT *
              if (srcCols.contains(c)) col(s"s.`$c`").cast(outType(c))
              else lit(null).cast(outType(c))
          }
          when(cc(cl.condition), v).otherwise(rest)
        }
      Some(s.filter(anyFire)
        .select(outCols.map(c => insVal(c).as(c)): _*))
    }

  /** The merge-on-read branch of [[mergeClauses]]: the affected target
    * rows' positions (every matched or by-source row whose first firing
    * clause is an UPDATE or DELETE) commit as a deletion vector, the
    * UPDATED rows' post-merge images and the NOT MATCHED inserts land
    * as fresh data files, all in ONE atomic manifest swap — ZERO base
    * data files rewritten: an upsert touching 100 rows spread over 100
    * one-GB files costs O(100 rows), not 100 GB. The position scan is
    * subset to the touched files at the FILE INDEX (never a post-scan
    * filter) and applies prior vectors, so an already-deleted row can
    * never re-match. Clause semantics come from the SAME cascades as
    * the rewrite branch ([[mergeCascades]]). CDC replays the commit
    * position-exactly: vectored rows as deletes, images/inserts as
    * inserts — the update_dv contract.
    *
    * None (caller falls back to the rewrite branch) when the source
    * evolves the schema (image files must carry the full post-merge
    * schema; rewrite owns evolution) or under [[vectorCommit]]'s
    * DV-vs-rewrite policy. Returns `Some(baseV)` — no commit — when
    * NOTHING changes (no clause fires and no insert row).
    */
  private def mergeDv(path: String, source: DataFrame, keyCol: String,
                      matched: Seq[MergeMatched],
                      notMatched: Seq[MergeInsert],
                      bySource: Seq[MergeBySource],
                      scope: FileSet, partitionCols: Seq[String],
                      writerOptions: Map[String, String],
                      txn: Option[(String, Long)],
                      evolveSchema: Boolean): Option[Int] = {
    val spark = source.sparkSession
    val srcCols = source.columns.toSeq
    val tagged = GraftScan.readTagged(spark, path, scope.baseV,
      Some(scope.removed.map(baseOf)))
    val tblCols = tagged.columns.toSeq
      .filterNot(Set("__gfile", "__gpos"))
    // schema EVOLUTION = image files need the post-merge superset
    // schema; the rewrite branch owns that shape. A mere extra source
    // column without the opt-in is a condition/value input only — the
    // images are built from the table's columns alone, so it's fine.
    if (evolveSchema && srcCols.exists(!tblCols.contains(_))) return None
    val outType: Map[String, org.apache.spark.sql.types.DataType] =
      tblCols.map(c => c -> tagged.schema(c).dataType).toMap
    val casc = mergeCascades(spark, matched, bySource, srcCols,
      tblCols, keyCol, outType)
    val joined = tagged.alias("t").join(source.alias("s"),
      col(s"t.`$keyCol`") === col(s"s.`$keyCol`"), "left_outer")
    val aff = joined.filter(casc.fires).select(
      col("t.`__gfile`").as("__gfile") +:
        col("t.`__gpos`").as("__gpos") +:
        casc.del.as("__gdel") +:
        tblCols.map(c => casc.out(c).as(c)): _*)
    vectorCommit(aff, path, "merge_dv", scope, partitionCols,
      writerOptions, txn) { (staged, _) =>
      val images = staged.filter(!col("__gdel"))
        .select(tblCols.map(col): _*)
      val inserts = mergeInserts(source, notMatched,
        Some(tagged.select(keyCol)), keyCol, srcCols, tblCols, outType)
      val newData = graft.Caches.stage(inserts match {
        case Some(ins) => images.unionByName(ins)
        case None => images
      })
      if (newData.count() == 0L) None else Some(newData)
    }
  }

  /** Fail loud on a batch whose column set drifted from the target's —
    * unless the caller opted into schema evolution. Catches the typo'd
    * column name BEFORE it silently becomes a new table column (or a
    * silently-dropped value) deep inside a union error.
    */
  private def evolutionGate(what: String, evolve: Boolean,
                            target: => Seq[String], source: Seq[String],
                            allowSlim: Boolean = false): Unit =
    if (!evolve) {
      val tgt = target
      val extra = source.filterNot(tgt.contains)
      val missing =
        if (allowSlim) Nil else tgt.filterNot(source.contains)
      require(extra.isEmpty && missing.isEmpty,
        s"$what batch schema drifted from the table's: " +
          (if (extra.nonEmpty) s"new column(s) ${extra.mkString(", ")}; "
           else "") +
          (if (missing.nonEmpty) s"missing column(s) ${missing.mkString(", ")}; "
           else "") +
          "pass evolveSchema = true to evolve the table instead")
    }

  /** Run `body` (a plan + optimistic commit), replanning from scratch
    * when a concurrent commit invalidated it — bounded, then loud.
    */
  private def replanOnConflict(what: String, path: String,
                               attempts: Int = 5)(body: => Int): Int = {
    var left = attempts
    while (true) {
      try return body
      catch { case e: ConcurrentCommitException =>
        left -= 1
        if (left <= 0) throw new ConcurrentCommitException(
          s"$what at $path lost $attempts consecutive conflict checks " +
            s"to concurrent commits; last: ${e.getMessage}")
        logWarning(s"$what at $path replanning after conflict: " +
          e.getMessage)
      }
    }
    -1 // unreachable
  }

  /** Row-level delete by key: rewrite ONLY the files containing the keys
    * (their surviving rows), carrying every other file forward by
    * manifest reference — [[merge]]'s file-pruned two-phase shape with an
    * empty insert set. The right-to-be-forgotten verb at 100 TB: cost is
    * one key-column scan plus O(files containing the keys) rewritten.
    * Snapshots before the delete keep the rows until [[vacuum]]. Returns
    * the committed version (unchanged when no key matched).
    *
    * `dv = true` switches to MERGE-ON-READ: the matched rows' positions
    * commit as a deletion vector (zero data files written — the
    * right-to-be-forgotten point delete at 100 TB costs O(matched
    * keys), not a file rewrite); the key scan is still zone-map-bounded
    * by the batch's [min, max] through the indexed snapshot. See
    * [[vectorCommit]] for when it rewrites instead.
    */
  def deleteRows(ids: DataFrame, path: String, keyCol: String,
                 partitionCols: Seq[String] = Nil,
                 writerOptions: Map[String, String] = Map.empty,
                 dv: Boolean = false): Int =
    replanOnConflict("delete_rows", path) {
      val spark = ids.sparkSession
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path")
        val cur = resolveFiles(fsys, path, prevVs.max)
        val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
        // no distinct: every downstream use is a semi/anti join, which
        // ignores duplicate build rows — duplicate delete ids are
        // semantically free and not worth a full shuffle to dedup
        val keys = graft.Caches.stage(ids.select(keyCol))
        // one probe serves both branches: the DV hit scan and, past the
        // vector cap, the rewrite's touched-file scan
        val probe = probeKeys(keys)
        if (dv) {
          val (lo, hi) = probe.bounds
          if (probe.rows == 0L || lo == null)
            return prevVs.max // empty / all-null keys match nothing
          val scan = GraftScan.readTagged(spark, path, prevVs.max)
            .filter(col(keyCol).between(lit(lo), lit(hi)))
          // None = past the vector cap — fall through to the rewrite
          vectorCommit(keyHits(scan, keyCol, keys, probe.inList)
              .select("__gfile", "__gpos"),
            path, "delete_dv", FileSet(prevVs.max, cur, Set.empty, None))(
            (_, _) => None)
            .foreach(v => return v)
        }
        val pKey = physicalOf(cmap, keyCol)
        touchedFiles(spark, path, cur, keys.toDF(pKey), pKey, probe) match {
          case None => prevVs.max                  // empty key set
          case Some((touched, _, _)) if touched.isEmpty =>
            prevVs.max // no match
          case Some((touched, bounds, inList)) =>
            rewriteCommit(keySurvivors(
                readEntries(spark, path, cur.filter(touched), cmap, drops),
                keyCol, keys, inList),
              path, partitionCols, "delete_rows", writerOptions,
              FileSet(prevVs.max, cur, touched,
                Some((pKey, bounds._1, bounds._2))))
        }
      }
    }

  /** Row-level delete by PREDICATE — the `DELETE FROM t WHERE ...`
    * verb. Phase 1 plans the touched-file scan through the indexed
    * snapshot relation ([[GraftScan]]), so a predicate the stats
    * sidecars or hive partition values can bound never even lists the
    * other files; phase 2 rewrites ONLY the files that contain a
    * matching row (their surviving rows — rows where the predicate is
    * FALSE or NULL, SQL DELETE semantics), carrying every other file
    * forward by manifest reference. `where = None` is `DELETE FROM t`:
    * a METADATA-ONLY commit dropping every file (zero bytes rewritten;
    * prior snapshots keep the rows until [[vacuum]]). Concurrency is
    * first-committer-wins at file granularity; like Delta's
    * WriteSerializable default, a concurrent blind append does not
    * conflict with a predicate delete (its rows were never read).
    * Returns the committed version (unchanged when nothing matched).
    *
    * `dv = true` switches to MERGE-ON-READ (the deletion-vector
    * section's contract): instead of rewriting the touched files, the
    * matched rows' positions are written to a `_dv/` sidecar and the
    * touched manifest entries are re-tagged `@dv=...` in a
    * metadata-only commit — ZERO data files written, cost O(matched
    * positions), the 100 TB point-delete shape. Reads, CDC and
    * maintenance apply/fold the vector transparently. A touched file
    * that already carries a vector gets a new sidecar holding the
    * union of positions. See [[vectorCommit]] for when it rewrites
    * instead.
    */
  def deleteWhere(spark: SparkSession, path: String,
                  where: Option[String],
                  partitionCols: Seq[String] = Nil,
                  writerOptions: Map[String, String] = Map.empty,
                  dv: Boolean = false): Int =
    replanOnConflict("delete_where", path) {
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path")
        val cur = resolveFiles(fsys, path, prevVs.max)
        // merge-on-read attempt first: None = past the vector cap — fall
        // through to the file-pruned rewrite below
        if (dv && where.isDefined)
          vectorCommit(GraftScan.readTagged(spark, path, prevVs.max)
              .filter(expr(where.get)).select("__gfile", "__gpos"),
            path, "delete_dv", FileSet(prevVs.max, cur, Set.empty, None))(
            (_, _) => None)
            .foreach(v => return v)
        where match {
          case None =>
            // truncate: one manifest line set, no data read or written
            betweenPlanAndCommit()
            claimVersion(fsys, path, "delete_where",
              scope = FileSet(prevVs.max, cur, Set.empty, None),
              newFiles = Seq.empty, bytesWritten = 0L)(_ => Seq.empty)
          case Some(pred) =>
            val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
            val touched = filesMatching(spark, path, prevVs.max, cur, pred)
            if (touched.isEmpty) prevVs.max
            else rewriteCommit(
              readEntries(spark, path, cur.filter(touched), cmap, drops)
                .filter(!coalesce(expr(pred), lit(false))),
              path, partitionCols, "delete_where", writerOptions,
              FileSet(prevVs.max, cur, touched, None))
        }
      }
    }

  /** Deletion vectors are BROADCAST-SIZED by contract (every read
    * loads the version's positions): the most positions one
    * [[vectorCommit]] may vector, `spark.graft.dv.maxPositions`
    * (default 10 M).
    */
  private def dvMaxPositions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.maxPositions")
      .map(_.toLong).getOrElse(10000000L)

  /** The merge-on-read commit tail of every row-level verb, and the one
    * home of the DV-vs-rewrite POLICY. `hits` (the base version's live
    * rows to vector, carrying their `__gfile`/`__gpos` tags) is staged,
    * and one pass over it counts the hits and collects each touched
    * file's hit positions while the count is within [[dvMaxPositions]]
    * ([[hitPositions]]). A count past that cap is a bulk change wearing
    * the wrong shape: the tail logs a warning and returns None, and the
    * caller runs its file-pruned rewrite instead. Otherwise the
    * positions go to ONE `_dv/` sidecar written on the driver —
    * unioned with the touched entries' prior vectors, so a file carries
    * at most one vector per version — the touched manifest entries are
    * re-tagged `@dv=...`,
    * and the version commits in one manifest swap: metadata-only when
    * `newRows` yields nothing, else with those rows' fresh files.
    *
    * `newRows(stagedHits, count)` builds the rows the commit lands
    * (update images, merge images and inserts, a replace batch); None
    * means none. With zero hits and no new rows nothing changed and
    * nothing commits (`Some(baseV)`); zero hits with new rows is a plain
    * addition, recorded as `plainOp` when given. The claim's read scope
    * is `scope` plus the vectored entries, so a concurrent commit that
    * removed one of them invalidates the position plan. The version's
    * `history()` bytes are the sidecar's plus the new data files'.
    */
  private def vectorCommit(hits: DataFrame, path: String, op: String,
                           scope: FileSet,
                           partitionCols: Seq[String] = Nil,
                           writerOptions: Map[String, String] = Map.empty,
                           txn: Option[(String, Long)] = None,
                           plainOp: Option[String] = None)(
      newRows: (DataFrame, Long) => Option[DataFrame]): Option[Int] = {
    val spark = hits.sparkSession
    val fsys = fs(spark, path)
    val staged = graft.Caches.stage(hits)
    val cap = dvMaxPositions(spark)
    val (n, positions) = hitPositions(staged, cap)
    if (n > cap) {
      logWarning(s"$op at $path matched $n rows — past " +
        "spark.graft.dv.maxPositions, falling back to the file-pruned " +
        "rewrite")
      return None
    }
    val rows = newRows(staged, n)
    if (n == 0L && rows.isEmpty) return Some(scope.baseV)
    val (retag, dvBytes) =
      if (n == 0L) (Map.empty[String, String], 0L)
      else {
        // the sidecar stores MANIFEST base names, not the scan's form
        val vectored = entriesOf(scope.baseFiles, positions.keys)
        val (dvName, bytes) = writeDvSidecar(spark, fsys, path, vectored,
          positions.map { case (s, p) => manifestName(s) -> p })
        (vectored.map(e => e -> s"${baseOf(e)}@dv=$dvName").toMap, bytes)
      }
    val claimScope = scope.copy(removed = scope.removed ++ retag.keySet)
    val retagged = (prev: Seq[String]) => prev.map(e => retag.getOrElse(e, e))
    Some(rows match {
      case None =>
        betweenPlanAndCommit()
        claimVersion(fsys, path, op, claimScope, newFiles = Seq.empty,
          bytesWritten = dvBytes, txn = txn)(retagged)
      case Some(r) =>
        writeCommit(sizeRewrite(r, partitionCols, retag.keySet),
          path, partitionCols,
          if (n == 0L) plainOp.getOrElse(op) else op,
          writerOptions = writerOptions, scope = claimScope, txn = txn,
          bucketArrange = true, dvBytes = dvBytes) {
          (prev, newFiles) => retagged(prev) ++ newFiles
        }
    })
  }

  /** Write a fresh DV sidecar holding `hits` (manifest file name →
    * positions) UNIONED with the touched entries' prior vectors (at
    * most one DV reference per file per version — a new delete on an
    * already-DV'd file replaces its reference). The priors come from
    * [[dvPositions]]; the sidecar is one parquet file (`file` string,
    * `pos` long, sorted by file then position) written on the driver
    * with parquet-hadoop's writer — no Spark job — and seeds
    * [[DvCache]], so the commit's own reads never decode it. Returns
    * (sidecar name, bytes written).
    */
  private def writeDvSidecar(spark: SparkSession, fsys: FileSystem,
                             path: String, touched: Set[String],
                             hits: Map[String, Array[Long]]): (String, Long) = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val priors = dvPositions(spark, path, touched.toSeq)
    val none = Array.emptyLongArray
    val rows = (priors.keySet ++ hits.keySet).toSeq.sorted.map { f =>
      f -> sortedDistinct(priors.getOrElse(f, none) ++ hits.getOrElse(f, none))
    }
    val dvName = f"dv-${System.currentTimeMillis()}%x-" +
      f"${scala.util.Random.nextInt()}%08x"
    val part = new HPath(s"$path/_dv/$dvName/part-00000.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { required binary file (STRING); " +
        "required int64 pos; }")
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(part,
          spark.sparkContext.hadoopConfiguration))
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (f, ps) =>
      val file = org.apache.parquet.io.api.Binary.fromString(f)
      ps.foreach(p => writer.write(groups.newGroup()
        .append("file", file).append("pos", p)))
    } finally writer.close()
    val st = fsys.getFileStatus(part)
    DvCache.put(st, rows.toMap, dvMaxPositions(spark))
    (dvName, st.getLen)
  }

  /** Row-level update by PREDICATE — the `UPDATE t SET ... WHERE ...`
    * verb. `set` maps target columns to SQL expressions over the row's
    * own (pre-update) columns; each value is cast to the column's type
    * (store-assignment), so the schema never drifts. Same file-pruned
    * two-phase shape and concurrency contract as [[deleteWhere]]: only
    * files containing a matching row are rewritten (matching rows with
    * the assignments applied, the file's other rows byte-carried),
    * everything else travels by manifest reference. `where = None`
    * updates every row (full rewrite). Returns the committed version
    * (unchanged when nothing matched).
    *
    * `dv = true` (with a predicate) switches to MERGE-ON-READ: the
    * matched rows' positions commit as a deletion vector and ONLY the
    * updated rows are written as fresh files, one atomic commit — a
    * one-row update in a 1 GB file costs O(matched rows), never the
    * file rewrite, and CDC replays it as exact position-diff deletes
    * plus the new rows as inserts.
    */
  def updateWhere(spark: SparkSession, path: String,
                  set: Seq[(String, String)],
                  where: Option[String] = None,
                  partitionCols: Seq[String] = Nil,
                  writerOptions: Map[String, String] = Map.empty,
                  dv: Boolean = false): Int =
    replanOnConflict("update_where", path) {
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path")
        require(set.nonEmpty, "UPDATE needs at least one assignment")
        val cur = resolveFiles(fsys, path, prevVs.max)
        if (dv && where.isDefined)
          // None = past the vector cap — fall through to the rewrite
          updateWhereDv(spark, path, set, where.get,
            prevVs.max, cur, partitionCols, writerOptions)
            .foreach(v => return v)
        val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
        val touched = where match {
          case None => cur.toSet
          case Some(pred) => filesMatching(spark, path, prevVs.max, cur, pred)
        }
        if (touched.isEmpty) prevVs.max
        else {
          val tgt = readEntries(spark, path, cur.filter(touched), cmap, drops)
          val assign = set.toMap
          require(set.forall(a => tgt.columns.contains(a._1)),
            "UPDATE assigns to non-table column(s): " +
              set.map(_._1).filterNot(tgt.columns.contains).mkString(","))
          val hit = coalesce(expr(where.getOrElse("true")), lit(false))
          val rewritten = tgt.select(tgt.columns.toSeq.map { c =>
            (assign.get(c) match {
              case Some(e) =>
                when(hit, expr(e).cast(tgt.schema(c).dataType))
                  .otherwise(col(c))
              case None => col(c)
            }).as(c)
          }: _*)
          rewriteCommit(rewritten, path, partitionCols, "update_where",
            writerOptions, FileSet(prevVs.max, cur, touched, None))
        }
      }
    }

  /** The merge-on-read branch of [[updateWhere]]: the matched rows
    * (with their position tags) are the vector's hits, and their
    * UPDATED images land as fresh data files in the same commit
    * ([[vectorCommit]]), so readers flip from old rows to new in one
    * manifest swap. Assignments cast to the target column types (store
    * assignment) exactly like the rewrite branch; constraints gate the
    * updated rows post-write pre-claim.
    */
  private def updateWhereDv(spark: SparkSession, path: String,
                            set: Seq[(String, String)], pred: String,
                            baseV: Int, cur: Seq[String],
                            partitionCols: Seq[String],
                            writerOptions: Map[String, String])
      : Option[Int] =
    vectorCommit(GraftScan.readTagged(spark, path, baseV).filter(expr(pred)),
      path, "update_dv", FileSet(baseV, cur, Set.empty, None),
      partitionCols, writerOptions) { (hits, n) =>
      if (n == 0L) None
      else {
        val assign = set.toMap
        val dataCols = hits.columns.toSeq
          .filterNot(Set("__gfile", "__gpos"))
        require(set.forall(a => dataCols.contains(a._1)),
          "UPDATE assigns to non-table column(s): " +
            set.map(_._1).filterNot(dataCols.contains).mkString(","))
        Some(hits.select(dataCols.map { c =>
          (assign.get(c) match {
            case Some(e) => expr(e).cast(hits.schema(c).dataType)
            case None => col(c)
          }).as(c)
        }: _*))
      }
    }

  /** Predicate-scoped overwrite (the Delta `replaceWhere` shape): ONE
    * atomic commit that removes every current row matching `predicate`
    * and lands `df` in its place — the idempotent backfill verb
    * (`recompute partition X and swap it in`) generalized to arbitrary
    * predicates. Every `df` row must itself satisfy the predicate
    * (fail loud BEFORE any write — a backfill quietly leaking rows
    * outside its window corrupts neighboring windows on replay).
    *
    * Scale shape: when the predicate touches ONLY hive partition
    * columns, membership is decided from the path layout — zero data
    * bytes read, whole files dropped by manifest reference, cost
    * O(batch write). Otherwise phase 1 plans the touched-file scan
    * through the indexed snapshot (stats/partition pruning), and only
    * files holding a matching row are rewritten (their non-matching
    * survivors byte-carried). The table's own layout is preserved.
    * Concurrency: [[deleteWhere]]'s contract (file-granular
    * first-committer-wins; blind appends never conflict). Returns the
    * committed version.
    */
  def replaceWhere(df0: DataFrame, path: String, predicate: String,
                   writerOptions: Map[String, String] = Map.empty,
                   evolveSchema: Boolean = false,
                   dv: Boolean = false): Int =
    replanOnConflict("replace_where", path) {
      val spark = df0.sparkSession
      val fsys = fs(spark, path)
      graft.Caches.scoped {
        val prevVs = manifestNumbers(fsys, path)
        require(prevVs.nonEmpty, s"no versioned table at $path")
        val df = fillDerived(df0, path)
        appendGate(df, path, "replace_where", evolveSchema)
        val stray =
          df.filter(!coalesce(expr(predicate), lit(false))).head(1)
        require(stray.isEmpty,
          s"replaceWhere batch has row(s) OUTSIDE the predicate " +
            s"'$predicate' (e.g. ${stray.headOption.getOrElse("")}) — " +
            "a backfill must only write rows it is replacing")
        val cur = resolveFiles(fsys, path, prevVs.max)
        val layout = layoutPartitionCols(spark, path)
        val (cmap, drops) = schemaMetaAt(fsys, path, prevVs.max)
        val predCols = org.apache.spark.sql.graft.SqlBridge
          .sessionParser(spark).parseExpression(predicate).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.head
          }.distinct
        val partitionOnly = layout.nonEmpty && predCols.nonEmpty &&
          predCols.forall(c => layout.exists(_.equalsIgnoreCase(c)))
        val touched: Set[String] =
          if (cur.isEmpty) Set.empty
          else if (partitionOnly) {
            // decide membership from the path layout alone: build the
            // metadata-sized (file, partition values) frame and let the
            // predicate judge it — hive string values coerce under
            // Spark's implicit casts exactly like hive partitions do
            import org.apache.spark.sql.types.{StringType, StructField, StructType}
            val schema = StructType(StructField("__f", StringType) +:
              layout.map(c => StructField(c, StringType)))
            val rows = cur.map { f =>
              val segs = partitionValues(f).toMap
              org.apache.spark.sql.Row.fromSeq(f +: layout.map { c =>
                segs.get(physicalOf(cmap, c)).orNull
              })
            }
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(rows.asJava, schema)
              .filter(expr(predicate))
              .select("__f").collect().map(_.getString(0)).toSet
          } else filesMatching(spark, path, prevVs.max, cur, predicate)
        // merge-on-read: a DATA-predicate replace vectors the matched
        // positions and appends the batch — zero survivor rewrites (a
        // partition-only replace is already metadata-only whole-file
        // swaps, strictly better than leaving dead rows under a vector)
        if (dv && !partitionOnly && touched.nonEmpty)
          replaceWhereDv(df, path, predicate,
            prevVs.max, cur, touched, layout, writerOptions)
            .foreach(v => return v)
        val survivors =
          if (touched.isEmpty || partitionOnly) df
          else readEntries(spark, path, cur.filter(touched), cmap, drops)
            .filter(!coalesce(expr(predicate), lit(false)))
            .unionByName(df, allowMissingColumns = true)
        rewriteCommit(survivors, path, layout, "replace_where",
          writerOptions, FileSet(prevVs.max, cur, touched, None))
      }
    }

  /** The merge-on-read branch of [[replaceWhere]] for DATA predicates:
    * the matched rows' positions commit as a deletion vector and the
    * batch lands as fresh files in the SAME atomic manifest swap — the
    * touched files' surviving rows are never read or rewritten, so a
    * narrow backfill into wide files costs O(matched + batch), not a
    * rewrite of every touched file. CDC replays position-exact deletes
    * plus the batch as inserts. When the candidate `touched` files hold
    * no actually-matching row, no sidecar is written and the batch
    * lands as a plain `replace_where` addition (an empty batch is a full
    * no-op). None when [[vectorCommit]]'s policy sends the replace to
    * the caller's rewrite.
    */
  private[catalog] def replaceWhereDv(df: DataFrame, path: String,
                                      pred: String, baseV: Int,
                                      cur: Seq[String],
                                      touched: Set[String],
                                      layout: Seq[String],
                                      writerOptions: Map[String, String])
      : Option[Int] =
    vectorCommit(GraftScan.readTagged(df.sparkSession, path, baseV,
        Some(touched.map(baseOf)))
        .filter(expr(pred)).select("__gfile", "__gpos"),
      path, "replace_dv", FileSet(baseV, cur, touched, None), layout,
      writerOptions, plainOp = Some("replace_where")) { (_, _) =>
      val batch = graft.Caches.stage(df)
      if (batch.isEmpty) None else Some(batch)
    }

  /** A one-column key batch's probe summary: its row count, the
    * [min, max] of its non-null keys (nulls when every key is null) and,
    * for a small batch, its distinct non-null keys (see [[probeKeys]]).
    */
  private[catalog] case class KeyProbe(rows: Long, bounds: (Any, Any),
                                       inList: Option[Seq[Any]])

  /** The merge/delete key probe: ONE aggregation over the (staged,
    * one-column) key batch. Below [[mergeInListBytes]] it also collects
    * the distinct key set (collect_set, same single job), so the key
    * scan filters by an IN list pushed into the parquet scan instead of
    * broadcast-semi-joining the batch — the broadcast-build job and the
    * join probe disappear from every micro-batch merge/delete. The floor
    * is the optimizer's SIZE ESTIMATE of the batch, read before any job
    * runs; estimates err large, i.e. toward the join path. Past
    * [[mergeInListKeys]] distinct keys the literal set is dropped and
    * the bounds feed the join path unchanged. collect_set drops nulls —
    * matching the semi join, where a null key matches nothing. The
    * result depends only on the key values, not the column's name.
    */
  private[catalog] def probeKeys(keys: DataFrame): KeyProbe = {
    val k = keys.columns.head
    val inListEligible = inListSafe(keys.schema.head.dataType) &&
      keys.queryExecution.optimizedPlan.stats.sizeInBytes <=
        mergeInListBytes
    val r = (if (inListEligible)
               keys.agg(min(k), max(k), count(lit(1)), collect_set(k))
             else keys.agg(min(k), max(k), count(lit(1)))).head()
    val inList =
      if (inListEligible) Some(r.getSeq[Any](3)) else None
    KeyProbe(r.getLong(2), (r.get(0), r.get(1)),
      inList.filter(_.size <= mergeInListKeys))
  }

  /** Phase 1 of the file-pruned rewrite: the current files that contain
    * any batch key — a KEY-COLUMN-ONLY scan, zone-map-bounded by the
    * batch's [min, max] key, filtered by the probe's IN list or
    * semi-joined against the keys, collecting distinct file names
    * (O(touched) driver rows), returned WITH the batch key bounds (the
    * commit's conflict predicate) and the IN list. None = empty batch.
    */
  private def touchedFiles(spark: SparkSession, path: String,
                           cur: Seq[String], keys: DataFrame, keyCol: String,
                           probe: KeyProbe)
      : Option[(Set[String], (Any, Any), Option[Seq[Any]])] = {
    // empty batch = no-op; an all-NULL-key batch is NOT empty — null
    // keys match no existing row (SQL join semantics), so it touches no
    // file and merges as a pure insert, exactly like the null-keyed rows
    // of a mixed batch (consistent null-key semantics between the paths)
    if (probe.rows == 0L) None
    else if (probe.bounds._1 == null) Some((Set.empty, (null, null), None))
    else {
      val (lo, hi) = probe.bounds
      val inList = probe.inList
      // file-skip the scan itself: files whose harvested key range
      // cannot intersect the batch bounds never even open (zero-file
      // current versions fall out as an empty candidate set)
      val candidates = skipFiles(fs(spark, path), path, cur, keyCol, lo, hi)
      if (candidates.isEmpty) Some((Set.empty, (lo, hi), inList))
      else {
        val scan = readEntries(spark, path, candidates)
          .select(col(keyCol), input_file_name().as("__f"))
          .filter(col(keyCol).between(lit(lo), lit(hi)))
        Some((entriesOf(candidates, countFiles(
          keyHits(scan, keyCol, keys, inList).select("__f"))._2),
          (lo, hi), inList))
      }
    }
  }

  /** The rows of `rows` whose `keyCol` is in the key batch: filtered by
    * the probe's IN list when it collected one, else semi-joined
    * against `keys`.
    */
  private def keyHits(rows: DataFrame, keyCol: String, keys: DataFrame,
                      inList: Option[Seq[Any]]): DataFrame =
    inList match {
      case Some(ks) => rows.filter(col(keyCol).isin(ks: _*))
      case None => rows.join(keys, Seq(keyCol), "left_semi")
    }

  /** The complement of [[keyHits]]: the rows whose key is NOT in the
    * batch — the survivors of a keyed merge or delete. Null target keys
    * survive under both shapes (the anti join keeps null build-side
    * misses, isNull keeps them explicitly).
    */
  private def keySurvivors(rows: DataFrame, keyCol: String,
                           keys: DataFrame,
                           inList: Option[Seq[Any]]): DataFrame =
    inList match {
      case Some(ks) =>
        rows.filter(col(keyCol).isNull || !col(keyCol).isin(ks: _*))
      case None => rows.join(keys, Seq(keyCol), "left_anti")
    }

  /** The manifest entries of the files a predicate verb touches: those
    * of the base version holding a row that satisfies `pred`, found by
    * a scan planned through the indexed snapshot ([[GraftScan]]), so
    * stats and hive partition values prune it.
    */
  private def filesMatching(spark: SparkSession, path: String, baseV: Int,
                            cur: Seq[String], pred: String): Set[String] =
    entriesOf(cur, countFiles(
      GraftScan.read(spark, path, baseV).filter(expr(pred))
        .select(input_file_name().as("__f")))._2)

  /** The manifest entries of scanned data files: a scan names BASE data
    * files URI-encoded ([[manifestName]] decodes them), while a DV'd
    * file's manifest entry carries its `@dv=` suffix. A scanned file the
    * manifest does not hold fails loud — a silent miss would drop a
    * touched file from the commit.
    */
  private def entriesOf(cur: Seq[String],
                        files: Iterable[String]): Set[String] = {
    val entryOf = cur.map(e => baseOf(e) -> e).toMap
    files.map { f =>
      val b = manifestName(f)
      entryOf.getOrElse(b, throw new IllegalStateException(
        s"scanned file $f (manifest name $b) is not in the scanned version"))
    }.toSet
  }

  /** The IN-list fold only replaces the key join for ATOMIC,
    * non-binary key types: literal-set equality is bit-identical to
    * join equality there, while nested/binary keys keep the join
    * (collect_set's driver-side dedup uses object equality).
    */
  private def inListSafe(keyType: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    keyType match {
      case StringType | BooleanType | ByteType | ShortType |
           IntegerType | LongType | FloatType | DoubleType |
           DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** A one-string-column frame's row count and distinct values (FILE
    * NAMES: each task emits its row count and the handful of files it
    * read), in one pass and without the final-aggregation exchange a
    * `.distinct().collect()` plans — a per-partition distinct plus a
    * driver union does the same dedup minus one shuffle round.
    */
  private def countFiles(files: DataFrame): (Long, Set[String]) =
    files.rdd
      .mapPartitions { it =>
        var n = 0L
        val names = scala.collection.mutable.HashSet.empty[String]
        it.foreach { r => n += 1; names += r.getString(0) }
        Iterator((n, names.toSet))
      }
      .collect()
      .foldLeft((0L, Set.empty[String])) { case ((n, s), (m, t)) =>
        (n + m, s ++ t) }

  /** The row count of staged deletion-vector hits (`__gfile`,
    * `__gpos`) and, when it is within `cap`, each hit file's positions
    * (empty past it). One pass counts the rows, and each task also
    * sends back its positions while its own count is within its share
    * of the cap (`cap` over the task count), so no pass ever brings
    * more than `cap` positions to the driver. Only when the total is
    * within the cap but some task went past its share does a second
    * pass over the (cached) hits collect them all.
    */
  private def hitPositions(staged: DataFrame, cap: Long)
      : (Long, Map[String, Array[Long]]) = {
    val rdd = staged.select("__gfile", "__gpos").rdd
    // each task's count, and its positions while the count is <= upTo
    def pass(upTo: Long) = rdd.mapPartitions { it =>
      import scala.collection.mutable.{ArrayBuilder, HashMap}
      var n = 0L
      val byFile = HashMap.empty[String, ArrayBuilder.ofLong]
      it.foreach { r =>
        n += 1
        if (n <= upTo) byFile.getOrElseUpdate(r.getString(0),
          new ArrayBuilder.ofLong) += r.getLong(1)
        else if (byFile.nonEmpty) byFile.clear()
      }
      Iterator((n, if (n <= upTo)
        Some(byFile.map { case (f, b) => f -> b.result() }.toMap) else None))
    }.collect()
    val first = pass(math.max(1L, cap / math.max(1, rdd.getNumPartitions)))
    val n = first.map(_._1).sum
    val tasks =
      if (n > cap) Array.empty[(Long, Option[Map[String, Array[Long]]])]
      else if (first.forall(_._2.isDefined)) first
      else pass(Long.MaxValue)
    (n, tasks.flatMap(_._2.get).groupMapReduce(_._1)(_._2)(_ ++ _))
  }

  /** The rewrite commit tail of every row-level verb: land `rows` (the
    * touched files' survivors plus any new rows) as fresh files and, in
    * the same manifest swap, drop the touched entries (`scope.removed`);
    * every other file carries forward by reference.
    */
  private def rewriteCommit(rows: DataFrame, path: String,
                            partitionCols: Seq[String], op: String,
                            writerOptions: Map[String, String],
                            scope: FileSet,
                            txn: Option[(String, Long)] = None): Int =
    writeCommit(sizeRewrite(rows, partitionCols, scope.removed),
      path, partitionCols, op, writerOptions = writerOptions,
      scope = scope, txn = txn, bucketArrange = true) {
      (prev, newFiles) => prev.filterNot(scope.removed) ++ newFiles
    }

  /** Flat tables: size the rewrite to the touched file count (the anti
    * join's 32 shuffle partitions would scatter a 2-file rewrite into 32
    * tiny files); partitioned tables arrange in the shared write path.
    */
  private def sizeRewrite(df: DataFrame, partitionCols: Seq[String],
                          touched: Set[String]): DataFrame =
    // a pure-insert merge (nothing touched) keeps the batch's own
    // parallelism — repartition(1) would funnel a large insert through
    // one write task
    if (partitionCols.isEmpty && touched.nonEmpty)
      df.repartition(math.max(1, touched.size))
    else df

  private def nFilesFor(bytes: Long, targetFileBytes: Long): Int =
    math.max(1, (bytes / targetFileBytes).toInt +
      (if (bytes % targetFileBytes > 0) 1 else 0))

  /** Arrange `df` so a `partitionBy(c)` write emits ~ceil(bytes/target)
    * files PER PARTITION VALUE: per-value file counts derived from the
    * given per-file sizes (manifest metadata), broadcast onto the rows
    * as a salt — a 500 GB partition must not collapse into one file.
    * Explicit task count (AQE's partition coalescer would otherwise
    * merge the salted tasks back and undo the split — it respects
    * user-specified counts), range-partitioned so distinct (value, salt)
    * combos land in distinct tasks instead of hash-colliding; a sampling
    * merge of two combos makes one ~2×target file, and a value whose dir
    * name escapes differently (hive-escaped chars, null partitions)
    * misses the map and degrades to one file — sizing is layout, never
    * correctness.
    */
  private def sizeWithinPartitions(df: DataFrame, cols: Seq[String],
                                   fileBytes: Map[String, Long],
                                   targetFileBytes: Long): DataFrame = {
    val spark = df.sparkSession
    // multi-level layouts key on the full partition-value TUPLE
    // (NUL-joined — no legal partition value contains it)
    def fileKey(f: String): Option[String] = {
      val segs = cols.map(c =>
        partitionSegment(f, c).map(_.stripPrefix(c + "=")))
      if (segs.forall(_.isDefined)) Some(segs.flatten.mkString("\u0000"))
      else None
    }
    val nfByValue = fileBytes.toSeq
      .flatMap { case (f, b) => fileKey(f).map(_ -> b) }
      .groupBy(_._1)
      .map { case (v, fs) =>
        (v, nFilesFor(fs.map(_._2).sum, targetFileBytes)) }.toSeq
    val nfDf = spark.createDataFrame(nfByValue).toDF("__pv", "__nf")
    val dataCols = df.columns.map(col)
    val totalNf = math.max(1, nfByValue.map(_._2).sum)
    df.withColumn("__pv",
        concat_ws("\u0000", cols.map(c => col(c).cast("string")): _*))
      .join(broadcast(nfDf), Seq("__pv"), "left")
      .withColumn("__salt",
        pmod(hash(dataCols: _*), coalesce(col("__nf"), lit(1))))
      .drop("__pv", "__nf")
      .repartitionByRange(totalNf, cols.map(col) :+ col("__salt"): _*)
      .drop("__salt")
  }

  /** Metadata-only partition delete: drop whole partitions from the
    * table by committing a delta manifest that REMOVES their files — no
    * data is read, rewritten, or even touched (O(deleted partitions)
    * manifest lines, zero bytes of parquet). Snapshots before the delete
    * keep reading the dropped rows until [[vacuum]] reclaims them; the
    * removed rows surface as `delete` rows in [[tableChanges]]. Returns
    * the committed version.
    */
  def deletePartitions(spark: SparkSession, path: String,
                       partitionCol: String, values: Seq[String]): Int =
    replanOnConflict("delete_partitions", path) {
      val fsys = fs(spark, path)
      val (baseV, baseFiles) = planBase(spark, path)
      require(baseV >= 0, s"no versioned table at $path")
      val drop = values.map(partitionCol + "=" + _).toSet
      betweenPlanAndCommit()
      // reads nothing; a concurrent ADD into a dropped partition
      // conflicts (rule 2) and the metadata-only plan replays for free;
      // anything else rebases — a pure manifest commit
      claimVersion(fsys, path, "delete",
        scope = FileSet(baseV, baseFiles, Set.empty, None),
        newFiles = Seq.empty, bytesWritten = 0L) { prev =>
        prev.filterNot(f => partitionSegment(f, partitionCol).exists(drop))
      }
    }

  /** Read a snapshot: the latest version, or an exact historical one,
    * planned over the manifest's explicit file list through the
    * manifest-backed [[GraftFileIndex]] ([[GraftScan.read]]): hive
    * partition columns come back typed, and every Catalyst-pushed
    * predicate on the result prunes files through the hive partition
    * values and the stats sidecars at planning time — time travel costs
    * no pruning. Deletion vectors apply; column mapping (rename/drop)
    * and schema evolution resolve by [[snapshotFields]].
    */
  def read(spark: SparkSession, path: String,
           version: Int = -1): DataFrame =
    GraftScan.read(spark, path, version)

  /** The table's hive partition columns (LOGICAL names, layout order),
    * derived from the head snapshot's own manifest layout: EVERY
    * `name=value` segment of a resolved RELATIVE file path, translated
    * through the column mapping. Anchoring on manifest-relative paths
    * (never the absolute path) means an ancestor directory that
    * happens to look like a commit dir can never confuse the
    * inference. Nil for an unpartitioned (or empty) table.
    * Layout-preserving verbs (full OPTIMIZE, SQL
    * INSERT/UPDATE/DELETE/MERGE) use this so a rewrite keeps the
    * table's full multi-level partition pruning intact.
    */
  /** Process-wide layout cache keyed by the HEAD manifest's identity
    * (path, mtime, length — immutable once written, like
    * [[manifestTextCache]]): every SQL DML command and mutating verb
    * infers the layout, often several times per statement, and the
    * answer only changes when a new head commits. Bounded LRU.
    */
  private val layoutCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[String]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[String]]): Boolean =
        size() > 256
    }

  def layoutPartitionCols(spark: SparkSession, path: String): Seq[String] = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) return Nil
    def compute: Seq[String] = {
      val (cmap, _) = schemaMetaAt(fsys, path, vs.max)
      // rel = c-<nonce>/[pcol=v/...]part-*.parquet
      resolveFiles(fsys, path, vs.max).headOption.toSeq.flatMap(rel =>
        partitionValues(rel).map(pv => logicalOf(cmap, pv._1)))
    }
    val mp = new HPath(s"$path/_commits/v-${vs.max}")
    scala.util.Try(fsys.getFileStatus(mp)).toOption match {
      case None => compute
      case Some(st) =>
        val key = (mp.toString, st.getModificationTime, st.getLen)
        layoutCache.synchronized(Option(layoutCache.get(key))).getOrElse {
          val l = compute
          layoutCache.synchronized(layoutCache.put(key, l): Unit)
          l
        }
    }
  }

  /** Distinct partition tuples of the head snapshot as hive path
    * strings (`lang=en/bucket=1`, layout order, LOGICAL column names),
    * from manifest metadata alone — zero data bytes read, O(files)
    * driver work. Empty for an unpartitioned table. Backs
    * `SHOW PARTITIONS`.
    */
  def partitions(spark: SparkSession, path: String): Seq[String] = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    require(vs.nonEmpty, s"no versioned table at $path")
    val (cmap, _) = schemaMetaAt(fsys, path, vs.max)
    resolveFiles(fsys, path, vs.max)
      .map(_.split("/").drop(1).dropRight(1).filter(_.contains("="))
        .map { seg =>
          val p = seg.takeWhile(_ != '=')
          logicalOf(cmap, p) + seg.drop(p.length)
        }.mkString("/"))
      .filter(_.nonEmpty).distinct.sorted
  }

  /** The hive partition segments of a manifest entry (between commit
    * dir and file name) as (physical column, value): the value
    * unescaped, null for the default partition.
    */
  private def partitionValues(entry: String): Seq[(String, String)] =
    entry.split("/").drop(1).dropRight(1).filter(_.contains("=")).toSeq
      .map { seg =>
        val p = seg.takeWhile(_ != '=')
        val raw = seg.drop(p.length + 1)
        p -> (if (raw == "__HIVE_DEFAULT_PARTITION__") null
              else org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(raw))
      }

  /** Incremental consumption (CDC-lite): the rows ADDED between
    * `sinceVersion` and `toVersion` (default latest) — the files in the
    * target manifest that the base manifest lacks, nothing else read.
    * Appends surface exactly their batches; a partition upsert surfaces
    * the replaced partitions' full NEW contents. Deletions surface as
    * absence only — a follower that must see deleted rows explicitly
    * should use [[tableChanges]]. O(changed files) per poll, driven
    * entirely by manifest metadata.
    */
  def changes(spark: SparkSession, path: String, sinceVersion: Int,
              toVersion: Int = -1): DataFrame = {
    val (fsys, to) = changeWindow(spark, path, sinceVersion, toVersion)
    val (newLive, _) = walkChanges(fsys, path, sinceVersion, to)
    val (cmap, drops) = schemaMetaAt(fsys, path, to)
    if (newLive.isEmpty) spark.emptyDataFrame
    else readEntries(spark, path, newLive, cmap, drops,
      types = changeTypes(spark, fsys, path, to, newLive))
  }

  /** The commit ops that are DATA-IDENTICAL by construction — the
    * engine's `dataChange = false` (Delta's flag, expressed as op
    * names): a version carrying one of these rearranges bytes but
    * never adds or removes a live row, so every change consumer
    * treats it as INVISIBLE — a source table can be OPTIMIZEd,
    * compacted (incl. [[maybeAutoCompact]] behind ingest) or
    * DV-purged without streaming followers failing loud, duplicating
    * rows, or a materialized-view refresh replaying the whole table.
    */
  private val dataIdenticalOps = Set("optimize", "compact", "purge_dv")

  /** The op recorded for version `v` — from the ADVISORY `.info`
    * sidecar, so a crash-truncated sidecar degrades to "unknown",
    * which every caller treats as DATA-CHANGING (fail-safe: the worst
    * outcome is today's over-delivery, never a silently skipped row).
    */
  private def opAt(fsys: FileSystem, path: String, v: Int): String =
    commitInfo(fsys, path, v).fold("unknown")(_.op)

  /** One version's change set as its manifest records it: the entries
    * it added and removed, with its deletion-vector TRANSITIONS — a
    * base file whose vector changed, as (base file, old entry, new
    * entry) — split out of both sides ([[splitChanges]]).
    */
  private case class VersionEvents(v: Int, op: String,
                                   added: Seq[String], removed: Seq[String],
                                   trans: Seq[(String, String, String)])

  /** Split a file-set diff into plain additions, plain removals and
    * deletion-vector transitions (one base file on both sides: same
    * file, different vector).
    */
  private def splitChanges(added0: Seq[String], removed0: Seq[String])
      : (Seq[String], Seq[String], Seq[(String, String, String)]) = {
    val remB = removed0.map(e => baseOf(e) -> e).toMap
    val addB = added0.map(e => baseOf(e) -> e).toMap
    val trans = remB.keySet.intersect(addB.keySet)
    (added0.filterNot(e => trans(baseOf(e))),
      removed0.filterNot(e => trans(baseOf(e))),
      trans.toSeq.sorted.map(b => (b, remB(b), addB(b))))
  }

  /** THE incremental manifest walk behind every per-version change
    * reader: the events of each version in `(from, to]`, starting from
    * version `from`'s file set (empty for `from` = -1). A delta manifest
    * based on its predecessor applies in O(changed files); only another
    * manifest shape costs a resolve.
    */
  private def versionEvents(fsys: FileSystem, path: String,
                            from: Int, to: Int): Seq[VersionEvents] = {
    var files: Set[String] =
      if (from < 0) Set.empty else resolveFiles(fsys, path, from).toSet
    ((from + 1) to to).map { v =>
      val next: Set[String] = readManifest(fsys, path, v) match {
        case DeltaManifest(base, added, removed) if base == v - 1 =>
          files -- removed ++ added
        case _ => resolveFiles(fsys, path, v).toSet
      }
      val (added, removed, trans) =
        splitChanges((next -- files).toSeq.sorted, (files -- next).toSeq.sorted)
      files = next
      VersionEvents(v, opAt(fsys, path, v), added, removed, trans)
    }
  }

  /** The [[versionEvents]] consumer powering [[changes]] and
    * [[changeRemovals]]: classify each version of `(since, to]` as pure
    * maintenance ([[dataIdenticalOps]] whose removals all come from
    * files holding only already-delivered rows) or data-changing,
    * threading the delivered-rows equivalence through maintenance
    * rewrites. Returns (newLive, removedCount):
    *
    *  - `newLive`  — live files at `to` holding rows the window added
    *    (what an append-only follower ingests); a maintenance rewrite
    *    of already-delivered files never lands here, and a DV retag of
    *    a window-added file follows it (vector applied on read).
    *  - `removedCount` — removals by data-changing versions only (the
    *    append-only contract probe): an OPTIMIZE/compact/PURGE inside
    *    the window no longer trips the streaming source.
    *
    * A maintenance version whose removals are ALL window-added files
    * (an append and its compaction inside ONE window — the
    * [[maybeAutoCompact]] shape) stays a clean window: the rewrite
    * holds only not-yet-delivered rows, which deliver via the
    * compacted files. Only a MIXED maintenance rewrite (delivered and
    * pending rows folded into one output file) cannot be split at file
    * granularity — it degrades to data-changing (flagged removals,
    * `ignoreChanges` semantics). Per-version admission
    * (`maxVersionsPerTrigger = 1`) never hits that case.
    */
  private def walkChanges(fsys: FileSystem, path: String,
                          since: Int, to: Int): (Seq[String], Int) = {
    var equiv: Set[String] = resolveFiles(fsys, path, since).toSet
    var newLive = Set.empty[String]
    var removedCount = 0
    versionEvents(fsys, path, since, to).foreach { ev =>
      val add0 = ev.added ++ ev.trans.map(_._3)
      val rem0 = ev.removed ++ ev.trans.map(_._2)
      val maintenance = dataIdenticalOps.contains(ev.op)
      if (maintenance && rem0.forall(equiv)) {
        equiv = equiv -- rem0 ++ add0
      } else if (maintenance && rem0.forall(newLive)) {
        // maintenance over PURELY window-added files (an append and its
        // compaction inside one window — exactly maybeAutoCompact's
        // shape): the rewrite holds only not-yet-delivered rows, so the
        // window stays clean and delivers via the compacted files —
        // symmetric to the delivered-files case above, no counted
        // removals
        newLive = newLive -- rem0 ++ add0
      } else {
        removedCount += rem0.size
        // DV retag: the base file's surviving rows stay where they
        // were — delivered files stay delivered, window-added files
        // stay pending (the new vector applies on read)
        ev.trans.foreach { case (_, old, post) =>
          if (equiv(old)) equiv += post
          else if (newLive(old)) newLive += post
        }
        equiv = equiv -- rem0
        newLive = newLive -- rem0 ++ ev.added
      }
    }
    (newLive.toSeq.sorted, removedCount)
  }

  /** Full CDC between two versions: every row of every file the window
    * added tagged `_change_type = "insert"`, plus every row of every
    * file it removed tagged `"delete"` — so a follower needs no
    * reconcile pass against [[read]]. File-granular: a partition upsert
    * surfaces the replaced partition as delete rows (old contents) plus
    * insert rows (new contents); there is no update coalescing —
    * downstream MERGE semantics are delete-then-insert, which is exactly
    * what file-level change tracking can assert without re-diffing data.
    * Removed files remain readable for as long as [[vacuum]] retains the
    * base version — poll within the retention window.
    */
  def tableChanges(spark: SparkSession, path: String, sinceVersion: Int,
                   toVersion: Int = -1): DataFrame = {
    val (fsys, to) = changeWindow(spark, path, sinceVersion, toVersion)
    val base = resolveFiles(fsys, path, sinceVersion)
    val target = resolveFiles(fsys, path, to)
    // the window's NETTED diff; a deletion-vector transition surfaces as
    // its position diff ([[dvTransitionRows]]), never the whole file
    val (added, removed, trans) = splitChanges(
      target.filterNot(base.toSet), base.filterNot(target.toSet))
    // both change sides translate through the TO version's column map:
    // the follower consumes one coherent frame in current names, even
    // across a rename inside the window
    val (cmap, drops) = schemaMetaAt(fsys, path, to)
    lazy val types =
      changeTypes(spark, fsys, path, to, added ++ removed ++ trans.map(_._1))
    def tag(files: Seq[String], t: String): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readEntries(spark, path, files, cmap, drops, types)
        .withColumn("_change_type", lit(t)))
    (tag(added, "insert").toSeq ++ tag(removed, "delete") ++
      trans.flatMap(dvTransitionRows(spark, path, _, cmap, drops, types)))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
  }

  /** The change rows of one deletion-vector transition (base file, old
    * entry, new entry): exactly its POSITION DIFF — the rows the new
    * vector deletes (new − old positions) tagged `delete`, any rows it
    * resurrects (old − new, a restore) tagged `insert` — read from the
    * base file, never the whole file.
    */
  private def dvTransitionRows(spark: SparkSession, path: String,
                               t: (String, String, String),
                               cmap: Seq[(String, String)],
                               drops: Seq[String],
                               types: ChangeTypes): Seq[DataFrame] = {
    val (b, oldE, newE) = t
    def positions(e: String): Set[Long] =
      dvPositions(spark, path, Seq(e)).getOrElse(b, Array.empty[Long]).toSet
    val (oldPos, newPos) = (positions(oldE), positions(newE))
    Seq((newPos -- oldPos) -> "delete", (oldPos -- newPos) -> "insert")
      .collect { case (pos, change) if pos.nonEmpty =>
        dvSliceRows(spark, path, b, pos.toArray.sorted, cmap, drops, types)
          .withColumn("_change_type", lit(change))
      }
  }

  /** The rows of ONE base data file at the given positions — the
    * deletion-vector CDC slice: the file's tagged scan filtered by row
    * index, cast to the window's [[changeTypes]].
    */
  private def dvSliceRows(spark: SparkSession, path: String,
                          baseFile: String, pos: Array[Long],
                          cmap: Seq[(String, String)],
                          drops: Seq[String],
                          types: ChangeTypes): DataFrame = {
    val bc = spark.sparkContext.broadcast(pos)
    val hit = udf((idx: Long) =>
      java.util.Arrays.binarySearch(bc.value, idx) >= 0)
    readEntries(spark, path, Seq(baseFile), cmap, drops, types, tag = true)
      .filter(hit(col("__gpos"))).drop("__gfile", "__gpos")
  }

  /** The CHANGE FEED over a version window `[startVersion, endVersion]`
    * (both inclusive), with EXACT per-version replay: each version
    * contributes its own change set — every row of every file a version
    * added tagged `_change_type = "insert"`, every row of every file it
    * removed tagged `"delete"`, stamped `_commit_version` /
    * `_commit_ts_millis` (audit-grade, never netted; a row inserted and
    * deleted inside the window appears once per commit). Version 0's
    * "changes" are the initial snapshot. Metadata-only commits (rename,
    * same-files restore) contribute nothing; an all-metadata window
    * returns an EMPTY frame with the change-feed schema, never an error
    * (a poller reading consecutive windows hits those legitimately).
    *
    * Scale shape: ONE file-set diff walked incrementally across the
    * window ([[versionEvents]]), then one read per SCHEMA EPOCH —
    * versions sharing a column mapping — with the per-file (version,
    * change, ts) attribution joined on via a broadcast of the
    * metadata-sized event list. A 10 000-commit backfill reads each
    * involved base file exactly once per epoch.
    */
  def changeFeed(spark: SparkSession, path: String, startVersion: Int,
                 endVersion: Int = -1): DataFrame = {
    val fsys = fs(spark, path)
    val all = manifestNumbers(fsys, path)
    require(all.nonEmpty, s"no versioned table at $path")
    val head = all.max
    val end = if (endVersion >= 0) endVersion else head
    require(startVersion >= 0,
      s"startVersion must be >= 0, got $startVersion")
    require(end <= head,
      s"endingVersion $end exceeds latest version $head of $path")
    require(end >= startVersion,
      s"endingVersion $end < startingVersion $startVersion")
    val retained = all.toSet
    // exact replay of version v diffs v-1 against v: BOTH ends of the
    // window chain must still be retained — fail loud rather than
    // silently skip (the CDC contract)
    (math.max(0, startVersion - 1) to end).foreach { v =>
      require(retained.contains(v),
        s"version $v of $path is no longer retained — vacuum swept it; " +
          "start the change feed at a retained version")
    }
    val tsOf = history(spark, path)
      .select("version", "ts_millis").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def ts(v: Int): Long = tsOf.getOrElse(v, -1L)
    // per-version replay makes DATA-IDENTICAL maintenance exactly
    // invisible: every row of the v-1 state was already replayed under
    // its original file, and the rewrite adds/removes no live row —
    // emit NOTHING (Delta's dataChange=false contract). An OPTIMIZE
    // inside a follower's window never replays the table as churn.
    val events = versionEvents(fsys, path, startVersion - 1, end)
      .filterNot(e => dataIdenticalOps.contains(e.op))
      .map(e => schemaMetaAt(fsys, path, e.v) -> e)
    lazy val types = changeTypes(spark, fsys, path, end, events.flatMap {
      case (_, e) => e.added ++ e.removed ++ e.trans.map(_._1) })
    // whole-file events grouped by schema epoch (identical column
    // mapping + drop set), one scan each
    val epochs = events
      .filter { case (_, e) => e.added.nonEmpty || e.removed.nonEmpty }
      .groupBy(_._1).toSeq.sortBy(_._2.head._2.v)
      .map { case ((cmap, drops), evs) =>
        changeFeedEpoch(spark, path, cmap, drops, types,
          evs.flatMap { case (_, e) =>
            e.added.map((_, "insert", e.v, ts(e.v))) ++
              e.removed.map((_, "delete", e.v, ts(e.v)))
          })
      }
    val transitions = events.flatMap { case ((cmap, drops), e) =>
      e.trans.flatMap(dvTransitionRows(spark, path, _, cmap, drops, types))
        .map(_.withColumn("_commit_version", lit(e.v))
          .withColumn("_commit_ts_millis", lit(ts(e.v))))
    }
    (epochs ++ transitions)
      .reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse(
      read(spark, path, end).limit(0)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("int"))
        .withColumn("_commit_ts_millis", lit(null).cast("long")))
  }

  /** One schema epoch of [[changeFeed]]: ONE tagged read of the
    * epoch's distinct base files ([[readEntries]], cast to the
    * window's [[changeTypes]]), stamped by a join on the file key with
    * the metadata-sized event rows. An event of a vector-carrying entry
    * (a DV'd file added or fully removed inside the window) keeps only
    * the rows its OWN vector leaves live, judged per event row, so two
    * states of one base file never conflate.
    */
  private def changeFeedEpoch(spark: SparkSession, path: String,
                              cmap: Seq[(String, String)],
                              drops: Seq[String],
                              types: ChangeTypes,
                              evs: Seq[(String, String, Int, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    val scan = readEntries(spark, path, evs.map(e => baseOf(e._1)).distinct,
      cmap, drops, types, tag = true)
    val dvOf = evs.map(_._1).distinct.filter(e => dvSplit(e)._2.isDefined)
      .map(e => e -> dvPositions(spark, path, Seq(e))
        .getOrElse(baseOf(e), Array.empty[Long])).toMap
    val evSchema = StructType(Seq("__gfile", "__gentry", "_change_type")
        .map(StructField(_, StringType, nullable = false)) ++
      Seq(StructField("_commit_version", IntegerType, nullable = false),
        StructField("_commit_ts_millis", LongType, nullable = false)))
    val evRows = evs.map { case (e, ch, v, ts) =>
      org.apache.spark.sql.Row(scanForm(baseOf(e)), scanForm(e), ch, v, ts)
    }
    import scala.jdk.CollectionConverters._
    val joined = scan.join(
      broadcast(spark.createDataFrame(evRows.asJava, evSchema)), "__gfile")
    (if (dvOf.isEmpty) joined
     else joined.filter(dvKeep(spark, dvOf)(col("__gentry"), col("__gpos"))))
      .drop("__gfile", "__gentry", "__gpos")
  }

  /** How many files the window `(sinceVersion, toVersion]` REMOVED —
    * the metadata-only probe behind the streaming source's append-only
    * contract (a non-zero count means a merge/delete/optimize landed
    * inside the window, whose rows [[changes]] cannot faithfully
    * surface). Two manifest resolutions, no data read.
    */
  def changeRemovals(spark: SparkSession, path: String, sinceVersion: Int,
                     toVersion: Int = -1): Int = {
    val (fsys, to) = changeWindow(spark, path, sinceVersion, toVersion)
    walkChanges(fsys, path, sinceVersion, to)._2
  }

  private def changeWindow(spark: SparkSession, path: String,
                           sinceVersion: Int,
                           toVersion: Int): (FileSystem, Int) = {
    val fsys = fs(spark, path)
    val to = if (toVersion >= 0) toVersion else {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    require(sinceVersion <= to,
      s"changes() window is forward-only: since=$sinceVersion > to=$to")
    (fsys, to)
  }

  /** Per-commit-dir PHYSICAL schema cache. A commit dir is write-once
    * (every commit lands under a fresh nonce-named dir; nothing ever
    * adds files to an existing one), so its parquet schema is immutable
    * and one inference per dir per JVM suffices — every later read
    * ([[GraftScan]]) and [[snapshotFields]] take it from here without
    * opening a footer. A FULL-dir inference is keyed by the dir and
    * serves every subset of it; a subset's (a dir a DML left partly
    * live) is keyed by the dir plus a digest of exactly that subset
    * ([[subsetKey]]), so a partly-live dir infers once per live subset,
    * not once per read. First inference wins; like the first-seen type
    * pinning across commit groups, any per-subset partition-type wobble
    * is resolved once and stays consistent for the process. Bounded LRU.
    */
  private val dirSchemaCache =
    new java.util.LinkedHashMap[String,
      org.apache.spark.sql.types.StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.sql.types.StructType]): Boolean =
        size() > 2048
    }

  /** The PHYSICAL schema of one commit dir's group of an explicit file
    * set (manifest entries — any `@dv=` suffix is stripped to the base
    * data file), partition columns typed by Spark's partition inference
    * under the commit dir: from the cache, or by the one cold-dir
    * resolution (one footer read on the driver, partition values typed
    * from the paths; no Spark job), which seeds it.
    */
  private def dirSchema(spark: SparkSession, path: String, c: String,
                        groupFiles: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    val base = s"$path/data/$c"
    dirSchemaCache.synchronized(Option(dirSchemaCache.get(base))
        .orElse(Option(dirSchemaCache.get(subsetKey(base, groupFiles)))))
      .getOrElse {
        // the data schema from the one footer Spark's inference would
        // read (the first file by path), on the driver; the partition
        // columns from the paths — no Spark job either way
        val files = groupFiles.map(f => s"$path/data/${baseOf(f)}")
        val sch = spark.read.option("basePath", base)
          .schema(footerSchema(spark, new HPath(files.min)))
          .parquet(files: _*).schema
        // a subset's inference serves only that subset: its hive
        // partition TYPE inference can come out narrower than the whole
        // dir's (day=1 alone infers int; the dir may also hold day=x),
        // and a sticky narrow type would mis-parse the other values later
        val full = listFilesRec(fs(spark, path), base).size == groupFiles.size
        dirSchemaCache.synchronized(dirSchemaCache.put(
          if (full) base else subsetKey(base, groupFiles), sch): Unit)
        sch
      }
  }

  /** What `spark.read.parquet(file).schema` infers for one parquet
    * file, from its footer read on the driver (the inference runs a
    * Spark job): Spark's own footer rule — the row schema Spark stored
    * in the footer, else the parquet type conversion — made nullable,
    * as a file source's schema always is.
    */
  private[graft] def footerSchema(spark: SparkSession, file: HPath)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)).toNullable
  }

  /** The cache key of one subset of a commit dir: the dir plus a
    * SHA-256 of the subset's sorted base files (manifest entries, any
    * deletion-vector suffix stripped).
    */
  private def subsetKey(base: String, files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(baseOf).distinct.sorted
      .foreach(f => md.update((f + "\n").getBytes("UTF-8")))
    base + "#" + md.digest().map("%02x".format(_)).mkString
  }

  /** An explicit file set's commit-dir groups with each dir's PHYSICAL
    * schema ([[dirSchema]]), in COMMIT order (numeric: c-10 after c-2 —
    * first-seen resolution follows commits, not lexicographic accident).
    */
  private[catalog] def dirGroups(spark: SparkSession, path: String,
                                 files: Seq[String])
      : Seq[(org.apache.spark.sql.types.StructType, Seq[String])] =
    files.groupBy(_.split("/").head).toSeq
      .sortBy { case (d, _) => (dirSeq(d), d) }
      .map { case (c, fsOfCommit) =>
        dirSchema(spark, path, c, fsOfCommit) -> fsOfCommit }

  /** THE snapshot schema of an explicit file set, one rule for [[read]]
    * and every other [[GraftScan]] read, and every change reader: the
    * first-seen union of the commit dirs' PHYSICAL fields in commit
    * order — a column a commit lacks reads as null for its rows
    * (mergeSchema semantics) — with numeric types WIDENED across
    * commits ([[widenType]]: an int column later appended as long reads
    * long). Non-numeric type wobble keeps the first-seen type (per-group
    * partition-value inference could otherwise type `day=1` as int in a
    * patch commit and string in the base one). A version whose files all
    * predate a new column keeps its historical schema — time travel
    * travels the schema too. Each dir's schema comes from the write-once
    * dir-schema cache; a cold dir pays one inference (and seeds it).
    */
  private[catalog] def snapshotFields(spark: SparkSession, path: String,
                                      files: Seq[String])
      : Seq[org.apache.spark.sql.types.StructField] =
    unionFields(dirGroups(spark, path, files).map(_._1))

  /** The LOGICAL fields of an explicit file set — what [[read]] of it
    * would show: its [[snapshotFields]] with dropped storage hidden and
    * renames applied, no Dataset built.
    */
  private def logicalFields(spark: SparkSession, path: String,
                            files: Seq[String],
                            cmap: Seq[(String, String)],
                            drops: Seq[String])
      : Seq[org.apache.spark.sql.types.StructField] = {
    val live = cmap.filter { case (l, p) => l != p }
    snapshotFields(spark, path, files).filterNot(f => drops.contains(f.name))
      .map(f => live.find(_._2 == f.name)
        .fold(f)(lp => f.copy(name = lp._1)))
  }

  /** The head snapshot's LOGICAL schema (empty for an empty or
    * not-yet-created table), for the SQL layer's schema checks.
    */
  private[graft] def logicalSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) new org.apache.spark.sql.types.StructType()
    else {
      val (cmap, drops) = schemaMetaAt(fsys, path, vs.max)
      org.apache.spark.sql.types.StructType(logicalFields(spark, path,
        resolveFiles(fsys, path, vs.max), cmap, drops))
    }
  }

  /** The union of per-dir schemas in commit order, each disagreement
    * resolved by [[widenType]] — or, `lossless`, by the first of (that
    * widening, either side's type, string) both sides up-cast into, so
    * no value of either side is ever cast narrower.
    */
  private def unionFields(dirs: Seq[org.apache.spark.sql.types.StructType],
                          lossless: Boolean = false)
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.catalyst.expressions.Cast.canUpCast
    val m = scala.collection.mutable.LinkedHashMap[String,
      org.apache.spark.sql.types.StructField]()
    dirs.foreach(_.fields.foreach(f => m.get(f.name) match {
      case None => m += f.name -> f
      case Some(prev) =>
        val (a, b) = (prev.dataType, f.dataType)
        val w = widenType(a, b)
        val t = if (!lossless) w
          else Seq(w, b, a, org.apache.spark.sql.types.StringType)
            .find(t => canUpCast(a, t) && canUpCast(b, t)).getOrElse(w)
        m += f.name -> prev.copy(dataType = t)
    }))
    m.values.toSeq
  }

  /** A change window's column types by PHYSICAL name. */
  private type ChangeTypes = Map[String, org.apache.spark.sql.types.DataType]

  /** THE column types of a change window's frame, by physical name: the
    * types `read(path, to)` gives (the TO snapshot's [[snapshotFields]]),
    * met LOSSLESSLY ([[unionFields]]) with every type the window's own
    * `files` carry. A change row takes its TO snapshot's type unless
    * that type would narrow one of the window's values — a long column
    * a later full commit retyped int stays long, a string partition
    * value under later int partitions stays string. Every change reader
    * casts to these types where it reads, so one rule types a change
    * row. O(dirs of the TO snapshot) cache lookups.
    */
  private def changeTypes(spark: SparkSession, fsys: FileSystem,
                          path: String, to: Int,
                          files: Seq[String]): ChangeTypes =
    unionFields((dirGroups(spark, path, resolveFiles(fsys, path, to)) ++
      dirGroups(spark, path, files)).map(_._1), lossless = true)
      .map(f => f.name -> f.dataType).toMap

  /** Widest-type resolution for a column whose commits disagree on a
    * NUMERIC type — the published type-widening promotion chain
    * (byte < short < int < long; float < double; an integer family
    * meeting a float family promotes to double, so no long is ever
    * squeezed into a float): a version mixing an int-typed commit with
    * a later long-typed append reads as LONG, with the narrow groups
    * upcast losslessly. Without this, first-seen pinning CAST a wider
    * group DOWN — an overflow crash under ANSI, silent wrap-around
    * without. Non-numeric disagreements keep the first-seen type
    * (today's rule: casts are explicit and the partition-inference
    * wobble concern stays handled).
    *
    * CAVEAT (deliberate): a LONG meeting a FLOAT/DOUBLE promotes to
    * DOUBLE, so long values above 2^53 lose low-bit precision on read.
    * This matches Spark's own `TypeCoercion.findWiderTypeForTwo`
    * (SQL UNION / mergeSchema resolve Long+Double to Double the same
    * way) — keeping first-seen would instead fail-loud-cast doubles
    * into a long column, breaking the more common fractional-drift
    * case; a column that genuinely carries >2^53 identifiers should
    * never be float-typed in any commit (use decimal, whose meet with
    * floats deliberately stays fail-loud below).
    */
  private def widenType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def rank(d: DataType): Option[Int] = d match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case FloatType => Some(4)
      case DoubleType => Some(5)
      case _ => None
    }
    // an integral type seen as a decimal (its exact covering range) —
    // lets decimal-vs-integer pairs widen instead of down-casting
    def asDecimal(d: DataType): Option[DecimalType] = d match {
      case dt: DecimalType => Some(dt)
      case ByteType => Some(DecimalType(3, 0))
      case ShortType => Some(DecimalType(5, 0))
      case IntegerType => Some(DecimalType(10, 0))
      case LongType => Some(DecimalType(20, 0))
      case _ => None
    }
    // cover both decimal ranges; past the 38-digit cap, INTEGER digits
    // win and scale gives way (Spark's published DecimalPrecision
    // adjustment) — losing fractional precision beats overflowing
    // previously-readable integer values
    def widenDec(da: DecimalType, db: DecimalType): DecimalType = {
      val scale = math.max(da.scale, db.scale)
      val intDigits = math.max(da.precision - da.scale,
        db.precision - db.scale)
      if (intDigits + scale <= DecimalType.MAX_PRECISION)
        DecimalType(intDigits + scale, scale)
      else DecimalType(DecimalType.MAX_PRECISION,
        math.max(DecimalType.MAX_PRECISION - intDigits,
          math.min(scale, 6)))
    }
    if (a == b) a
    else (a, b) match {
      // decimal beside a float family deliberately KEEPS first-seen:
      // promoting to double reads a decimal-annotated INT32/64 parquet
      // column UNSCALED through the vectorized reader (12.34 -> 1234.0
      // — silent corruption, verified on Spark 4.1.2), so that mix
      // stays the pre-widening fail-loud shape instead
      case (da: DecimalType, _) =>
        asDecimal(b).map(widenDec(da, _)).getOrElse(a)
      case (_, db: DecimalType) =>
        asDecimal(a).map(widenDec(_, db)).getOrElse(a)
      case _ => (rank(a), rank(b)) match {
        case (Some(ra), Some(rb)) =>
          val hi = if (ra >= rb) a else b
          val loR = math.min(ra, rb)
          // float can hold no 64-bit integer and no double exactly:
          // cross-family meets promote to double
          if (hi == FloatType && loR <= 3) DoubleType else hi
        case _ => a
      }
    }
  }

  /** Byte sizes of manifest entries (DV suffixes stripped), via ONE
    * cached listing per contributing dir ([[GraftScan.listDirCached]],
    * write-once commit dirs) instead of one getFileStatus RPC per file
    * — the maintenance verbs' size probes are O(dirs), not O(files).
    */
  private def fileSizes(fsys: FileSystem, path: String,
                        entries: Seq[String]): Map[String, Long] = {
    val byDir = entries.groupBy(e => {
      val b = baseOf(e); b.take(b.lastIndexOf('/'))
    })
    def sizesOf(list: (FileSystem, String) => Seq[FileStatus])
        : Map[String, Long] =
      byDir.flatMap { case (dir, es) =>
        val len = list(fsys, s"$path/data/$dir")
          .map(st => st.getPath.getName -> st.getLen).toMap
        es.flatMap { e =>
          val b = baseOf(e)
          len.get(b.drop(b.lastIndexOf('/') + 1)).map(e -> _)
        }
      }
    val out0 = sizesOf(GraftScan.listDirCached)
    if (out0.size == entries.size) return out0
    // never judge ABSENCE from a cached listing (a positive hit is
    // always safe — dirs are write-once — but the cache may predate an
    // out-of-band sweep): re-list the dirs fresh, then LOUD on a
    // manifest-referenced file truly missing (a vacuum
    // misconfiguration's data loss) — a silent undercount would
    // mis-size rewrites and mask the corruption
    val out = sizesOf((f, d) => GraftScan.listDirFresh(f, d).toSeq)
    entries.find(!out.contains(_)).foreach { e =>
      throw new IllegalStateException(
        s"manifest-referenced data file missing on disk: $path/data/" +
          s"${baseOf(e)} — was vacuum run with a retention shorter " +
          "than this reader?")
    }
    out
  }

  /** [[GraftScan.plan]]'s frame of an explicit entry set under that
    * set's own [[snapshotFields]], a change reader's columns typed by its
    * window's [[changeTypes]]. `cmap` (logical → physical) translates the
    * result to LOGICAL names; omit it for physical-space internals (key
    * scans against stats/footers).
    */
  private def readEntries(spark: SparkSession, path: String,
                          entries: Seq[String],
                          cmap: Seq[(String, String)] = Seq.empty,
                          drops: Seq[String] = Seq.empty,
                          types: ChangeTypes = Map.empty,
                          tag: Boolean = false): DataFrame =
    GraftScan.plan(spark, path, entries, cmap, drops,
      snapshotFields(spark, path, entries).map(f =>
        f.copy(dataType = types.getOrElse(f.name, f.dataType))), tag, -1)._1

  /** Deep clone: byte-copy `version`'s (default latest) data files into
    * a FRESH table at `dst` and commit them as its v0. No recompute and
    * no Spark rewrite — parquet bytes move as-is, so file layout,
    * z-clustering, row-group stats and bloom filters all survive; the
    * dir-keyed stats sidecars and CHECK constraints are carried too, so
    * data skipping and quality gates work on the clone immediately. The
    * clone owns an independent commit log — the fork-a-100TB-table-for-
    * an-experiment verb: cost is O(live bytes at `version`) sequential
    * I/O with zero CPU recompute (copies run as a Spark job past the
    * same threshold as the stats harvest), and neither table's later
    * commits or vacuums ever touch the other. Returns the clone's
    * committed version (0).
    */
  def cloneTable(spark: SparkSession, src: String, dst: String,
                 version: Int = -1): Int = {
    val sfs = fs(spark, src)
    val vs = manifestNumbers(sfs, src)
    require(vs.nonEmpty, s"no versioned table at $src")
    val v = if (version >= 0) version else vs.max
    require(vs.contains(v),
      s"version $v not retained at $src (have ${vs.sorted.mkString(", ")})")
    val dfs = fs(spark, dst)
    require(manifestNumbers(dfs, dst).isEmpty,
      s"clone destination $dst already holds a table")
    // the clone target is a table CREATION — identity-guard the caches
    purgePathCaches(dfs, dst)
    // a data dir with NO manifest is a crashed earlier clone (nothing
    // can read it) — sweep it so the retry isn't permanently blocked
    if (dfs.exists(new HPath(s"$dst/data")))
      dfs.delete(new HPath(s"$dst/data"), true)
    val files = resolveFiles(sfs, src, v)
    val bases = files.map(baseOf)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes =
      if (bases.size <= statsDistributeThreshold)
        bases.map(copyFile(conf, s"$src/data", s"$dst/data", _)).sum
      else {
        val bconf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        val slices = math.min(bases.size,
          spark.sparkContext.defaultParallelism)
        try spark.sparkContext.parallelize(bases, slices)
          .map(copyFile(bconf.value.value, s"$src/data", s"$dst/data", _))
          .sum().toLong
        finally bconf.destroy()
      }
    // deletion-vector sidecars referenced by the cloned snapshot travel
    // with it (the manifest entries keep their @dv= suffixes)
    files.flatMap(e => dvSplit(e)._2).distinct.foreach { d =>
      org.apache.hadoop.fs.FileUtil.copy(sfs,
        new HPath(s"$src/_dv/$d"), dfs,
        new HPath(s"$dst/_dv/$d"), false, true, conf)
    }
    // carry the dir-keyed stats AND bucket-layout sidecars of every
    // contributing commit dir, and the table's constraints — the clone's
    // data skipping, quality gates and co-located-join claim all work
    // immediately (the bytes moved as-is, so the layout proof holds)
    files.map(_.split("/").head).distinct.foreach { d =>
      Seq(".stats", ".bucket").foreach { ext =>
        val s = new HPath(s"$src/_commits/$d$ext")
        if (sfs.exists(s))
          org.apache.hadoop.fs.FileUtil.copy(sfs, s, dfs,
            new HPath(s"$dst/_commits/$d$ext"), false, true, conf)
      }
    }
    // the bucket declaration travels too (without it the carried
    // layout sidecars prove a layout nothing declares)
    bucketingOf(sfs, src).foreach(d =>
      setBucketing(spark, dst, d.cols, d.n, d.sortCols))
    constraintsOf(sfs, src).foreach { case (n, e) =>
      val out = dfs.create(new HPath(s"$dst/_constraints/$n"), true)
      try out.write(e.getBytes("UTF-8")) finally out.close()
    }
    // identity declarations travel with the clone, AND so does the
    // high-water cursor — without it the clone's first identity-minting
    // append would restart at zero and DUPLICATE ids the cloned rows
    // already carry
    identityOf(sfs, src).foreach { case (c, (st, sp)) =>
      val out = dfs.create(new HPath(s"$dst/_identity/$c"), true)
      try out.write(s"$st $sp".getBytes("UTF-8")) finally out.close()
      val curDir = new HPath(s"$src/_commits/_idhw")
      val hw =
        if (!sfs.exists(curDir)) 0L
        else sfs.listStatus(curDir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(c + "-"))
          .flatMap(_.drop(c.length + 1).toLongOption)
          .maxOption.getOrElse(0L)
      if (hw > 0L) {
        dfs.mkdirs(new HPath(s"$dst/_commits/_idhw"))
        dfs.create(new HPath(s"$dst/_commits/_idhw/$c-$hw"), true).close()
      }
    }
    // generated-column declarations travel too (their enforcing CHECK
    // constraints are already carried above)
    generatedOf(sfs, src).foreach { case (c, e) =>
      val out = dfs.create(new HPath(s"$dst/_generated/$c"), true)
      try out.write(e.getBytes("UTF-8")) finally out.close()
    }
    // a materialized view's definition travels with the clone, and so
    // must its WATERMARK: the clone claims a fresh v0, so without the
    // source's txn marker a later refresh would fall back to the
    // definition's base version and DOUBLE-APPLY windows the cloned
    // data already reflects. The marker is resolved AT the cloned
    // version (the newest `#txn mv:<src>` line in manifests <= v) and
    // stamped into the clone's own v0 — refresh resumes exactly-once
    // from the fork point.
    val viewDef = new HPath(s"$src/_view/def.json")
    val viewTxn: Option[(String, Long)] =
      if (!sfs.exists(viewDef)) None
      else {
        org.apache.hadoop.fs.FileUtil.copy(sfs, viewDef, dfs,
          new HPath(s"$dst/_view/def.json"), false, true, conf)
        val in = sfs.open(viewDef)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        val app = s"mv:${MaterializedView.parseSrc(raw)}"
        val re = ("(?m)^#txn " +
          java.util.regex.Pattern.quote(app) + " (\\d+)$").r
        manifestNumbers(sfs, src).filter(_ <= v).sorted.reverse.iterator
          .map(n => re.findFirstMatchIn(manifestText(sfs, src, n))
            .map(_.group(1).toLong))
          .collectFirst { case Some(b) => (app, b) }
      }
    // the clone is born with the source version's column mapping, drop
    // set and declared schema
    val (smap, sdrops) = schemaMetaAt(sfs, src, v)
    claimVersion(dfs, dst, "clone", NoReads, files, bytes,
      txn = viewTxn,
      colMap = Some(smap), colDrops = Some(sdrops),
      schemaCols = Some(declaredColsAt(sfs, src, v)))(_ => files)
  }

  /** Adopt an existing plain-parquet tree (optionally hive-partitioned)
    * as a versioned table IN PLACE with ZERO bytes copied — the Delta
    * `CONVERT TO DELTA` verb: every data file is RENAMED (a metadata
    * operation on any real filesystem) into the manifest layout
    * (`data/c-0-<nonce>/<original relative path>`, so `k=v` dirs
    * survive as the table's hive layout) and committed as version 0.
    * The 100 TB adoption verb: converting a petabyte lake costs
    * O(files) filesystem metadata ops plus one distributed footer pass
    * for the stats sidecars (`harvestStats = false` skips even that —
    * skipping is advisory), never a byte of parquet I/O. Hidden files
    * (_SUCCESS, .crc, dotfiles) and non-parquet files are left where
    * they are, untouched. Fails loud on a tree mixing hive layouts or
    * an existing versioned table. Returns the committed version (0).
    */
  def convertToGraft(spark: SparkSession, path: String,
                     harvestStats: Boolean = true): Int = {
    val fsys = fs(spark, path)
    // the O(files) rename loop is not atomic: the MOVE PLAN (written
    // before the first rename) makes a crashed conversion detectable
    // and COMPLETABLE — a blind retry would re-list already-moved files
    // (under data/) and nest them beneath a second commit dir
    val planPath = new HPath(s"$path/_commits/.convert-plan")
    if (manifestNumbers(fsys, path).nonEmpty) {
      // a crash between the claim and the plan delete leaves a stale
      // plan beside a COMPLETED conversion — sweep it with the error
      if (fsys.exists(planPath)) fsys.delete(planPath, false): Unit
      throw new IllegalArgumentException(
        s"already a versioned table at $path")
    }
    // conversion is a table CREATION — identity-guard the caches
    purgePathCaches(fsys, path)
    val (dir, all) =
      if (fsys.exists(planPath)) {
        val in = fsys.open(planPath)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        finally in.close()
        logWarning(s"completing crashed CONVERT at $path " +
          s"(${lines.size - 1} planned file(s))")
        (lines.head, lines.tail)
      } else {
        val rootUri = fsys.makeQualified(new HPath(path)).toString
          .stripSuffix("/")
        val listed = listFilesRec(fsys, path).map { f =>
          require(f.startsWith(rootUri + "/"),
            s"listing outside the root: $f vs $rootUri")
          f.stripPrefix(rootUri + "/")
        }.filter(_.endsWith(".parquet"))
        require(listed.nonEmpty, s"no parquet files to convert under $path")
        // a PURE hive tree only: every intermediate dir must be a
        // `k=v` partition segment. A plain subdir (e.g. .../data/x.parquet)
        // would survive relativize's lastIndexOf("/data/") with a wrong
        // relative path, and DML touched-file resolution would silently
        // miss its files — fail loud instead.
        listed.foreach { rel =>
          rel.split("/").dropRight(1).find(!_.contains("=")).foreach { seg =>
            throw new IllegalArgumentException(
              s"CONVERT needs a pure hive tree: '$rel' nests under " +
                s"non-partition directory '$seg' (every intermediate " +
                "dir must be a k=v segment) — move the files to the " +
                "root or a hive layout first")
          }
        }
        // one hive layout across the tree: the tree becomes ONE commit
        // dir, and a dir's schema inference and relation assume one
        def layoutOf(rel: String): Seq[String] =
          rel.split("/").dropRight(1).filter(_.contains("="))
            .map(_.takeWhile(_ != '=')).toSeq
        val layout = layoutOf(listed.head)
        listed.find(f => layoutOf(f) != layout).foreach { f =>
          throw new IllegalArgumentException(
            s"CONVERT needs one hive layout under $path: '${listed.head}' " +
              s"lays out as ${layout.mkString("[", ",", "]")} but '$f' as " +
              s"${layoutOf(f).mkString("[", ",", "]")}")
        }
        val d = newDirName(fsys, path)
        val tmp = new HPath(s"$path/_commits/.convert-plan." +
          f"${scala.util.Random.nextInt(0x10000)}%04x.tmp")
        val out = fsys.create(tmp, false)
        try out.write((d +: listed).mkString("\n").getBytes("UTF-8"))
        finally out.close()
        require(fsys.rename(tmp, planPath),
          s"another CONVERT is in flight at $path (plan exists)")
        (d, listed)
      }
    val moved = all.map { rel =>
      val src = new HPath(s"$path/$rel")
      val dst = new HPath(s"$path/data/$dir/$rel")
      if (fsys.exists(src)) {
        fsys.mkdirs(dst.getParent)
        require(fsys.rename(src, dst), s"rename failed: $rel")
      } else require(fsys.exists(dst),
        s"CONVERT plan names a file that is at neither its source nor " +
          s"its destination: $rel")
      s"$dir/$rel"
    }
    val bytes = moved.map(f =>
      fsys.getFileStatus(new HPath(s"$path/data/$f")).getLen).sum
    if (harvestStats) writeFileStats(fsys, spark, path, dir, moved)
    val v = claimVersion(fsys, path, "convert", NoReads, moved, bytes)(
      _ => moved)
    fsys.delete(planPath, false)
    v
  }

  /** Copy one data file src→dst preserving its commit-dir path (the
    * stats sidecars are dir-keyed); static kernel, distributable.
    * Returns the bytes copied.
    */
  private def copyFile(conf: org.apache.hadoop.conf.Configuration,
                       srcRoot: String, dstRoot: String,
                       rel: String): Long = {
    val sp = new HPath(s"$srcRoot/$rel")
    val dp = new HPath(s"$dstRoot/$rel")
    val sfs = sp.getFileSystem(conf)
    val dfs = dp.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, true, conf)
    dfs.getFileStatus(dp).getLen
  }

  // ── column mapping (rename without rewrite) ─────────────────────────
  //
  // A rename is METADATA: data files keep the column's PHYSICAL name
  // (its name at birth) forever, and the manifest carries a
  // logical→physical map (`#colmap` lines, re-emitted by every commit)
  // that reads resolve through — the Delta column-mapping shape reduced
  // to its rename essentials. Writes translate logical→physical before
  // touching parquet, so stats sidecars, bloom filters and z-layouts
  // all keep working across a rename with ZERO bytes rewritten; reads
  // translate back after the scan. Historical versions carry their
  // historical maps: time travel across a rename shows the old name.

  /** Rename a column — a metadata-only commit (no data file is read,
    * written or moved; O(1) manifest bytes on top of the file list).
    * The rename applies to the table HEAD onward; earlier versions keep
    * the old name. Hive partition columns cannot be renamed (their name
    * is baked into every data file path — that rename IS a rewrite);
    * the new name must collide with no current logical column and no
    * retired physical name. Declares a whole-base read scope: any
    * commit racing the rename forces a replan, never a half-applied
    * schema. Returns the committed version.
    */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Int = {
    val fsys = fs(spark, path)
    replanOnConflict("rename_column", path) {
      val vs = manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      val head = vs.max
      val files = resolveFiles(fsys, path, head)
      val (cmap, drops) = schemaMetaAt(fsys, path, head)
      // the declared schema line answers in one (cached) manifest read;
      // only legacy tables fall back to the footer union
      val logicalCols = declaredColsAt(fsys, path, head).getOrElse(
        if (files.isEmpty) cmap.map(_._1)
        else logicalFields(spark, path, files, cmap, drops).map(_.name))
      require(logicalCols.contains(oldName),
        s"no column '$oldName' at $path (have ${logicalCols.mkString(", ")})")
      require(!logicalCols.contains(newName),
        s"column '$newName' already exists at $path")
      val physicalCols = logicalCols.map(physicalOf(cmap, _))
      require(!physicalCols.contains(newName) ||
          physicalOf(cmap, oldName) == newName,
        s"'$newName' is the retired physical name of another column — " +
          "renaming onto it would alias their storage")
      require(!drops.contains(newName),
        s"'$newName' is the storage name of a DROPPED column — pick " +
          "another name (old files still carry those bytes)")
      require(!files.exists(_.split("/").dropRight(1)
          .exists(_.startsWith(oldName + "="))),
        s"'$oldName' is a hive partition column: its name is part of " +
          "every data file path — rename requires a table rewrite")
      val p = physicalOf(cmap, oldName)
      val newMap = cmap.filterNot(_._1 == oldName) :+ (newName -> p)
      betweenPlanAndCommit()
      claimVersion(fsys, path, "rename_column", WholeBase(head),
        Seq.empty, 0L, colMap = Some(newMap),
        schemaCols = Some(declaredColsAt(fsys, path, head)
          .map(_.map(c => if (c == oldName) newName else c))))(_ => files)
    }
  }

  /** Drop a column — a metadata-only commit, the mirror of
    * [[renameColumn]]: no data file is read, written or moved; the
    * column's PHYSICAL storage is added to the manifest's drop set and
    * every read from this version on hides it. Historical versions keep
    * the column (time travel shows it); the bytes are reclaimed
    * incrementally as [[optimize]]/[[compactSmallFiles]] rewrite files
    * (their rewrites read the current — dropped-column-free — schema).
    * A LATER evolution may re-add the same logical name: it gets fresh
    * physical storage (`name__2`, minted at write), so old dropped
    * bytes can never bleed into the new column. Hive partition columns
    * cannot be dropped (path-encoded). Returns the committed version.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Int = {
    val fsys = fs(spark, path)
    replanOnConflict("drop_column", path) {
      val vs = manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      val head = vs.max
      val files = resolveFiles(fsys, path, head)
      val (cmap, drops) = schemaMetaAt(fsys, path, head)
      // declared-schema fast path, like renameColumn
      val logicalCols = declaredColsAt(fsys, path, head).getOrElse(
        if (files.isEmpty) cmap.map(_._1)
        else logicalFields(spark, path, files, cmap, drops).map(_.name))
      require(logicalCols.contains(name),
        s"no column '$name' at $path (have ${logicalCols.mkString(", ")})")
      require(logicalCols.size > 1,
        s"cannot drop the last column '$name' at $path")
      require(!files.exists(_.split("/").dropRight(1)
          .exists(_.startsWith(name + "="))),
        s"'$name' is a hive partition column: its name is part of " +
          "every data file path — drop requires a table rewrite")
      val p = physicalOf(cmap, name)
      betweenPlanAndCommit()
      claimVersion(fsys, path, "drop_column", WholeBase(head),
        Seq.empty, 0L,
        colMap = Some(cmap.filterNot(_._1 == name)),
        colDrops = Some(drops :+ p),
        schemaCols = Some(declaredColsAt(fsys, path, head)
          .map(_.filterNot(_ == name))))(_ => files)
    }
  }

  /** The PHYSICAL storage names retired by [[dropColumn]] as of
    * `version` (default latest) — diagnostic surface.
    */
  def droppedColumns(spark: SparkSession, path: String,
                     version: Int = -1): Seq[String] = {
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    schemaMetaAt(fsys, path, v)._2
  }

  /** The table's logical→physical column mapping at `version` (default
    * latest) — identity columns omitted, so an never-renamed table maps
    * empty.
    */
  def columnMapping(spark: SparkSession, path: String,
                    version: Int = -1): Map[String, String] = {
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    colMapAt(fsys, path, v).toMap
  }

  /** `#colmap` lines of version `v`'s manifest: (logical, physical)
    * pairs, empty for identity-mapped (never-renamed) tables.
    */
  private def colMapAt(fsys: FileSystem, path: String,
                       v: Int): Seq[(String, String)] =
    schemaMetaAt(fsys, path, v)._1

  /** Version `v`'s schema metadata in ONE manifest read: the
    * logical→physical column map (`#colmap` lines) and the dropped
    * PHYSICAL column set (`#coldrop` lines — storage names retired by
    * [[dropColumn]]; old files keep the bytes, reads hide them).
    */
  private[catalog] def schemaMetaAt(fsys: FileSystem, path: String,
                           v: Int): (Seq[(String, String)], Seq[String]) = {
    val lines = manifestText(fsys, path, v).split("\n").toSeq
    val cmap = lines.filter(_.startsWith("#colmap "))
      .flatMap { line =>
        line.drop("#colmap ".length).split("\t", -1) match {
          case Array(l, p) => Some((unesc(l), unesc(p)))
          case _ => None
        }
      }
    val drops = lines.filter(_.startsWith("#coldrop "))
      .map(line => unesc(line.drop("#coldrop ".length)))
    (cmap, drops)
  }

  /** The DECLARED logical column list of version `v` (`#schemacols`
    * manifest line), None for pre-declaration (legacy) manifests. May
    * be conservatively WIDER than the files' actual union — e.g. after
    * a partition delete removed a column's last carrier files — which
    * only ever makes the drift gate stricter, never wrong-on-read.
    */
  private def declaredColsAt(fsys: FileSystem, path: String,
                             v: Int): Option[Seq[String]] =
    manifestText(fsys, path, v).split("\n")
      .find(_.startsWith("#schemacols "))
      .map(_.drop("#schemacols ".length).split("\t", -1).toSeq.map(unesc))

  private[catalog] def physicalOf(cmap: Seq[(String, String)], logical: String): String =
    cmap.find(_._1 == logical).map(_._2).getOrElse(logical)

  private def logicalOf(cmap: Seq[(String, String)], physical: String): String =
    cmap.find(_._2 == physical).map(_._1).getOrElse(physical)

  /** Translate a LOGICAL-space frame to physical column names for the
    * write path. A batch column that equals a RETIRED physical name
    * (some other logical column's storage) fails loud — silently
    * writing it would alias two columns' bytes.
    */
  private def toPhysical(df: DataFrame,
                         cmap: Seq[(String, String)]): DataFrame = {
    val live = cmap.filter { case (l, p) => l != p }
    if (live.isEmpty) return df
    df.columns.foreach { c =>
      live.find { case (l, p) => p == c && l != c }.foreach { case (l, _) =>
        throw new IllegalArgumentException(
          s"batch column '$c' is the retired physical name of column " +
            s"'$l' — write it as '$l'")
      }
    }
    live.foldLeft(df) { case (d, (l, p)) =>
      if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d }
  }

  /** Translate a PHYSICAL-space frame (raw file read) back to logical
    * names.
    */
  private[catalog] def toLogical(df: DataFrame,
                        cmap: Seq[(String, String)]): DataFrame =
    cmap.filter { case (l, p) => l != p }.foldLeft(df) {
      case (d, (l, p)) =>
        if (d.columns.contains(p)) d.withColumnRenamed(p, l) else d }

  // ── CHECK constraints ────────────────────────────────────────────────
  //
  // Table-level data-quality gates, the Delta `ALTER TABLE ADD
  // CONSTRAINT` shape: a named SQL boolean expression every future
  // commit's rows must satisfy. SQL CHECK semantics — a row violates
  // only when the expression is FALSE; NULL passes. Enforcement runs
  // post-write pre-claim inside the commit (see [[writeCommit]]): the
  // just-written files are re-read COLUMN-PRUNED to the constraint's
  // columns and aggregated to violation counts in one job — no double
  // compute of the batch plan, O(batch) scan, and on violation the
  // orphan data dir is dropped before any manifest claim, so the table
  // state is untouched. Data-preserving verbs (optimize, compaction,
  // deleteRows' survivor rewrite, restore) skip the check — their rows
  // were validated when first committed. A constraint added mid-commit
  // applies to commits that START after it lands.

  /** Add (or replace) CHECK constraint `name`. With `validateExisting`
    * (default), current table rows are validated first — one
    * column-pruned scan, offline-grade like optimize — and a violation
    * aborts the add. The expression may reference any table column;
    * rows where it evaluates NULL pass (SQL CHECK).
    */
  def setConstraint(spark: SparkSession, path: String, name: String,
                    check: String, validateExisting: Boolean = true): Unit = {
    require(name.matches("[A-Za-z0-9_\\-]+"),
      s"constraint name must be [A-Za-z0-9_-]+, got '$name'")
    spark.sessionState.sqlParser.parseExpression(check) // fail loud now
    val fsys = fs(spark, path)
    if (validateExisting && manifestNumbers(fsys, path).nonEmpty) {
      val cur = read(spark, path)
      // a constraint on a column the table does not have YET (pending
      // schema evolution) passes vacuously, like at commit time
      if (evaluableChecks(spark, Seq(name -> check), cur.columns).nonEmpty) {
        val bad = violationCounts(cur, Seq(name -> check))
        if (bad.nonEmpty) throw new ConstraintViolationException(
          s"cannot add constraint '$name' ($check): " +
            s"${bad.head._2} existing row(s) violate it")
      }
    }
    val out = fsys.create(new HPath(s"$path/_constraints/$name"), true)
    try out.write(check.getBytes("UTF-8")) finally out.close()
  }

  /** Drop constraint `name` (no-op when absent). */
  def dropConstraint(spark: SparkSession, path: String, name: String): Unit =
    fs(spark, path).delete(new HPath(s"$path/_constraints/$name"), false)

  /** The table's CHECK constraints, name → expression. */
  def constraints(spark: SparkSession, path: String): Map[String, String] =
    constraintsOf(fs(spark, path), path).toMap

  /** Content fingerprint of a constraint set — the proof token for
    * `graft.constraintsPrechecked` (see the gate in [[writeCommit]]).
    */
  private def constraintsFingerprint(cs: Seq[(String, String)]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    cs.sortBy(_._1).foreach { case (n, e) =>
      d.update(s"$n\t$e\n".getBytes("UTF-8"))
    }
    d.digest().map("%02x".format(_)).mkString
  }

  /** The CURRENT constraint set's fingerprint: a caller that judged a
    * batch with [[splitByConstraints]] passes this as the
    * `graft.constraintsPrechecked` writer option and the commit skips
    * its redundant re-enforcement scan — unless the set changed in
    * between, in which case the fingerprint no longer matches and the
    * gate runs in full.
    */
  def constraintsToken(spark: SparkSession, path: String): String =
    constraintsFingerprint(constraintsOf(fs(spark, path), path))

  /** Metadata-only probe: has `(appId, batchId)` already committed to
    * this table? False for a not-yet-created table. The replay
    * fast-path for two-sided ingest ([[graft.streaming.Streams
    * .streamAppendExpect]]): a batch whose markers exist on EVERY sink
    * it writes can skip its compute entirely — O(1) with the txn floor
    * sidecar, and race-exact because the in-claim guard re-checks.
    */
  def txnCommitted(spark: SparkSession, path: String, appId: String,
                   batchId: Long): Boolean = {
    val fsys = fs(spark, path)
    manifestNumbers(fsys, path).nonEmpty &&
      txnMaxBatch(fsys, path, appId).exists(_ >= batchId)
  }

  /** The HIGHEST batch id committed under `appId` — the watermark
    * probe behind [[txnCommitted]], exposed for consumers that resume
    * FROM the watermark instead of probing a known id (the incremental
    * materialized-view refresh records its source version here).
    * O(1) amortized (manifest content cache). None = no such txn.
    */
  def lastTxnBatch(spark: SparkSession, path: String,
                   appId: String): Option[Long] = {
    val fsys = fs(spark, path)
    if (manifestNumbers(fsys, path).isEmpty) None
    else txnMaxBatch(fsys, path, appId)
  }

  /** Split a batch by the table's constraints WITHOUT committing:
    * (clean rows, violating rows + `_violated` array of the constraint
    * names each row failed) — the expectations / dead-letter shape: a
    * quality-gated ingest commits the clean side and appends the
    * violating side to a quarantine table instead of aborting.
    */
  def splitByConstraints(spark: SparkSession, path: String,
                         df: DataFrame): (DataFrame, DataFrame) = {
    val checks = evaluableChecks(spark,
      constraintsOf(fs(spark, path), path), df.columns)
    if (checks.isEmpty)
      (df, df.limit(0).withColumn("_violated",
        array().cast("array<string>")))
    else {
      val flags = array(checks.map { case (n, e) =>
        when(violates(e), lit(n))
      }: _*)
      val tagged = df.withColumn("_violated",
        filter(flags, c => c.isNotNull))
      (tagged.where(size(col("_violated")) === 0).drop("_violated"),
        tagged.where(size(col("_violated")) > 0))
    }
  }

  /** TRUE exactly when a row VIOLATES `check` (false result; NULL
    * passes, per SQL CHECK).
    */
  private def violates(check: String) =
    coalesce(expr(check).cast("boolean"), lit(true)) === false

  /** The column names `check` references (top-level unresolved
    * attributes of the parsed expression).
    */
  private def constraintCols(spark: SparkSession,
                             check: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(check).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.distinct

  /** `checks` restricted to those evaluable against `columns`: a
    * constraint referencing a column the frame LACKS passes vacuously —
    * the column reads null for those rows, and NULL passes SQL CHECK —
    * so a pre-evolution batch (or a slim quarantine split) is not a
    * crash, it is a pass. Case-insensitive, like Spark resolution.
    */
  private def evaluableChecks(spark: SparkSession,
                              checks: Seq[(String, String)],
                              columns: Seq[String])
      : Seq[(String, String)] = {
    val have = columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    checks.filter { case (_, e) =>
      constraintCols(spark, e)
        .forall(c => have(c.toLowerCase(java.util.Locale.ROOT)))
    }
  }

  /** (name, count > 0) per violated constraint — ONE aggregate job over
    * `df`, projected to just the constraint columns by Catalyst.
    */
  private def violationCounts(df: DataFrame,
                              checks: Seq[(String, String)])
      : Seq[(String, Long)] = {
    val aggs = checks.map { case (n, e) =>
      coalesce(sum(when(violates(e), 1L).otherwise(0L)), lit(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.indices.flatMap { i =>
      val c = row.getLong(i)
      if (c > 0) Some((checks(i)._1, c)) else None
    }
  }

  /** Sorted (name, expression) list from the `_constraints` dir. */
  private def constraintsOf(fsys: FileSystem,
                            path: String): Seq[(String, String)] = {
    val dir = new HPath(s"$path/_constraints")
    if (!fsys.exists(dir)) Seq.empty
    else fsys.listStatus(dir).toSeq.map(_.getPath).sortBy(_.getName)
      .map { p =>
        val in = fsys.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        (p.getName, s)
      }
  }

  /** Committed versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    manifestNumbers(fs(spark, path), path).sorted

  /** The latest version committed at-or-before wall-clock `tsMillis`
    * (commit timestamps from the `v-N.info` sidecars). A version whose
    * advisory sidecar was lost to a crash is skipped — time travel
    * resolves to the nearest OLDER timestamped version, never a newer
    * state than existed at `tsMillis`. Commit timestamps come from each
    * writer's clock; with skewed concurrent writers the per-version
    * ordering still wins (higher version on equal ts). Errors when the
    * table has no commit at-or-before `tsMillis`.
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    require(vs.nonEmpty, s"no versioned table at $path")
    val stamped = history(spark, path)
      .select("version", "ts_millis").collect() // O(versions) metadata
      .map(r => (r.getInt(0), r.getLong(1))).filter(_._2 >= 0)
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"no commit at-or-before $tsMillis at $path " +
        s"(earliest stamped: ${stamped.map(_._2).minOption.getOrElse(-1L)})")
    at.max
  }

  /** The EARLIEST version committed at-or-after wall-clock `tsMillis` —
    * the CDC start-bound resolution (Delta's `table_changes` contract:
    * a starting timestamp means "changes from this instant on", so
    * commits strictly before it are never replayed — the mirror of
    * [[versionAt]]'s at-or-before end-bound contract). A version whose
    * advisory timestamp sidecar was crash-lost is skipped. Errors when
    * every stamped commit predates `tsMillis`.
    */
  def versionAtOrAfter(spark: SparkSession, path: String,
                       tsMillis: Long): Int = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    require(vs.nonEmpty, s"no versioned table at $path")
    val stamped = history(spark, path)
      .select("version", "ts_millis").collect() // O(versions) metadata
      .map(r => (r.getInt(0), r.getLong(1))).filter(_._2 >= 0)
    val at = stamped.filter(_._2 >= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"no commit at-or-after $tsMillis at $path " +
        s"(latest stamped: ${stamped.map(_._2).maxOption.getOrElse(-1L)})")
    at.min
  }

  /** (live file count, total bytes) of `version` (default head) from
    * manifest + filesystem metadata through the Hadoop FS abstraction
    * (works on hdfs/s3a, not just local files) — zero data bytes read.
    * Backs `DESCRIBE DETAIL`.
    */
  def snapshotSize(spark: SparkSession, path: String,
                   version: Int = -1): (Long, Long) = {
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    val files = resolveFiles(fsys, path, v)
    (files.size.toLong, fileSizes(fsys, path, files).values.sum)
  }

  /** How many of `version`'s (default head) entries carry a deletion
    * vector — the DESCRIBE DETAIL observability number (a high count
    * means OPTIMIZE is overdue to fold them). Manifest metadata only.
    */
  def deletionVectorCount(spark: SparkSession, path: String,
                          version: Int = -1): Long = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) 0L
    else resolveFiles(fsys, path,
      if (version >= 0) version else vs.max)
      .count(_.lastIndexOf("@dv=") >= 0).toLong
  }

  /** Does `version` (default head) carry any deletion vector?
    * Manifest metadata only.
    */
  def hasDeletionVectors(spark: SparkSession, path: String,
                         version: Int = -1): Boolean = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    if (vs.isEmpty) false
    else hasDv(resolveFiles(fsys, path,
      if (version >= 0) version else vs.max))
  }

  /** Time travel by timestamp: [[read]] at [[versionAt]]`(tsMillis)`. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, versionAt(spark, path, tsMillis))

  /** RESTORE: make `toVersion`'s exact file set the NEW latest version —
    * a metadata-only commit (no data file is read, written, or moved),
    * the undo verb for a bad merge/delete/append. History is never
    * rewritten: the bad versions stay readable until [[vacuum]] sweeps
    * them, and CDC followers see the restore as an ordinary window
    * (re-added files as inserts, rolled-back files as deletes) rather
    * than a cursor break. Restoring beyond the vacuum retention window
    * fails loud (the target manifest is gone). Declares a whole-base
    * read scope: a commit racing the restore conflicts and the restore
    * replans against the new head — the state it rolls back is never
    * silently half-applied. Returns the committed version.
    */
  def restore(spark: SparkSession, path: String, toVersion: Int): Int = {
    val fsys = fs(spark, path)
    replanOnConflict("restore", path) {
      val vs = manifestNumbers(fsys, path)
      require(vs.contains(toVersion),
        s"version $toVersion not retained at $path " +
          s"(have ${vs.sorted.mkString(", ")})")
      val target = resolveFiles(fsys, path, toVersion)
      betweenPlanAndCommit()
      // RESTORE restores the schema metadata too: the new head carries
      // the TARGET version's column mapping AND drop set, not the
      // rolled-back one's
      val (rmap, rdrops) = schemaMetaAt(fsys, path, toVersion)
      claimVersion(fsys, path, "restore", WholeBase(vs.max), Seq.empty, 0L,
        colMap = Some(rmap), colDrops = Some(rdrops),
        schemaCols = Some(declaredColsAt(fsys, path, toVersion)))(
        _ => target)
    }
  }

  /** OPTIMIZE as a commit: rewrite the CURRENT version's rows into
    * ~`targetFileBytes` files and commit the result as a new,
    * data-identical version. Incremental upserts/appends accumulate one
    * small file set per commit; this is the amortized rewrite that caps
    * per-file overhead — and because it is just another commit, readers
    * on any retained version are untouched and [[vacuum]] later reclaims
    * the small files. O(table) by design, an offline maintenance job
    * like every store compaction here. `zorderCols` Morton-clusters the
    * rewrite across any N ≥ 2 columns so the stats sidecars and
    * row-group min/max prune on EVERY clustered column; a flat non-zorder
    * optimize restores a declared bucket layout. Reads, sizing and the
    * commit are [[rewriteFiles]]'; a concurrent commit of any kind
    * conflicts (the rewrite would clobber it). Returns the new version.
    */
  def optimize(spark: SparkSession, path: String,
               partitionCols: Seq[String] = Nil,
               targetFileBytes: Long = 128L * 1024 * 1024,
               zorderCols: Seq[String] = Nil): Int = {
    val (baseV, cur) = planBase(spark, path)
    require(baseV >= 0, s"no versioned table at $path")
    rewriteFiles(spark, path, "optimize", baseV, cur, cur, partitionCols,
      zorderCols, targetFileBytes, wholeBase = true)
  }

  /** Partition-scoped OPTIMIZE: rewrite ONLY the named partitions into
    * ~`targetFileBytes` files (optionally z-ordered within each), every
    * other partition carried forward BY MANIFEST REFERENCE — the
    * maintenance shape that actually runs at 100 TB, where "optimize
    * the table" is a fleet of per-partition jobs (optimize yesterday's
    * ingest partition after it closes), never one O(table) rewrite.
    * Cost: O(named partitions) read + rewrite, through
    * [[rewriteFiles]]. Concurrency follows [[compactSmallFiles]].
    * Returns the new version (the current one when nothing matched).
    */
  def optimizePartitions(spark: SparkSession, path: String,
                         partitionCol: String, values: Seq[String],
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         zorderCols: Seq[String] = Nil): Int =
    optimizePartitionsMulti(spark, path, Seq((partitionCol, values)),
      targetFileBytes, zorderCols)

  /** [[optimizePartitions]] scoped by a CONJUNCTION of partition
    * levels (`lang='en' AND bucket IN ('1','2')` — the leaf-dir-exact
    * maintenance scope of a multi-level layout): a file is touched
    * only when EVERY named level's value is in its spec set. The
    * `OPTIMIZE ... WHERE a='x' AND b='y'` SQL form.
    */
  def optimizePartitionsMulti(spark: SparkSession, path: String,
                              specs: Seq[(String, Seq[String])],
                              targetFileBytes: Long = 128L * 1024 * 1024,
                              zorderCols: Seq[String] = Nil): Int = {
    require(specs.nonEmpty, "optimizePartitions needs a partition scope")
    val (baseV, cur) = planBase(spark, path)
    require(baseV >= 0, s"no versioned table at $path")
    // rewrite with the table's FULL layout (a multi-level table's
    // partition-scoped pack must keep every level — a single-level
    // rewrite would mix layouts under the indexed scan); the named
    // columns only SCOPE which partitions are touched. A column that is
    // not a layout level fails loud BEFORE the no-match early return —
    // a typo'd name must never read as "nothing to do".
    val layout = layoutPartitionCols(spark, path)
    val writeCols = if (layout.nonEmpty) layout else specs.map(_._1)
    specs.foreach { case (c, _) =>
      require(writeCols.contains(c),
        s"$c is not a partition level of $path " +
          s"(layout: ${writeCols.mkString(", ")})")
    }
    val wants = specs.map { case (c, vs) =>
      (c, vs.map(c + "=" + _).toSet) }
    val touched = cur.filter(f => wants.forall { case (c, want) =>
      partitionSegment(f, c).exists(want) })
    if (touched.isEmpty) baseV
    else rewriteFiles(spark, path, "optimize", baseV, cur, touched,
      writeCols, zorderCols, targetFileBytes)
  }

  /** PURGE deletion vectors (the published `REORG TABLE ... APPLY
    * (PURGE)` verb): rewrite ONLY the files carrying a vector — their
    * surviving rows, written back under the table's own layout through
    * [[rewriteFiles]] — so every vector folds away in O(DV'd files),
    * never a full-table OPTIMIZE. Untouched files travel by manifest
    * reference; the swept sidecars are reclaimed by the next [[vacuum]]
    * once no retained manifest names them. A concurrent rewrite of a
    * touched file conflicts and the purge replans. Returns the new
    * version (the current one when no vector exists).
    */
  def purgeDeletionVectors(spark: SparkSession, path: String,
                           targetFileBytes: Long = 128L * 1024 * 1024): Int =
    replanOnConflict("purge_dv", path) {
      val (baseV, cur) = planBase(spark, path)
      require(baseV >= 0, s"no versioned table at $path")
      val touched = cur.filter(e => dvSplit(e)._2.isDefined)
      if (touched.isEmpty) baseV
      else rewriteFiles(spark, path, "purge_dv", baseV, cur, touched,
        layoutPartitionCols(spark, path), Nil, targetFileBytes)
    }

  /** Incremental OPTIMIZE (bin-packing): rewrite ONLY the files smaller
    * than `minFileBytes` into ~`targetFileBytes` files through
    * [[rewriteFiles]], carrying every right-sized file forward by
    * manifest reference — the maintenance verb incremental ingest
    * actually needs, O(small files) instead of [[optimize]]'s O(table).
    * Partitioned tables pack within partitions (a partition with one
    * small file keeps it — repacking it alone buys nothing). Returns
    * the new version, or the current one when <2 small files exist
    * anywhere (nothing worth packing).
    */
  def compactSmallFiles(spark: SparkSession, path: String,
                        partitionCols: Seq[String] = Nil,
                        targetFileBytes: Long = 128L * 1024 * 1024,
                        minFileBytes: Long = -1L): Int = {
    val minBytes = if (minFileBytes > 0) minFileBytes else targetFileBytes / 2
    val fsys = fs(spark, path)
    val (baseV, cur) = planBase(spark, path)
    require(baseV >= 0, s"no versioned table at $path")
    // pack with the table's OWN layout when the caller names none — a
    // flat rewrite of a partitioned table's smalls would mix layouts
    // under the indexed scan
    val packCols =
      if (partitionCols.nonEmpty) partitionCols
      else layoutPartitionCols(spark, path)
    val sizes = fileSizes(fsys, path, cur)
    // packable = small files, grouped per partition (flat table = one
    // group); groups with a single file have nothing to merge
    val small = cur.filter(sizes(_) < minBytes)
    // bucketed-table convergence: an arranged pack always fans into n
    // bucket files, so a small bucketed table would otherwise re-pack
    // forever — every compact (incl. each autoCompact behind ingest)
    // committing a redundant data-identical version rewriting the same
    // n files. A group whose small files are ALREADY the
    // claim-equivalent arranged output of ONE commit dir (sidecar
    // matching the current declaration — columns, count, read types —
    // AND carrying the sort a rewrite WOULD lay) is converged: skip it.
    val decl = bucketingOf(fsys, path)
    lazy val headTypes = GraftScan.fieldTypesAt(spark, path, baseV)
    lazy val (cmapH, _) = schemaMetaAt(fsys, path, baseV)
    def converged(fls: Seq[String]): Boolean = decl.exists { d =>
      // the comparison target is the WRITER's decision, not the bare
      // declaration: an arranged rewrite sorts by effectiveSort only
      // when the table carries every sort column, else by the bucket
      // columns (writeCommit's actualSort) — comparing to
      // effectiveSort alone would make a table whose declared sort
      // column never existed (or was dropped) re-pack unboundedly
      val rewriteSort =
        if (d.effectiveSort.forall(c =>
          headTypes.contains(physicalOf(cmapH, c)))) d.effectiveSort
        else d.cols
      val dirs = fls.map(f => baseOf(f).split("/").head).distinct
      dirs.size == 1 &&
        bucketSpecFor(spark, path, fls, Some(headTypes)).isDefined &&
        dirBucketOf(fsys, path, dirs.head)
          .exists(_.sortCols == rewriteSort)
    }
    val packable = small.groupBy(f =>
        packCols.flatMap(partitionSegment(f, _)).reduceOption(_ + "/" + _).getOrElse(""))
      .filter(_._2.size >= 2)
      .filterNot { case (_, fls) => decl.isDefined && converged(fls) }
      .values.flatten.toSeq
    if (packable.size < 2) baseV
    else rewriteFiles(spark, path, "compact", baseV, cur, packable,
      packCols, Nil, targetFileBytes)
  }

  /** The maintenance rewrite core behind [[optimize]],
    * [[optimizePartitionsMulti]], [[purgeDeletionVectors]] and
    * [[compactSmallFiles]]: read `entries` of version `baseV` in
    * LOGICAL space (deletion vectors applied; a dropped column is
    * physically shed, and [[writeCommit]] translates live columns back
    * to their physical names), size them from their own bytes, and
    * commit the result in their place, everything else of `base`
    * carried forward by manifest reference. The sizing rule:
    *
    *  - flat, z-ordered: range-partitioned on the Morton key into
    *    ~bytes/`targetFileBytes` files ([[Catalog.zOrderedFrameN]]);
    *  - partitioned, z-ordered: clustered WITHIN each partition on the
    *    Morton key (the partition dir is the coarse level, the Z-curve
    *    the fine one), one task per partition;
    *  - partitioned: ~bytes/`targetFileBytes` files per partition
    *    ([[sizeWithinPartitions]]);
    *  - flat: ~bytes/`targetFileBytes` files.
    *
    * The sized frame is pre-arranged, so it reaches the writer
    * unshuffled (`arrange = false`); a non-zorder rewrite re-arranges a
    * declared bucket layout (z-order wins when both apply: the caller
    * chose clustering). Data-identical by construction, so constraints
    * are skipped. `wholeBase` declares that the rewrite read the whole
    * base version: any concurrent commit conflicts. Otherwise only a
    * concurrent rewrite of one of `entries` conflicts, and a concurrent
    * append rebases — its file carries forward beside the packed ones.
    */
  private def rewriteFiles(spark: SparkSession, path: String, op: String,
                           baseV: Int, base: Seq[String],
                           entries: Seq[String], layout: Seq[String],
                           zorderCols: Seq[String], targetFileBytes: Long,
                           wholeBase: Boolean = false): Int = {
    val fsys = fs(spark, path)
    val sizes = fileSizes(fsys, path, entries)
    val (cmap, drops) = schemaMetaAt(fsys, path, baseV)
    val df = readEntries(spark, path, entries, cmap, drops)
    def nFiles = nFilesFor(sizes.values.sum, targetFileBytes)
    val sized = (layout, zorderCols) match {
      case (Seq(), Seq()) => df.repartition(nFiles)
      case (Seq(), zs) => Catalog.zOrderedFrameN(df, zs, numFiles = nFiles)
      case (pcs, Seq()) => sizeWithinPartitions(df, pcs, sizes, targetFileBytes)
      case (pcs, zs) => Catalog.withMortonN(df, zs)
        .repartition(pcs.map(col): _*)
        .sortWithinPartitions("__z").drop("__z")
    }
    val touched = entries.toSet
    writeCommit(sized, path, layout, op, arrange = false,
      scope = if (wholeBase) WholeBase(baseV)
              else FileSet(baseV, base, touched, None),
      bucketArrange = zorderCols.isEmpty) {
      (prev, newFiles) => prev.filterNot(touched) ++ newFiles
    }
  }

  /** A commit's `_commits/v-N.info` sidecar:
    * `{"op":...,"files":N,"bytes":N,"ts":millis}`.
    */
  private case class CommitInfo(op: String, files: Long, bytes: Long,
                                ts: Long)

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def writeCommitInfo(fsys: FileSystem, path: String, v: Int,
                              i: CommitInfo): Unit = {
    val out = fsys.create(new HPath(s"$path/_commits/v-$v.info"), true)
    try out.write(jsonMapper.writeValueAsBytes(jsonMapper.createObjectNode()
      .put("op", i.op).put("files", i.files).put("bytes", i.bytes)
      .put("ts", i.ts)))
    finally out.close()
  }

  /** Version `v`'s sidecar, or None when it is absent, unreadable or
    * incomplete — the sidecar is ADVISORY (written after the manifest),
    * and a crash can truncate it mid-write.
    */
  private def commitInfo(fsys: FileSystem, path: String,
                         v: Int): Option[CommitInfo] =
    scala.util.Try {
      val in = fsys.open(new HPath(s"$path/_commits/v-$v.info"))
      val n = try jsonMapper.readTree(in) finally in.close()
      def f(k: String) = Option(n.get(k)).get
      CommitInfo(f("op").asText, f("files").asLong, f("bytes").asLong,
        f("ts").asLong)
    }.toOption

  /** DESCRIBE HISTORY: one row per commit — (version, op, files, bytes,
    * ts_millis) from the commit sidecars (driver-side metadata); a
    * missing or crash-truncated sidecar reads as an `unknown` row.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fsys = fs(spark, path)
    import spark.implicits._
    versions(spark, path).map { v =>
      commitInfo(fsys, path, v).fold((v, "unknown", -1L, -1L, -1L))(i =>
        (v, i.op, i.files, i.bytes, i.ts))
    }.toDF("version", "op", "files", "bytes", "ts_millis")
  }

  /** Bare-vacuum wall-clock retention: 168 hours, Delta's published
    * default and for the same reason — a zero default would let a bare
    * `VACUUM` sweep files out from under any reader planned on an
    * in-window older snapshot (a long-running job, or a time-travel
    * query racing two quick commits). The aggressive sweep is an
    * EXPLICIT opt-in: `retainAtLeastMs = 0` / SQL `RETAIN 0 HOURS`.
    */
  val defaultRetainMs: Long = 168L * 3600 * 1000

  /** Delete data files referenced by NO retained manifest, and the
    * superseded manifests themselves. `retain` trailing versions stay
    * fully readable, and with `retainAtLeastMs` (default 168 h — see
    * [[defaultRetainMs]]) so does every version
    * committed within that wall-clock window regardless of count — the
    * time-travel promise a version count can't make under bursty commit
    * rates (an unstamped version is retained conservatively). Time
    * travel window = vacuum retention window — the same deferred-sweep
    * discipline as the stores: an in-flight reader that resolved any
    * retained manifest never loses a file under it. Before older
    * manifests are dropped, each retained version whose predecessor is
    * swept is checkpointed so no delta chain dangles.
    *
    * Writers commit optimistically WITHOUT a lock, so vacuum must not
    * sweep an IN-FLIGHT commit's just-written files out from under it:
    * a file referenced by no manifest at all (in-flight or crashed —
    * indistinguishable from the outside) is deleted only once older
    * than `orphanGraceMs` (default 7 DAYS, the Delta convention — a
    * commit's write phase can legitimately run for hours on a 100 TB
    * optimize, and sweeping its unclaimed files would let the later
    * manifest claim commit a version referencing deleted bytes); as a
    * second line of defense [[claimVersion]] re-verifies its new files
    * still exist just before claiming and fails loud if a misconfigured
    * vacuum swept them. Files referenced only by SWEPT manifests are
    * superseded history and delete immediately. Vacuum itself still
    * takes the table's `_lock` — maintenance-only mutual exclusion
    * against concurrent vacuums; writers never touch it.
    */
  def vacuum(spark: SparkSession, path: String, retain: Int = 2,
             orphanGraceMs: Long = 7L * 24 * 3600 * 1000,
             retainAtLeastMs: Long = defaultRetainMs): Unit = {
    vacuumImpl(spark, path, retain, orphanGraceMs, retainAtLeastMs,
      dryRun = false): Unit
  }

  /** What [[vacuum]] WOULD delete, without deleting anything — the
    * pre-flight a retention change deserves (a mis-sized window shows
    * up here as time-travel versions on the sweep list, not as data
    * loss). Returns (kind, path) rows: kind ∈ manifest / data_file /
    * claim_tmp / stats_sidecar. Same lock, same candidate computation
    * as the real sweep.
    */
  def vacuumDryRun(spark: SparkSession, path: String, retain: Int = 2,
                   orphanGraceMs: Long = 7L * 24 * 3600 * 1000,
                   retainAtLeastMs: Long = defaultRetainMs): DataFrame = {
    import spark.implicits._
    vacuumImpl(spark, path, retain, orphanGraceMs, retainAtLeastMs,
      dryRun = true).toDF("kind", "path")
  }

  private def vacuumImpl(spark: SparkSession, path: String, retain: Int,
                         orphanGraceMs: Long, retainAtLeastMs: Long,
                         dryRun: Boolean): Seq[(String, String)] = {
    val fsys = fs(spark, path)
    val swept = scala.collection.mutable.Buffer.empty[(String, String)]
    graft.StoreLock.withLock(fsys, path, "versioned table") {
      // every deletion funnels through here: the dry run records the
      // candidate and touches nothing
      def sweep(kind: String, p: HPath, recursive: Boolean = false): Unit = {
        swept += ((kind, p.toString))
        if (!dryRun) fsys.delete(p, recursive): Unit
      }
      val all = manifestNumbers(fsys, path)
      // time-based retention on top of the count: every version
      // committed within the window stays readable (commit timestamps
      // from the history sidecars; an unstamped version — crash-lost
      // sidecar — is retained conservatively). Delta's retention-hours
      // shape: "time travel back RETENTION far" is a wall-clock promise
      // a version count can't make under bursty commit rates.
      val timeKept =
        if (retainAtLeastMs <= 0L) Seq.empty[Int]
        else {
          val cutoff = System.currentTimeMillis() - retainAtLeastMs
          val stamped = history(spark, path)
            .select("version", "ts_millis").collect()
            .map(r => (r.getInt(0), r.getLong(1)))
          stamped.filter { case (_, ts) => ts < 0 || ts >= cutoff }
            .map(_._1).toSeq
        }
      val keep = (all.sorted.reverse.take(retain) ++ timeKept).distinct
      val live = keep.flatMap(resolveFiles(fsys, path, _)).toSet
      // entries may carry deletion-vector suffixes: liveness of the
      // BASE data file and of the DV sidecar are judged separately —
      // a sidecar is never swept while any retained manifest's entry
      // names it (and never before its base file: both are live
      // together by construction)
      val liveBases = live.map(baseOf)
      val liveDvs = live.flatMap(e => dvSplit(e)._2)
      // every file any manifest (kept or swept) references: the
      // complement of this set is in-flight/crashed commits, which only
      // the grace period may sweep
      val referenced = all.flatMap(resolveFiles(fsys, path, _)).toSet
      val referencedBases = referenced.map(baseOf)
      val referencedDvs = referenced.flatMap(e => dvSplit(e)._2)
      // a kept version may resolve through about-to-be-deleted
      // manifests: pin a checkpoint for every kept version whose
      // PREDECESSOR is swept (for a contiguous keep-suffix that is just
      // the oldest; an unstamped mid-chain version retained by the time
      // window pins its own)
      val keepSet = keep.toSet
      keep.sorted.foreach { v =>
        if (!keepSet.contains(v - 1) && !dryRun)
          writeCheckpoint(fsys, path, v, resolveFiles(fsys, path, v))
      }
      all.filterNot(keep.contains).foreach { n =>
        sweep("manifest", new HPath(s"$path/_commits/v-$n"))
        Seq(s"v-$n.info", s"v-$n.checkpoint").foreach { side =>
          val p = new HPath(s"$path/_commits/$side")
          if (fsys.exists(p)) sweep("manifest", p)
        }
        // legacy version-keyed stats sidecars (pre-dir-keying) are NOT
        // swept with their manifests: a pre-upgrade table's v-N.stats
        // describes data dir c-N, which may still contribute live files
        // to newer versions — they fall under the dir-keyed sweep below
      }
      val now = System.currentTimeMillis()
      def pastGrace(p: HPath): Boolean =
        scala.util.Try(
          now - fsys.getFileStatus(p).getModificationTime > orphanGraceMs
        ).getOrElse(false)
      // claim leftovers: hidden .tmp manifests whose rename never ran —
      // grace-gated too (an in-flight claim's tmp lives milliseconds,
      // but a racing vacuum must not delete it mid-claim)
      fsys.listStatus(new HPath(s"$path/_commits")).toSeq
        .map(_.getPath)
        .filter(p => p.getName.startsWith(".") && p.getName.endsWith(".tmp"))
        .filter(pastGrace)
        .foreach(sweep("claim_tmp", _))
      val dataDir = new HPath(s"$path/data")
      val sweptRel = scala.collection.mutable.Set.empty[String]
      if (fsys.exists(dataDir)) {
        listFilesRec(fsys, s"$path/data").foreach { f =>
          val rel = relativize(f)
          if (!liveBases.contains(rel) &&
              (referencedBases.contains(rel) || pastGrace(new HPath(f)))) {
            sweptRel += rel
            sweep("data_file", new HPath(f))
          }
        }
        // drop now-drained commit/partition dirs, deepest first. A dir
        // holding only writer markers (_SUCCESS, dotfiles) counts as
        // drained: the parquet committer leaves _SUCCESS in every
        // commit dir, so an "exactly empty" test never fires — no dead
        // dir would ever read as gone, and the dir-keyed sidecar sweep
        // below would be unreachable on a real run (while the dry run,
        // which reasons over manifest-visible files only, PROMISED it).
        // Markers are never manifest-referenced, so a marker-only dir
        // is provably drained; live and in-flight dirs keep their data
        // files (grace-gated) and never match.
        if (!dryRun) {
          def dirsRec(d: HPath): Seq[HPath] =
            fsys.listStatus(d).filter(_.isDirectory).map(_.getPath).toSeq
              .flatMap(p => dirsRec(p) :+ p)
          dirsRec(dataDir).foreach { d =>
            val sts = fsys.listStatus(d)
            val junkOnly = sts.forall(st => !st.isDirectory && {
              val n = st.getPath.getName
              n.startsWith("_") || n.startsWith(".")
            })
            if (junkOnly) fsys.delete(d, true): Unit
          }
        }
      }
      // stats sidecars are keyed by DATA DIR: drop those whose dir no
      // longer contributes any live file (incl. dirs the sweep above
      // just emptied). A legacy version-keyed v-N.stats (pre-upgrade
      // tables) describes data dir c-N and lives exactly as long as
      // that dir does — [[fileStats]] still consults it as a fallback.
      // The dry run reasons over the WOULD-BE sweep set instead of the
      // post-delete filesystem state.
      val liveDirs = live.map(_.split("/").head)
      def dirGone(d: String): Boolean =
        if (!dryRun) !fsys.exists(new HPath(s"$path/data/$d"))
        else !fsys.exists(new HPath(s"$path/data/$d")) ||
          listFilesRec(fsys, s"$path/data/$d")
            .map(relativize).forall(sweptRel)
      // the same dead-dir rule reclaims both per-dir sidecar kinds:
      // stats and bucket-layout proofs (a swept commit dir must not
      // leak its `.bucket` file into `_commits/` forever)
      fsys.listStatus(new HPath(s"$path/_commits")).toSeq.map(_.getPath)
        .filter(p => p.getName.endsWith(".stats") ||
          p.getName.endsWith(".bucket"))
        .foreach { p =>
          val stats = p.getName.endsWith(".stats")
          val key = p.getName
            .stripSuffix(".stats").stripSuffix(".bucket")
          val dirKey =
            if (key.startsWith("c-")) Some(key)
            else if (stats && key.matches("v-\\d+")) Some("c-" + key.drop(2))
            else None
          val dead = dirKey.exists(d => !liveDirs.contains(d) && dirGone(d))
          if (dead) sweep(
            if (stats) "stats_sidecar" else "bucket_sidecar", p)
        }
      // deletion-vector sidecars: a `_dv/<name>` dir referenced by NO
      // retained manifest is superseded history (delete now when a
      // swept manifest referenced it) or an in-flight/crashed DV
      // commit's orphan (grace-gated, like unclaimed data dirs)
      val dvRoot = new HPath(s"$path/_dv")
      if (fsys.exists(dvRoot))
        fsys.listStatus(dvRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath).foreach { p =>
            val d = p.getName
            if (!liveDvs.contains(d) &&
                (referencedDvs.contains(d) || pastGrace(p)))
              sweep("dv_sidecar", p, recursive = true)
          }
    }
    swept.toSeq
  }

  // ------------------------------------------------------------------

  /** `df` with its file scans' bucket claims dropped (the files and
    * their pruning stay). A bucket-arranging write needs its
    * `repartition(n, cols)` to run: over a scan claiming that same
    * `HashPartitioning`, Spark drops the repartition as redundant, then
    * un-buckets the scan (no operator needs its partitioning), and
    * rows would land in files named for the wrong bucket.
    */
  private def unclaimBuckets(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val plan = df.queryExecution.analyzed
    val unclaimed = plan.transformDown {
      case lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.bucketSpec.isDefined =>
        lr.copy(relation = h.copy(bucketSpec = None)(h.sparkSession))
    }
    if (unclaimed eq plan) df
    else org.apache.spark.sql.graft.SqlBridge.ofRows(df.sparkSession,
      unclaimed)
  }

  /** Shared write path: land `df`'s files under a fresh NONCE-NAMED
    * `data/` dir (unique without coordination — no other writer can
    * pick it), then claim a version for them via [[claimVersion]]. A
    * crash before the manifest claim leaves an orphan data dir that no
    * manifest references (cleaned by vacuum's grace sweep); a crash
    * after is a completed commit.
    */
  private def writeCommit(df: DataFrame, path: String,
                          partitionCols: Seq[String], op: String,
                          arrange: Boolean = true,
                          writerOptions: Map[String, String] = Map.empty,
                          scope: ReadScope,
                          txn: Option[(String, Long)] = None,
                          bucketArrange: Boolean = false,
                          dvBytes: Long = 0L)(
      resolve: (Seq[String], Seq[String]) => Seq[String]): Int = {
    val spark = df.sparkSession
    val fsys = fs(spark, path)
    betweenPlanAndCommit()
    // the caller's frame is LOGICAL space; data files carry PHYSICAL
    // names (rename is metadata — see the column-mapping section), so
    // translate just before the write. Identity for never-renamed
    // tables. The map is re-read at claim time too (manifest line
    // re-emission); a rename racing this commit declares WholeBase and
    // replans itself, so the map cannot change under a running write in
    // a way that would mis-name these files.
    val preVs = manifestNumbers(fsys, path)
    // a FIRST commit is table creation: purge any cached listings /
    // sidecar verdicts a previous table at this path left behind
    if (preVs.isEmpty) purgePathCaches(fsys, path)
    val (cmapBase, dropsW) =
      if (preVs.isEmpty) (Seq.empty[(String, String)], Seq.empty[String])
      else schemaMetaAt(fsys, path, preVs.max)
    // a batch column re-using a DROPPED column's name is a RE-ADD (it
    // passed an evolution gate to get here): mint fresh physical
    // storage so the old dropped bytes can never bleed into it
    val reserved = (cmapBase.map(_._2) ++ dropsW).toSet
    val minted = df.columns.toSeq
      .filter(c => !cmapBase.exists(_._1 == c) && dropsW.contains(c))
      .map { c =>
        var i = 2
        var cand = s"${c}__$i"
        while (reserved(cand) || df.columns.contains(cand)) {
          i += 1; cand = s"${c}__$i"
        }
        (c, cand)
      }
    val cmapW = cmapBase ++ minted
    val dfP0 = toPhysical(df, cmapW)
    // bucket arrangement (full-table writes onto a declared-bucketed
    // flat table): hash-shuffle into exactly n buckets with Spark's own
    // bucket function — repartition(n, col) IS HashPartitioning(col, n),
    // the same partitioning the bucketed scan later claims — sorted
    // within buckets so one-file-per-bucket snapshots also skip sorts
    val bucketed: Option[BucketDecl] =
      if (!bucketArrange) None
      else bucketingOf(fsys, path).filter { d =>
        d.cols.forall(c => dfP0.columns.contains(physicalOf(cmapW, c))) &&
          // a bucket column that IS a partition column has no in-file
          // bytes to arrange — undefined, never claimed
          !d.cols.exists(partitionCols.contains) }
    // the within-file sort this write actually lays down (logical
    // names): the declared SORTED BY when the frame carries every sort
    // column, else the bucket columns — recorded as-laid in the dir
    // sidecar so the scan can never claim a sort these files lack
    val actualSort: Seq[String] = bucketed.map { d =>
      val es = d.effectiveSort
      if (es.forall(c => dfP0.columns.contains(physicalOf(cmapW, c)))) es
      else d.cols
    }.getOrElse(Nil)
    val dfP = bucketed match {
      case Some(d) =>
        val pcs = d.cols.map(c => physicalOf(cmapW, c))
        // one task per bucket; on a HIVE-PARTITIONED table the
        // partitionBy write then splits each task per partition tuple,
        // so every file's part index is STILL its bucket id (the
        // standard partitioned+bucketed layout: n bucket files per
        // partition dir). Sorting partition columns FIRST satisfies
        // the dynamic-partition writer's required ordering (no extra
        // sort destroys the arrangement); the sort columns last keep
        // every split file internally sorted by them (SORTED BY when
        // declared, the bucket columns otherwise).
        unclaimBuckets(dfP0).repartition(d.n, pcs.map(col): _*)
          .sortWithinPartitions((partitionCols ++
            actualSort.map(c => physicalOf(cmapW, c))).map(col): _*)
      case None => dfP0
    }
    val commitDir = s"$path/data/${newDirName(fsys, path)}"
    val writer =
      if (bucketed.isDefined && partitionCols.nonEmpty)
        // the bucket arrangement owns the task layout — re-shuffling
        // per tuple would destroy it (file-per-tuple economy is the
        // declared tradeoff of bucketing a partitioned table)
        dfP.write.partitionBy(partitionCols: _*)
      else if (partitionCols.nonEmpty && arrange &&
          dfP.queryExecution.optimizedPlan.stats.sizeInBytes <=
            smallCommitBytes)
        // SMALL-COMMIT FAST PATH (r20): below the size floor the
        // arrange exchange buys nothing — the dynamic-partition writer
        // splits the single task per partition tuple anyway, so the
        // file layout is identical (one file per tuple) while the
        // repartition's full map+reduce round (its own job stages,
        // ~40-60 ms per tiny commit, times every patch-sized DML verb)
        // disappears. The floor is a plan-size ESTIMATE: estimates only
        // ever err toward skipping the fast path (filters/joins
        // overestimate), which costs nothing.
        dfP.coalesce(1).write.partitionBy(partitionCols: _*)
      else if (partitionCols.nonEmpty && arrange)
        // one task per partition-value tuple (the partitioned-write
        // discipline): right for patch-sized commits, where the cost
        // is file count. A full-table commit whose single partitions
        // are huge should pre-repartition on (cols..., salt) itself —
        // the partitionBy write emits one file per (task, tuple), so
        // the caller's parallelism carries through. Multi-level
        // layouts nest dirs in the declared column order.
        dfP.repartition(partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
      else if (partitionCols.nonEmpty)
        // caller pre-arranged the frame (e.g. z-clustered or salted
        // within partitions) — reshuffling here would destroy the
        // layout
        dfP.write.partitionBy(partitionCols: _*)
      else dfP.write
    writer.options(writerOptions - "graft.constraintsPrechecked")
      .parquet(commitDir)
    val written0 = listStatusRec(fsys, commitDir)
    // bucket-arranged commits carry their bucket id IN THE FILE NAME
    // (Spark's own `_NNNNN` suffix): repartition(n, col) wrote one task
    // per bucket, and a plain write names files by task index — so the
    // leading part number IS the bucket id; the rename makes the scan
    // side's parser recover it
    val written = bucketed match {
      case None => written0
      case Some(_) => written0.map { st =>
        val name = st.getPath.getName
        "^part-(\\d+)-".r.findFirstMatchIn(name) match {
          case None => st
          case Some(m) =>
            val dot = name.indexOf('.')
            val (stem, ext) =
              if (dot < 0) (name, "") else name.splitAt(dot)
            val to = new HPath(st.getPath.getParent, stem +
              org.apache.spark.sql.graft.SqlBridge
                .bucketIdSuffix(m.group(1).toInt) + ext)
            require(fsys.rename(st.getPath, to),
              s"bucket-suffix rename failed: ${st.getPath} -> $to")
            fsys.getFileStatus(to)
        }
      }
    }
    val newFiles = written.map(st =>
      relativize(st.getPath.toString))
    // CHECK-constraint gate, post-write pre-claim: re-read the written
    // files column-pruned to the constraint columns (no second compute
    // of the batch plan), abort + drop the orphan dir on violation —
    // no manifest exists yet, so the table state is untouched.
    // Data-preserving rewrites skip (their rows passed at first commit).
    if (newFiles.nonEmpty &&
        !Set("optimize", "compact", "delete_rows", "purge_dv")
          .contains(op)) {
      val allChecks = constraintsOf(fsys, path)
      // a caller that already judged this batch against the SAME
      // constraint set (splitByConstraints on the expectations path)
      // proves it with the set's fingerprint — re-reading the written
      // files to re-check identical predicates is a whole wasted scan
      // per commit. Any constraint change between the split and this
      // commit changes the fingerprint and the gate runs in full.
      val prechecked = writerOptions.get("graft.constraintsPrechecked")
        .contains(constraintsFingerprint(allChecks))
      if (allChecks.nonEmpty && !prechecked) {
        // constraints are authored against LOGICAL names
        val written = readEntries(spark, path, newFiles, cmapW)
        // a constraint on a column these files LACK passes vacuously
        // (missing column reads null; NULL passes SQL CHECK)
        val checks = evaluableChecks(spark, allChecks, written.columns)
        val bad = if (checks.isEmpty) Nil
          else violationCounts(written, checks)
        if (bad.nonEmpty) {
          fsys.delete(new HPath(commitDir), true)
          throw new ConstraintViolationException(
            s"$op at $path aborted: " + bad.map { case (n, c) =>
              s"$c row(s) violate '$n'"
            }.mkString("; ") + " — no version was committed")
        }
      }
    }
    // a bucket-arranged commit PROVES its layout before the claim: the
    // per-dir sidecar is what lets the scan side distinguish files
    // hashed by this (column, count) from a stale arrangement
    bucketed.foreach { d =>
      // record the WRITTEN types of the bucket columns: the claim is
      // honest only for snapshots that still read these exact types
      // (the type-widening promotion chain changes the hash)
      val types = d.cols.map(c =>
        dfP.schema(physicalOf(cmapW, c)).dataType.catalogString)
      writeDirBucketSidecar(fsys, path, dirOf(commitDir),
        DirLayout(d.cols, d.n, Some(types), actualSort))
    }
    // stats are keyed by the DATA DIR (already exclusively ours), so
    // they can be harvested BEFORE the version claim — a concurrent
    // merge's conflict predicate then always sees this commit's ranges
    writeFileStats(fsys, spark, path, dirOf(commitDir), newFiles)
    // a vector commit's deletion-vector sidecar counts too
    val bytes = written.map(_.getLen).sum + dvBytes
    betweenWriteAndClaim()
    claimVersion(fsys, path, op, scope, newFiles, bytes, txn,
      colMapAdd = minted,
      schemaColsAdd = df.columns.toSeq,
      // a full-table rewrite's frame IS the whole current schema — safe
      // to seed a legacy table's declaration from it (a slim mergeWhen
      // insert or evolution batch is not, so other ops only ever widen)
      seedSchemaCols = Set("optimize", "compact").contains(op))(
      prev => resolve(prev, newFiles))
  }

  private def dirOf(commitDir: String): String =
    commitDir.substring(commitDir.lastIndexOf('/') + 1)

  /** A fresh commit-dir name `c-S-xxxx`: S is a monotonic display/sort
    * hint (max existing sequence + 1 — collisions between concurrent
    * writers are fine, the nonce disambiguates), xxxx a random nonce
    * that makes the dir unique with NO coordination.
    */
  private def newDirName(fsys: FileSystem, path: String): String = {
    val dataDir = new HPath(s"$path/data")
    val onDisk = if (!fsys.exists(dataDir)) Seq.empty[Int]
      else fsys.listStatus(dataDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("c-")).map(dirSeq)
    val s = ((onDisk ++ manifestNumbers(fsys, path)) :+ -1).max + 1
    // 8 hex chars of nonce: the dir name must be unique with NO
    // coordination — two writers sharing seq AND nonce would interleave
    // parquet into one dir, so the space is sized far past any real
    // concurrent-writer count
    f"c-$s-${scala.util.Random.nextInt()}%08x"
  }

  /** Leading sequence number of a commit-dir name (`c-12-ab3f` → 12;
    * legacy `c-12` → 12).
    */
  private def dirSeq(dir: String): Int = {
    val digits = dir.stripPrefix("c-").takeWhile(_.isDigit)
    if (digits.isEmpty) -1 else digits.toInt
  }

  /** The optimistic commit point. Loops:
    *
    *  1. resolve the current latest version L;
    *  2. first-committer-wins CONFLICT CHECK of this commit's read
    *     `scope` against everything committed since its plan base (see
    *     the object scaladoc for the rules) — throws
    *     [[ConcurrentCommitException]] on conflict;
    *  3. build the manifest for v = L+1 and CLAIM it by renaming a
    *     hidden tmp file onto `_commits/v-N` — refused when v-N exists
    *     (verified on LocalFileSystem and HDFS-class stores), so at most
    *     one writer wins each number; a loss loops back to 1.
    *
    * In-process claimants serialize on a per-table monitor (the loop
    * body is metadata-only — no Spark jobs), making same-JVM races
    * exact. Returns the committed version.
    */
  private def claimVersion(fsys: FileSystem, path: String, op: String,
                           scope: ReadScope, newFiles: Seq[String],
                           bytesWritten: Long,
                           txn: Option[(String, Long)] = None,
                           colMap: Option[Seq[(String, String)]] = None,
                           colMapAdd: Seq[(String, String)] = Seq.empty,
                           colDrops: Option[Seq[String]] = None,
                           schemaCols: Option[Option[Seq[String]]] = None,
                           schemaColsAdd: Seq[String] = Seq.empty,
                           seedSchemaCols: Boolean = false)(
      resolve: Seq[String] => Seq[String]): Int =
    claimMonitor(path).synchronized {
      // second line of defense against a misconfigured vacuum (an orphan
      // grace window shorter than this commit's write phase): the files
      // this commit is about to reference must still exist at claim time
      // — claiming a manifest that names swept bytes would be silent
      // data loss on every later read. O(newFiles) metadata existence
      // probes, once per claim (not per race retry — the loop below is
      // metadata-only and fast; the vulnerable window is the write phase
      // that just ended).
      newFiles.find(f =>
          !fsys.exists(new HPath(s"$path/data/${baseOf(f)}")))
        .foreach { f =>
          throw new IllegalStateException(
            s"commit at $path aborted: just-written file $f vanished " +
              "before the manifest claim — a concurrent vacuum's " +
              "orphanGraceMs is shorter than this commit's write phase")
        }
      var attempts = 0
      while (true) {
        attempts += 1
        if (attempts > 1000) throw new IllegalStateException(
          s"commit claim at $path lost 1000 straight races — aborting")
        val prevVs = manifestNumbers(fsys, path)
        val prevV = if (prevVs.isEmpty) -1 else prevVs.max
        // idempotence guard INSIDE the claim loop: a batch whose
        // (appId, batchId) is already recorded skips the commit — and
        // because a lost rename race re-enters here, two racers with the
        // same txn can never both land (the loser sees the winner's
        // marker on retry)
        txn.foreach { case (app, bid) =>
          if (txnMaxBatch(fsys, path, app).exists(_ >= bid)) {
            cleanupSkippedCommit(fsys, path, newFiles)
            return prevV
          }
        }
        val prev = if (prevV < 0) Seq.empty[String]
          else resolveFiles(fsys, path, prevV)
        checkConflict(fsys, path, scope, prevV, prev, resolve)
        val files = resolve(prev)
        val v = prevV + 1
        val added = files.filterNot(prev.toSet)
        val removed = prev.filterNot(files.toSet)
        val txnLine = txn.map { case (app, bid) => s"#txn $app $bid" }
        // the column mapping and drop set travel IN the manifest
        // (re-emitted by every commit once non-identity): both are
        // versioned with the table for free — time travel, restore,
        // vacuum and clone all carry them — and resolution never walks
        // beyond the manifest it already reads. Full `colMap`/`colDrops`
        // overrides are reserved for WholeBase-scoped verbs (rename/
        // drop/restore: base movement conflicts, so the override cannot
        // clobber a racer's schema change); `colMapAdd` (evolution
        // minting) is merged ADDITIVELY into whatever the claim-time
        // head carries, so it composes with a racing rename.
        val (prevMap, prevDrops) =
          if (prevV < 0) (Seq.empty[(String, String)], Seq.empty[String])
          else schemaMetaAt(fsys, path, prevV)
        val mergedMap = colMap.getOrElse(prevMap)
          .filterNot { case (l, _) => colMapAdd.exists(_._1 == l) } ++
          colMapAdd
        val cmapLines = mergedMap
          .filter { case (l, p) => l != p }
          .map { case (l, p) => s"#colmap ${esc(l)}\t${esc(p)}" }
        val dropLines = colDrops.getOrElse(prevDrops).distinct
          .map(d => s"#coldrop ${esc(d)}")
        // the DECLARED logical schema (column names) also travels in the
        // manifest: schema gates then read one line instead of opening
        // parquet footers — the Delta metaData shape. Declared schema is
        // append-only under evolution (a slim batch never narrows it);
        // rename/drop/restore force-override it; legacy tables without
        // the line stay footer-gated until a full-schema rewrite
        // (optimize/compact) seeds it.
        val prevDecl =
          if (prevV < 0) None else declaredColsAt(fsys, path, prevV)
        // seeding a legacy table's declaration from this commit's frame
        // is only safe when the rewrite PROVABLY covered every live
        // file — i.e. the post-commit file set is exactly this commit's
        // own files. A partition-scoped optimize / subset compaction
        // carries untouched files forward whose column union the frame
        // may not span; seeding from it would make legitimate appends
        // carrying the missing columns spuriously fail the drift gate.
        val fullRewrite = files.nonEmpty && files.forall(newFiles.toSet)
        val newDecl: Option[Seq[String]] = schemaCols.getOrElse(
          prevDecl match {
            case Some(pd) => Some(pd ++ schemaColsAdd.filterNot(pd.contains))
            case None =>
              if ((prevV < 0 || (seedSchemaCols && fullRewrite)) &&
                  schemaColsAdd.nonEmpty)
                Some(schemaColsAdd)
              else None
          })
        val declLine = newDecl.toSeq
          .map(cols => "#schemacols " + cols.map(esc).mkString("\t"))
        val content =
          ((if (prevV < 0 || added.size + removed.size >= files.size)
            files ++ txnLine
          else (s"#delta base=$prevV" +:
            (added.map("+" + _) ++ removed.map("-" + _))) ++ txnLine)
            ++ cmapLines ++ dropLines ++ declLine)
            .mkString("\n")
        // tmp + rename-if-absent: the rename is BOTH the atomic content
        // point (no reader ever sees a half manifest) and the claim (it
        // fails when a concurrent writer took v-N first)
        val tmp = new HPath(s"$path/_commits/.v-$v." +
          f"${scala.util.Random.nextInt(0x10000)}%04x.tmp")
        val out = fsys.create(tmp, false)
        try out.write(content.getBytes("UTF-8"))
        finally out.close()
        if (fsys.rename(tmp, new HPath(s"$path/_commits/v-$v"))) {
          // advance the app's txn floor sidecar to this commit: the next
          // idempotence lookup is then O(1) + O(commits since) — derived
          // metadata, a crash before it only lengthens the next scan
          txn.foreach { case (app, bid) =>
            writeTxnFloor(fsys, path, app, v, bid) }
          // DESCRIBE HISTORY sidecar — advisory metadata, written after
          // the manifest (a crash between the two costs an 'unknown'
          // history row, never a wrong table state)
          writeCommitInfo(fsys, path, v, CommitInfo(op, newFiles.size,
            bytesWritten, System.currentTimeMillis()))
          if (content.startsWith("#delta") &&
              deltaChainLen(fsys, path, v) >= checkpointInterval)
            writeCheckpoint(fsys, path, v, files)
          return v
        }
        // lost the race: drop our tmp and retry against the new latest
        try fsys.delete(tmp, false)
        catch { case _: java.io.IOException => () }
      }
      -1 // unreachable
    }

  /** Past this many manifest reads, a [[txnMaxBatch]] scan writes an
    * updated floor sidecar so the NEXT lookup starts where this one
    * ended — bounds the idle-app and first-touch costs to one long scan
    * ever, not one per append.
    */
  private val txnFloorAdvanceThreshold = 4

  /** The highest batchId recorded for `appId` — authoritative source is
    * the `#txn` markers in the manifests, but the scan is FLOORED by the
    * app's `_commits/_txn/<appId>-<V>-<B>` sidecar ("across all
    * manifests ≤ V, the app's max batchId is B; `none` = no marker"):
    * only manifests NEWER than V are read, newest-first, stopping at the
    * first marker (batchIds are monotonic per app, the Structured
    * Streaming contract, so the newest marker is the max). Sidecars are
    * derived and write-once (max version wins, the `cursor-N`
    * discipline): a crash-lagged or missing sidecar only lengthens the
    * scan, never wrongs it — and because they survive vacuum, the
    * replay guard now reaches beyond the manifest retention window for
    * any app that ever committed. A scan that had to read more than
    * [[txnFloorAdvanceThreshold]] manifests advances the floor
    * (best-effort), so a new app's unavoidable first full walk — it must
    * prove NO marker exists anywhere — happens once per app, not once
    * per append.
    */
  private def txnMaxBatch(fsys: FileSystem, path: String,
                          appId: String): Option[Long] = {
    val re = ("(?m)^#txn " + java.util.regex.Pattern.quote(appId) +
      " (\\d+)$").r
    val (floorV, floorB) = txnFloor(fsys, path, appId)
    val vs = manifestNumbers(fsys, path)
    val newer = vs.filter(_ > floorV).sorted.reverse
    var reads = 0
    val scanned = newer.iterator
      .map { v =>
        reads += 1
        re.findFirstMatchIn(manifestText(fsys, path, v))
          .map(_.group(1).toLong)
      }
      .collectFirst { case Some(b) => b }
    val res = scanned.orElse(if (floorB >= 0) Some(floorB) else None)
    // the newest marker (or proven absence) holds for every manifest up
    // to the scanned head — valid forever, manifests are immutable
    if (reads > txnFloorAdvanceThreshold && vs.nonEmpty)
      writeTxnFloor(fsys, path, appId, vs.max, res.getOrElse(-1L))
    res
  }

  /** The app's newest floor sidecar as (version, batchId) — (-1, -1)
    * when none exists (new app or pre-sidecar table).
    */
  private def txnFloor(fsys: FileSystem, path: String,
                       appId: String): (Int, Long) = {
    val dir = new HPath(s"$path/_commits/_txn")
    if (!fsys.exists(dir)) return (-1, -1L)
    val tail = "^(\\d+)-(\\d+|none)$".r
    fsys.listStatus(dir).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        if (!n.startsWith(appId + "-")) None
        else tail.findFirstMatchIn(n.drop(appId.length + 1)).map { m =>
          (m.group(1).toInt,
            if (m.group(2) == "none") -1L else m.group(2).toLong)
        }
      }
      .maxByOption(_._1).getOrElse((-1, -1L))
  }

  /** Create the floor sidecar `<appId>-<v>-<b>` (name IS the value — no
    * content, no rename window), then best-effort sweep the app's older
    * floors. Never throws: the sidecar is derived metadata.
    */
  private def writeTxnFloor(fsys: FileSystem, path: String, appId: String,
                            v: Int, b: Long): Unit =
    try {
      val tag = if (b < 0) "none" else b.toString
      val out = fsys.create(
        new HPath(s"$path/_commits/_txn/$appId-$v-$tag"), true)
      out.close()
      val tail = "^(\\d+)-(\\d+|none)$".r
      fsys.listStatus(new HPath(s"$path/_commits/_txn")).toSeq
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith(appId + "-") &&
            tail.findFirstMatchIn(n.drop(appId.length + 1))
              .exists(_.group(1).toInt < v)
        }
        .foreach(p => try fsys.delete(p, false)
          catch { case _: java.io.IOException => () })
    } catch { case _: java.io.IOException => () }

  /** Drop the data dir (and stats sidecar) of a commit whose claim was
    * skipped by the txn idempotence guard — the files were written but
    * will never be referenced.
    */
  private def cleanupSkippedCommit(fsys: FileSystem, path: String,
                                   newFiles: Seq[String]): Unit =
    newFiles.map(_.split("/").head).distinct.foreach { d =>
      try {
        fsys.delete(new HPath(s"$path/data/$d"), true)
        fsys.delete(new HPath(s"$path/_commits/$d.stats"), false)
      } catch { case _: java.io.IOException => () }
    }

  /** First-committer-wins conflict rules (object scaladoc): given this
    * commit's read `scope` and the CURRENT latest version (curV, cur),
    * throw when a commit since the plan base invalidates the plan.
    */
  private def checkConflict(fsys: FileSystem, path: String,
                            scope: ReadScope, curV: Int, cur: Seq[String],
                            resolve: Seq[String] => Seq[String]): Unit =
    scope match {
      case NoReads => ()
      case WholeBase(baseV) =>
        if (curV != baseV) throw new ConcurrentCommitException(
          s"read base v$baseV moved to v$curV under a whole-base rewrite")
      case FileSet(baseV, baseFiles, removed, predicate) =>
        if (curV == baseV) return
        val curSet = cur.toSet
        val baseSet = baseFiles.toSet
        val removedMid = baseFiles.filterNot(curSet)
        val addedMid = cur.filterNot(baseSet)
        // rule 1: a file this commit read-and-rewrites was concurrently
        // removed (merge-vs-merge on one file, compact-vs-delete, ...)
        val r1 = removedMid.filter(removed)
        if (r1.nonEmpty) throw new ConcurrentCommitException(
          s"${r1.size} file(s) in this commit's rewrite set were " +
            s"concurrently removed (e.g. ${r1.head})")
        // rule 2: the rebased resolve would drop a file a concurrent
        // commit just added (an add into a replaced/dropped partition)
        val target = resolve(cur).toSet
        val r2 = addedMid.filterNot(target)
        if (r2.nonEmpty) throw new ConcurrentCommitException(
          s"${r2.size} concurrently added file(s) fall in this " +
            s"commit's replaced scope (e.g. ${r2.head})")
        // rule 3 (merge/delete): a concurrently added file COULD contain
        // batch keys the plan never scanned — judged by the stats
        // sidecars; a file without stats is assumed to conflict
        predicate.foreach { case (c, lo, hi) =>
          val suspects = skipFiles(fsys, path, addedMid, c, lo, hi)
          if (suspects.nonEmpty) throw new ConcurrentCommitException(
            s"${suspects.size} concurrently added file(s) may contain " +
              s"keys in this commit's $c range (e.g. ${suspects.head})")
        }
    }

  /** How many manifests a resolution of `v` must read before reaching a
    * full manifest or checkpoint — bounded by [[checkpointInterval]] in
    * any table the writer maintained.
    */
  private def deltaChainLen(fsys: FileSystem, path: String, v: Int): Int =
    if (fsys.exists(new HPath(s"$path/_commits/v-$v.checkpoint"))) 0
    else readManifest(fsys, path, v) match {
      case FullManifest(_) => 0
      case DeltaManifest(base, _, _) => 1 + deltaChainLen(fsys, path, base)
    }

  /** Pin version `v`'s full resolved file list as a derived sidecar
    * (atomic, idempotent — skipped if already present).
    */
  private def writeCheckpoint(fsys: FileSystem, path: String, v: Int,
                              files: Seq[String]): Unit = {
    val dst = new HPath(s"$path/_commits/v-$v.checkpoint")
    if (fsys.exists(dst)) return
    val tmp = new HPath(s"$path/_commits/.v-$v.checkpoint." +
      f"${scala.util.Random.nextInt(0x10000)}%04x.tmp")
    val out = fsys.create(tmp, false)
    try out.write(files.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // a lost rename race is fine IF someone else pinned the (identical,
    // derived) checkpoint meanwhile — vacuum and a committer can both
    // try; only a failure with NO checkpoint present is real
    if (!fsys.rename(tmp, dst)) {
      try fsys.delete(tmp, false)
      catch { case _: java.io.IOException => () }
      if (!fsys.exists(dst))
        throw new IllegalStateException(
          s"checkpoint rename failed for v-$v at $path")
    }
  }

  // ── deletion vectors (merge-on-read row deletes) ─────────────────────
  //
  // A row-level DELETE that would rewrite whole key-bearing files can
  // instead commit a DELETION VECTOR: the deleted rows' POSITIONS,
  // written as a parquet sidecar under `path/_dv/<name>/` (columns
  // `file` string, `pos` long) and referenced from the manifest by
  // suffixing the data file's entry — `file@dv=<name>`. The base
  // parquet bytes are never touched: at 100 TB a one-row delete in a
  // 1 GB file costs O(matched positions) written instead of a 1 GB
  // rewrite (the published Delta deletion-vector / merge-on-read
  // shape). Because the DV'd entry is just a different STRING in the
  // manifest, the whole commit machinery — delta manifests,
  // first-committer-wins conflict rules, checkpoints, restore —
  // handles it unchanged; only reads, CDC, vacuum and size probes
  // split the suffix off.
  //
  // Reads apply the vector transparently, in one place ([[GraftScan]]'s
  // builder, per relation): a scan over a version with DVs filters (file, `_metadata.row_index`) pairs against the
  // broadcast position map — a plain Filter over the single file
  // source, so predicate pushdown, partition pruning and
  // `input_file_name()` above it all keep working, and a version with
  // NO DVs plans exactly as before (the filter is never added).
  // Positions are broadcast-sized by the maintenance discipline:
  // OPTIMIZE / compaction / any rewrite that touches a DV'd file reads
  // survivors only and emits suffix-free entries, FOLDING the vector
  // away — a table whose DVs outgrow broadcast is overdue for the
  // fold. A further delete on an already-DV'd file replaces the
  // reference with a new sidecar holding the UNION of positions (at
  // most one DV per file per version, the Delta contract).
  //
  // Sidecars are metadata, so no Spark job ever touches one: the
  // commit that vectors rows collects their positions in the same pass
  // that counts them and writes the sidecar on the driver with
  // parquet-hadoop's writer; a read decodes it on the driver with
  // parquet-hadoop's reader. Sidecars are write-once, so the decoded
  // positions are cached process-wide ([[DvCache]]) and every later
  // resolution of any version naming them — reads, time travel, the
  // change feed, the next delete's priors — costs a directory listing.
  // Sidecars written by Spark's own parquet writer (several part files,
  // `_SUCCESS`) read the same way.

  /** Split a manifest entry into (base data file, DV sidecar name). */
  private[catalog] def dvSplit(entry: String): (String, Option[String]) = {
    val i = entry.lastIndexOf("@dv=")
    if (i < 0) (entry, None)
    else (entry.substring(0, i), Some(entry.substring(i + "@dv=".length)))
  }

  /** The base data file of a manifest entry (identity when no DV). */
  private[catalog] def baseOf(entry: String): String = dvSplit(entry)._1

  /** (base file → sorted deleted positions) for the DV'd entries of a
    * file set — empty for the common no-DV version. Each referenced
    * sidecar is read on the driver, never by a Spark job
    * ([[sidecarPositions]]); a sidecar written by one DELETE can cover
    * many files, and only the entry-referenced (file, dv) pairs come
    * back.
    */
  private[catalog] def dvPositions(spark: SparkSession, path: String,
                                   entries: Seq[String])
      : Map[String, Array[Long]] = {
    val refs = entries.flatMap { e =>
      val (b, d) = dvSplit(e); d.map(b -> _)
    }
    if (refs.isEmpty) return Map.empty
    val fsys = fs(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    refs.groupBy(_._2).toSeq.flatMap { case (d, fs0) =>
      val all = sidecarPositions(fsys, conf, s"$path/_dv/$d",
        dvMaxPositions(spark))
      fs0.flatMap { case (b, _) => all.get(b).map(b -> _) }
    }.toMap
  }

  /** Every (file → sorted positions) of ONE sidecar dir: the union of
    * its part files (this engine writes one; a sidecar from Spark's
    * writer may hold several, some empty, beside a `_SUCCESS` marker),
    * each served by [[DvCache]] (bounded at `cacheBound` positions) or
    * read on the driver.
    */
  private def sidecarPositions(fsys: FileSystem,
                               conf: org.apache.hadoop.conf.Configuration,
                               dir: String, cacheBound: Long)
      : Map[String, Array[Long]] =
    fsys.listStatus(new HPath(dir)).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => DvCache.getOrRead(st, cacheBound)(readDvPart(conf, st)))
      match {
      case Seq(one) => one
      case parts => parts.flatMap(_.toSeq)
        .groupMapReduce(_._1)(_._2)(_ ++ _)
        .map { case (f, p) => f -> sortedDistinct(p) }
    }

  /** One sidecar part file's (file → sorted positions), decoded on the
    * driver with parquet-hadoop's record reader (columns `file` string,
    * `pos` long; a null in either skips the row).
    */
  private def readDvPart(conf: org.apache.hadoop.conf.Configuration,
                         st: FileStatus): Map[String, Array[Long]] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import scala.collection.mutable.{ArrayBuilder, HashMap}
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
      val byFile = HashMap.empty[String, ArrayBuilder.ofLong]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records =
          io.getRecordReader(pages, new GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          if (g.getFieldRepetitionCount("file") > 0 &&
              g.getFieldRepetitionCount("pos") > 0)
            byFile.getOrElseUpdate(g.getString("file", 0),
              new ArrayBuilder.ofLong) += g.getLong("pos", 0)
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      byFile.map { case (f, b) => f -> sortedDistinct(b.result()) }.toMap
    } finally reader.close()
  }

  /** `a`'s values ascending, duplicates dropped. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val s = a.sorted
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < s.length) {
      if (i == 0 || s(i) != s(i - 1)) out += s(i)
      i += 1
    }
    out.result()
  }

  /** Process-wide deletion-vector position cache: one sidecar part
    * file's (file → sorted positions), keyed like [[manifestTextCache]]
    * by the part's (path, mtime, length). Sidecars are write-once, so
    * an entry never goes stale, and the (mtime, length) key keeps a
    * table deleted and re-created at the same path from serving the
    * old positions. LRU, bounded by the total POSITIONS held rather than
    * by entry count: each call passes the bound, the calling session's
    * `spark.graft.dv.maxPositions` (default 10 M positions, 80 MB of
    * longs), so any sidecar one commit may write fits. A part larger
    * than the bound (a vector unioned over several deletes past the
    * cap, or one written under a larger cap) is never cached.
    */
  private object DvCache {
    private val parts = new java.util.LinkedHashMap[
      (String, Long, Long), Map[String, Array[Long]]](16, 0.75f, true)
    private var held = 0L

    private def keyOf(st: FileStatus) =
      (st.getPath.toString, st.getModificationTime, st.getLen)

    private def sizeOf(m: Map[String, Array[Long]]): Long =
      m.valuesIterator.map(_.length.toLong).sum

    def getOrRead(st: FileStatus, maxHeld: Long)(
        read: => Map[String, Array[Long]]): Map[String, Array[Long]] =
      synchronized(Option(parts.get(keyOf(st)))).getOrElse {
        val m = read
        put(st, m, maxHeld)
        m
      }

    def put(st: FileStatus, m: Map[String, Array[Long]],
            maxHeld: Long): Unit =
      synchronized {
        val n = sizeOf(m)
        if (n <= maxHeld) {
          Option(parts.put(keyOf(st), m)).foreach(old => held -= sizeOf(old))
          held += n
          // eldest first; the entry just put is the newest and fits
          val it = parts.values.iterator
          while (held > maxHeld) { held -= sizeOf(it.next()); it.remove() }
        }
      }
  }

  /** The keep-this-row judgment of a DV map as a broadcast-backed
    * predicate over (scan-reported file path or its [[scanRel]] part,
    * row index) — the map's keys (base files, or the change feed's
    * vector-carrying entries) are put in the scan's form once, so each
    * row costs one substring and a binary search; map-miss keeps.
    */
  private[catalog] def dvKeep(spark: SparkSession,
                              dv: Map[String, Array[Long]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(
      dv.map { case (b, pos) => scanForm(b) -> pos })
    udf((fp: String, idx: Long) => {
      bc.value.get(scanRel(fp)) match {
        case Some(pos) => java.util.Arrays.binarySearch(pos, idx) < 0
        case None => true
      }
    })
  }

  /** Do any of these manifest entries carry a deletion vector? */
  private[catalog] def hasDv(entries: Seq[String]): Boolean =
    entries.exists(_.lastIndexOf("@dv=") >= 0)

  // ---------------- file-level column statistics (data skipping) ------

  /** Above this many new files, the footer harvest runs as a SPARK JOB
    * over the file list instead of a serial driver loop — a full-table
    * optimize of a 100k-file table must not read 100k footers one by
    * one on the driver.
    */
  private val statsDistributeThreshold = 16

  /** Harvest per-file column statistics ([min, max] + null/row counts)
    * for every stats-friendly top-level column (strings, integers,
    * floats, dates, int64 timestamps) of the just-written files from
    * their parquet footers, into the data dir's `<dir>.stats` sidecar.
    * Small commits read footers on the driver (files hot in the page
    * cache); large ones fan the reads out as a Spark job. Advisory and
    * derived: a failed harvest logs and skips (those files are simply
    * never file-skipped), it can never fail the commit.
    * Format: one `file TAB col TAB type TAB min TAB max TAB nulls TAB
    * rows` line per (file, column), values escaped (\\, \t, \n); an
    * all-null column keeps empty min/max but real null/row counts.
    */
  private def writeFileStats(fsys: FileSystem, spark: SparkSession,
                             path: String, dir: String,
                             newFiles: Seq[String]): Unit =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val dataRoot = s"$path/data"
      val lines =
        if (newFiles.size <= statsDistributeThreshold) {
          // concurrent footer reads (r20): the serial loop charged every
          // commit ~13-20 ms PER FILE of driver-side footer decode — an
          // 8-file bucketed commit paid ~0.1-0.14 s here, a pure
          // fixed-cost tax on the whole DML family. The files were just
          // written (hot in the page cache), so the reads parallelize
          // near-linearly. Order is re-imposed by the zip (sidecar lines
          // stay deterministic).
          import scala.collection.parallel.CollectionConverters._
          newFiles.zipWithIndex.par
            .map { case (f, i) => (i, statsLinesFor(conf, dataRoot, f)) }
            .seq.sortBy(_._1).flatMap(_._2)
        } else {
          val bconf = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(conf))
          val slices = math.min(newFiles.size,
            spark.sparkContext.defaultParallelism)
          try spark.sparkContext.parallelize(newFiles, slices)
            .flatMap(f => statsLinesFor(bconf.value.value, dataRoot, f))
            .collect().toSeq // O(files × columns) stat lines, not data
          finally bconf.destroy()
        }
      if (lines.nonEmpty) {
        val out = fsys.create(new HPath(s"$path/_commits/$dir.stats"), true)
        try out.write(lines.mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
    } catch { case NonFatal(e) =>
      logWarning(s"stats harvest skipped for $dir: ${e.getMessage}")
    }

  /** One file's stat lines (the harvest kernel — static and
    * string-parameterized so the distributed path ships no closure
    * state beyond the broadcast Hadoop conf).
    */
  private def statsLinesFor(conf: org.apache.hadoop.conf.Configuration,
                            dataRoot: String, f: String): Seq[String] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(s"$dataRoot/$f"), conf))
    try {
      // per-column accumulation across the file's row groups: range
      // over value-bearing blocks, null count over all; a column with
      // any STATS-LESS block is dropped entirely (can't trust either)
      case class Acc(tpe: String, range: Option[(String, String)],
                     nulls: Long)
      val acc = scala.collection.mutable.LinkedHashMap[String, Acc]()
      val dropped = scala.collection.mutable.Set[String]()
      var rows = 0L
      val blocks = reader.getFooter.getBlocks
      (0 until blocks.size).foreach { b =>
        rows += blocks.get(b).getRowCount
        val cols = blocks.get(b).getColumns
        (0 until cols.size).map(cols.get).foreach { c =>
          val name = c.getPath.toDotString
          if (!dropped(name) && !name.contains(".")) {
            statsOf(c) match {
              case Some((tpe, range, nulls)) =>
                val merged = acc.get(name) match {
                  case None => Acc(tpe, range, nulls)
                  case Some(a) => Acc(a.tpe,
                    (a.range, range) match {
                      case (Some((mn0, mx0)), Some((mn, mx))) => Some((
                        if (statsLt(a.tpe, mn, mn0)) mn else mn0,
                        if (statsLt(a.tpe, mx0, mx)) mx else mx0))
                      case (r0, r) => r0.orElse(r)
                    },
                    if (a.nulls < 0 || nulls < 0) -1L else a.nulls + nulls)
                }
                acc += name -> merged
              case None => dropped += name; acc -= name
            }
          }
        }
      }
      acc.toSeq.map { case (name, a) =>
        Seq(f, name, a.tpe, a.range.map(_._1).getOrElse(""),
          a.range.map(_._2).getOrElse(""), a.nulls.toString,
          rows.toString).map(esc).mkString("\t")
      }
    } finally reader.close()
  }

  /** Backfill stats sidecars for data dirs that lack them (tables
    * written before data skipping existed, or whose advisory harvest
    * was skipped): for every commit dir contributing files to the
    * LATEST version without a `<dir>.stats`, harvest ranges for those
    * files. O(stats-less files) footer reads (distributed past the
    * threshold), idempotent, lock-free (sidecars are advisory,
    * dir-scoped, and written whole). Files of such a dir referenced
    * only by OLDER versions stay unharvested — historical reads simply
    * never skip. Returns the number of sidecars written.
    */
  def collectStats(spark: SparkSession, path: String): Int = {
    val fsys = fs(spark, path)
    val vs = manifestNumbers(fsys, path)
    require(vs.nonEmpty, s"no versioned table at $path")
    var written = 0
    resolveFiles(fsys, path, vs.max)
      .groupBy(_.split("/").head).foreach { case (dir, fsOfCommit) =>
        if (!fsys.exists(new HPath(s"$path/_commits/$dir.stats"))) {
          writeFileStats(fsys, spark, path, dir, fsOfCommit.map(baseOf))
          if (fsys.exists(new HPath(s"$path/_commits/$dir.stats")))
            written += 1
        }
      }
    written
  }

  /** (type tag, optional [min, max], null count) of one column chunk —
    * string/long/double plus DATE (epoch days) and int64 TIMESTAMP
    * (epoch micros) logical types; None for missing stats or
    * stats-unfriendly physical types (the file then reads unskipped).
    * An all-null chunk keeps its null count with no range.
    */
  private def statsOf(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(String, Option[(String, String)], Long)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
    if (st == null || st.isEmpty) return None
    import org.apache.parquet.column.statistics._
    val logical = c.getPrimitiveType.getLogicalTypeAnnotation
    val tpeAndRange: Option[(String, Option[(String, String)])] = st match {
      case s: IntStatistics =>
        val tpe = logical match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "date"
          case _ => "long"
        }
        Some((tpe, if (!st.hasNonNullValue) None
          else Some((s.getMin.toLong.toString, s.getMax.toLong.toString))))
      case s: LongStatistics =>
        // timestamps normalize to EPOCH MICROS whatever the file's unit,
        // so one "timestamp" domain serves bounds and comparisons
        val scale = logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
              case _ => return None // nanos: out of scope
            }
          case _ => 0L // plain long
        }
        val tpe = if (scale == 0L) "long" else "timestamp"
        val k = math.max(scale, 1L)
        Some((tpe, if (!st.hasNonNullValue) None
          else Some(((s.getMin * k).toString, (s.getMax * k).toString))))
      case s: FloatStatistics =>
        Some(("double", if (!st.hasNonNullValue) None
          else Some((s.getMin.toDouble.toString, s.getMax.toDouble.toString))))
      case s: DoubleStatistics =>
        Some(("double", if (!st.hasNonNullValue) None
          else Some((s.getMin.toString, s.getMax.toString))))
      case s: BinaryStatistics
          if logical == LogicalTypeAnnotation.stringType() =>
        Some(("string", if (!st.hasNonNullValue) None
          else Some((new String(s.getMinBytes, "UTF-8"),
            new String(s.getMaxBytes, "UTF-8")))))
      case _ => None
    }
    tpeAndRange.map { case (tpe, range) =>
      (tpe, range, if (st.isNumNullsSet) st.getNumNulls else -1L)
    }
  }

  private def statsLt(tpe: String, a: String, b: String): Boolean = tpe match {
    case "long" | "date" | "timestamp" => a.toLong < b.toLong
    case "double" => a.toDouble < b.toDouble
    case _ =>
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
  }

  /** Coerce a caller's bound value into a stat domain's comparable
    * string — date bounds to epoch days, timestamp bounds to epoch
    * micros, the rest to their parse-able text form. None = the bound
    * cannot be compared against this stat type, so skipping must keep
    * the file (layout, never correctness).
    */
  private def coerceBound(tpe: String, bound: Any): Option[String] =
    scala.util.Try {
      (tpe, bound) match {
        case ("date", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
        case ("date", d: java.time.LocalDate) => d.toEpochDay.toString
        case ("date", s: String) =>
          java.time.LocalDate.parse(s).toEpochDay.toString
        case ("date", n: Number) => n.longValue.toString
        case ("timestamp", t: java.sql.Timestamp) =>
          (t.getTime * 1000L + (t.getNanos / 1000L) % 1000L).toString
        case ("timestamp", i: java.time.Instant) =>
          (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
        case ("timestamp", s: String) =>
          val i = java.time.Instant.parse(s)
          (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
        case ("timestamp", n: Number) => n.longValue.toString
        case ("long", v) => v.toString.toLong.toString
        case ("double", v) => v.toString.toDouble.toString
        case ("string", v) => v.toString
        case _ => return None
      }
    }.toOption

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'; case 'n' => b += '\n'; case c => b += c
        }
        i += 2
      } else { b += s.charAt(i); i += 1 }
    }
    b.toString
  }

  /** Per-file stats of `column` for the given files, from the data
    * dirs' stats sidecars: (type, optional [min, max], null count
    * (-1 unknown), row count). Files missing from every sidecar get no
    * entry and are never skipped.
    */
  /** Test seam: sidecar files opened-and-parsed by [[fileStats]] since
    * the last reset — lets specs pin "one parse per sidecar, not per
    * probed key" on the batch-lookup paths.
    */
  private[catalog] val statsSidecarOpens =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def fileStats(fsys: FileSystem, path: String,
                        files: Seq[String], column: String)
      : Map[String, (String, Option[(String, String)], Long, Long)] =
    fileStatsAll(fsys, path, files, Set(column))
      .map { case (f, byCol) => f -> byCol(column) }

  /** [[fileStats]] for a SET of columns in one pass: each contributing
    * dir's sidecar is opened and parsed ONCE, whatever the column (and,
    * via the callers, key) count — file → column → stats. A legacy
    * pre-upgrade table keyed its sidecars by VERSION (`v-N.stats` for
    * data dir `c-N`, before writer nonces existed): when the dir-keyed
    * sidecar is absent and the dir is un-nonced, the version-keyed one
    * is consulted so existing tables keep their data skipping.
    */
  private[catalog] def fileStatsAll(fsys: FileSystem, path: String,
                           files: Seq[String], columns: Set[String])
      : Map[String, Map[String, (String, Option[(String, String)], Long, Long)]] = {
    // sidecar lines name BASE data files; callers pass manifest ENTRIES
    // (possibly DV-suffixed) and look up by the same key — translate.
    // Stats stay valid under a DV: deleted rows only shrink the true
    // range/counts, and skipping judgments are conservative.
    val entryOf = files.map(e => baseOf(e) -> e).toMap
    val byCommit = files.groupBy(_.split("/").head)
    byCommit.keys.flatMap { dir =>
      val p = new HPath(s"$path/_commits/$dir.stats")
      val sidecar =
        if (fsys.exists(p)) Some(p)
        else if (dir.matches("c-\\d+"))
          Some(new HPath(s"$path/_commits/v-${dir.drop(2)}.stats"))
            .filter(fsys.exists)
        else None
      sidecar match {
        case None => Seq.empty
        case Some(sp) =>
          statsSidecarOpens.incrementAndGet()
          val in = fsys.open(sp)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          s.split("\n").toSeq.flatMap { line =>
            line.split("\t", -1) match {
              case Array(f, col, tpe, mn, mx, nulls, rows)
                  if columns.contains(unesc(col)) =>
                val range = if (mn.isEmpty && mx.isEmpty) None
                  else Some((unesc(mn), unesc(mx)))
                val fb = unesc(f)
                Some((entryOf.getOrElse(fb, fb), unesc(col), (unesc(tpe), range,
                  scala.util.Try(unesc(nulls).toLong).getOrElse(-1L),
                  scala.util.Try(unesc(rows).toLong).getOrElse(-1L))))
              case _ => None
            }
          }
      }
    }.toSeq.groupBy(_._1)
      .map { case (f, rows) =>
        f -> rows.map { case (_, c, st) => c -> st }.toMap }
  }

  /** Read a snapshot restricted to `lo <= column <= hi`, FILE-SKIPPED
    * through the commit stats sidecars: files whose harvested [min, max]
    * cannot intersect the bound are dropped from the plan before any
    * footer is opened — Delta-style data skipping, the level above
    * parquet's own row-group pruning. Files without stats always read;
    * the residual filter applies regardless, so the result is exact
    * whatever the sidecars know. Bounds are the column's value type
    * (string or numeric). Null `lo`/`hi` leaves that side unbounded.
    */
  def readWhere(spark: SparkSession, path: String, column: String,
                lo: Any, hi: Any, version: Int = -1): DataFrame =
    readWhereAll(spark, path, Seq((column, lo, hi)), version)

  /** Multi-column [[readWhere]]: each bound skips independently and the
    * surviving file set is the INTERSECTION — a file must be possible
    * under every bound to be read. Bounds are (column, lo, hi) with
    * null for an open side; all residual filters apply conjunctively.
    */
  def readWhereAll(spark: SparkSession, path: String,
                   bounds: Seq[(String, Any, Any)],
                   version: Int = -1): DataFrame = {
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    // sidecar stats carry PHYSICAL column names; residual filters run
    // in logical space after the translated read
    val (cmap, drops) = schemaMetaAt(fsys, path, v)
    val all = resolveFiles(fsys, path, v)
    val kept = bounds.foldLeft(all) {
      case (files, (c, lo, hi)) =>
        skipFiles(fsys, path, files, physicalOf(cmap, c), lo, hi)
    }
    if (kept.isEmpty) return skippedRead(spark, path, all, cmap, drops)
    bounds.foldLeft(readEntries(spark, path, kept, cmap, drops)) {
      case (df, (c, lo, hi)) => (Option(lo), Option(hi)) match {
        case (Some(l), Some(h)) => df.filter(col(c).between(lit(l), lit(h)))
        case (Some(l), None) => df.filter(col(c) >= lit(l))
        case (None, Some(h)) => df.filter(col(c) <= lit(h))
        case _ => df
      }
    }
  }

  /** The subset of `files` whose stats range can intersect [lo, hi]
    * (files without stats are kept — skipping is layout, never
    * correctness). Bounds coerce into the stat domain by type: Date /
    * LocalDate bounds compare against epoch-day date stats, Timestamp /
    * Instant bounds against epoch-micro timestamp stats; a bound that
    * cannot be coerced keeps the file. A file whose stats say the
    * column is ALL NULL (no range, nulls == rows) can never satisfy a
    * range bound and is skipped.
    */
  private def skipFiles(fsys: FileSystem, path: String, files: Seq[String],
                        column: String, lo: Any, hi: Any): Seq[String] = {
    if (lo == null && hi == null) return files
    val stats = fileStats(fsys, path, files, column)
    files.filter(f => statsAdmit(stats.get(f), lo, hi))
  }

  /** The subset of `files` whose stats range can intersect [lo, hi] for
    * ANY of `points` (point bounds: lo = hi = the value) — the k-key
    * batch-lookup prune. Each contributing sidecar is parsed ONCE and
    * every file judged against all k points in memory, instead of one
    * sidecar pass per key (O(sidecar lines + files × k), not
    * O(sidecar lines × k) — the difference between a 4-alias lookup and
    * a 1000-alias batch resolve).
    */
  private def skipFilesAnyOf(fsys: FileSystem, path: String,
                             files: Seq[String], column: String,
                             points: Seq[Any]): Seq[String] = {
    val stats = fileStats(fsys, path, files, column)
    files.filter { f =>
      val st = stats.get(f)
      points.exists(x => statsAdmit(st, x, x))
    }
  }

  /** Can a file with these harvested stats contain a value in [lo, hi]?
    * (The per-file judgment [[skipFiles]] applies — no stats keeps the
    * file, a proven all-null column can match no range bound.)
    */
  private[catalog] def statsAdmit(
      st: Option[(String, Option[(String, String)], Long, Long)],
      lo: Any, hi: Any): Boolean =
    st match {
      case None => true
      case Some((tpe, None, nulls, rows)) =>
        // no range harvested: all-null columns (provably no match for
        // a range predicate) skip; anything else keeps the file
        !(nulls >= 0 && rows >= 0 && nulls == rows)
      case Some((tpe, Some((mn, mx)), _, _)) =>
        val loOk = lo == null || coerceBound(tpe, lo)
          .forall(b => !statsLt(tpe, mx, b))
        val hiOk = hi == null || coerceBound(tpe, hi)
          .forall(b => !statsLt(tpe, b, mn))
        loOk && hiOk
    }

  /** Equality point-read, file-skipped through BOTH skipping levels:
    * first the [min, max] stats sidecars, then the parquet BLOOM
    * FILTERS that [[bloomOptions]] planted at write time — on a
    * high-cardinality key every file's range spans the whole domain and
    * zone maps prune nothing, but a bloom filter PROVES the value
    * absent from most files, so a point lookup opens O(1) files instead
    * of all of them. Files without a bloom filter on the column always
    * read (proof of absence only, never of presence — false positives
    * cost a read, never correctness); the residual `=` filter applies
    * regardless. Bloom probes are footer-sized metadata reads —
    * driver-side for small candidate sets, a Spark job past the same
    * threshold as the stats harvest.
    */
  def readEquals(spark: SparkSession, path: String, column: String,
                 value: Any, version: Int = -1): DataFrame =
    readEqualsAny(spark, path, column, Seq(value), version)

  /** [[readEquals]] for a SET of keys — the batch point-lookup shape
    * (resolve k aliases, fetch k documents): files range-prune against
    * every key through the stats sidecars — each sidecar parsed ONCE
    * and judged against all k keys — then each surviving file's footer
    * is opened ONCE and its bloom filters are probed with all k hashes:
    * never k separate sidecar or footer passes. The read then filters
    * `column IN (keys)`. Cost: O(sidecar lines + files × k) metadata
    * work plus one footer read per range-surviving file.
    */
  def readEqualsAny(spark: SparkSession, path: String, column: String,
                    values: Seq[Any], version: Int = -1): DataFrame = {
    require(values.nonEmpty, "readEqualsAny needs at least one value")
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    val all = resolveFiles(fsys, path, v)
    val (cmap, drops) = schemaMetaAt(fsys, path, v)
    val pcol = physicalOf(cmap, column)
    val ranged = skipFilesAnyOf(fsys, path, all, pcol, values)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataRoot = s"$path/data"
    val kept =
      if (ranged.size <= statsDistributeThreshold)
        ranged.filter(e =>
          bloomKeepsFile(conf, dataRoot, baseOf(e), pcol, values))
      else {
        val bconf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        val slices = math.min(ranged.size,
          spark.sparkContext.defaultParallelism)
        try spark.sparkContext.parallelize(ranged, slices)
          .filter(e => bloomKeepsFile(bconf.value.value, dataRoot,
            baseOf(e), pcol, values))
          .collect().toSeq // file NAMES that survived, not data
        finally bconf.destroy()
      }
    if (kept.isEmpty) return skippedRead(spark, path, all, cmap, drops)
    readEntries(spark, path, kept, cmap, drops)
      .filter(col(column).isin(values.map(lit(_)): _*))
  }

  /** What a skip-read returns when every file of `files` is skipped:
    * no rows, under the logical schema a read of `files` would have,
    * with no file opened.
    */
  private def skippedRead(spark: SparkSession, path: String,
                          files: Seq[String], cmap: Seq[(String, String)],
                          drops: Seq[String]): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        logicalFields(spark, path, files, cmap, drops)))

  /** Can `file` contain ANY of `values` in `column`, as judged by its
    * parquet bloom filters? True (keep) when any row group's filter
    * answers "maybe" for any value, when the column has no filter, or
    * when a value's type does not match the column — only a PROVEN
    * absence of every value skips. The footer is opened once for the
    * whole value set.
    */
  private def bloomKeepsFile(conf: org.apache.hadoop.conf.Configuration,
                             dataRoot: String, file: String,
                             column: String, probes: Seq[Any]): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new HPath(s"$dataRoot/$file"), conf))
      try {
        val blocks = reader.getFooter.getBlocks
        (0 until blocks.size).exists { b =>
          val cols = blocks.get(b).getColumns
          (0 until cols.size).map(cols.get)
            .find(_.getPath.toDotString == column) match {
            case None => true // column absent in this file: keep
            case Some(meta) =>
              val bf = reader.readBloomFilter(meta)
              if (bf == null) true // no filter written: keep
              else probes.exists { value =>
                val hash = (meta.getPrimitiveType.getPrimitiveTypeName,
                    value) match {
                  case (INT64, n: Number) => Some(bf.hash(n.longValue()))
                  case (INT32, n: Number) => Some(bf.hash(n.intValue()))
                  case (DOUBLE, n: Number) => Some(bf.hash(n.doubleValue()))
                  case (FLOAT, n: Number) => Some(bf.hash(n.floatValue()))
                  case (BINARY, s: String) => Some(bf.hash(
                    org.apache.parquet.io.api.Binary.fromString(s)))
                  case _ => None // type mismatch: cannot judge, keep
                }
                hash.forall(bf.findHash)
              }
          }
        }
      } finally reader.close()
    } catch { case NonFatal(_) => true } // unreadable metadata: keep
  }

  /** Read a snapshot restricted to `column IS NULL`, file-skipped
    * through the null counts in the stats sidecars: a file whose stats
    * prove the column has ZERO nulls cannot contribute and never opens.
    * Files without stats (or without a trustworthy null count) always
    * read; the residual filter applies regardless.
    */
  def readWhereNull(spark: SparkSession, path: String, column: String,
                    version: Int = -1): DataFrame = {
    val fsys = fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    val files = resolveFiles(fsys, path, v)
    val (cmap, drops) = schemaMetaAt(fsys, path, v)
    val stats = fileStats(fsys, path, files, physicalOf(cmap, column))
    val kept = files.filter { f =>
      stats.get(f) match {
        case Some((_, _, nulls, _)) if nulls == 0L => false
        case _ => true
      }
    }
    if (kept.isEmpty) return skippedRead(spark, path, files, cmap, drops)
    readEntries(spark, path, kept, cmap, drops).filter(col(column).isNull)
  }

  /** The `pcol=value` path segment of a relative data-file path. */
  private def partitionSegment(relPath: String,
                               partitionCol: String): Option[String] =
    relPath.split("/").find(_.startsWith(partitionCol + "="))

  private[catalog] def fs(spark: SparkSession, path: String): FileSystem =
    graft.StoreLock.fs(spark, path)

  private[catalog] def manifestNumbers(fsys: FileSystem, path: String): Seq[Int] = {
    val dir = new HPath(s"$path/_commits")
    if (!fsys.exists(dir)) Seq.empty
    else fsys.listStatus(dir).toSeq.map(_.getPath.getName)
      // exact v-<digits> only: v-N.info/.checkpoint sidecars and .tmp
      // files live in the same dir
      .collect { case n if n.matches("v-\\d+") => n.drop(2).toInt }
  }

  private sealed trait Manifest
  private case class FullManifest(files: Seq[String]) extends Manifest
  private case class DeltaManifest(base: Int, added: Seq[String],
                                   removed: Seq[String]) extends Manifest

  private def readManifest(fsys: FileSystem, path: String,
                           v: Int): Manifest = {
    val p = new HPath(s"$path/_commits/v-$v")
    require(fsys.exists(p), s"no version $v at $path")
    val lines = manifestText(fsys, path, v)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    lines.headOption match {
      case Some(h) if h.startsWith("#delta") =>
        val base = "base=(\\d+)".r.findFirstMatchIn(h)
          .map(_.group(1).toInt)
          .getOrElse(sys.error(s"malformed delta header in v-$v: $h"))
        DeltaManifest(base,
          lines.tail.collect { case l if l.startsWith("+") => l.drop(1) },
          lines.tail.collect { case l if l.startsWith("-") => l.drop(1) })
      // `#`-lines (e.g. the idempotence `#txn` marker) are metadata,
      // never file names
      case _ => FullManifest(lines.filterNot(_.startsWith("#")))
    }
  }

  /** Test seam: manifest files opened-and-read since the last reset —
    * lets specs pin metadata-read bounds (e.g. the txn-floor guarantee
    * that an idle app's append does not walk every retained manifest).
    */
  private[catalog] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Process-wide manifest CONTENT cache. Manifests are write-once (a
    * claim is a rename-if-absent; no verb ever rewrites `v-N`), so
    * content keyed by (path, mtime, length) is immutable — one commit's
    * verb chain (schema gate, resolution, txn guard, conflict check)
    * re-consults the same manifest several times and pays the
    * filesystem exactly once. The (mtime, length) key costs one
    * `getFileStatus` per consult (replacing the existence probe the
    * read already made), keeps a vacuum-swept manifest from being
    * resurrected, and keeps out-of-band tampering (test fixtures
    * rewriting manifests raw) visible. Bounded LRU; entries are small
    * (delta manifests are O(batch) lines).
    */
  private val manifestTextCache =
    new java.util.LinkedHashMap[(String, Long, Long), String](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), String]): Boolean =
        size() > 512
    }

  /** Raw text of version `v`'s manifest. */
  private def manifestText(fsys: FileSystem, path: String, v: Int): String = {
    val p = new HPath(s"$path/_commits/v-$v")
    val st = try fsys.getFileStatus(p)
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"no version $v at $path")
    }
    val key = (p.toString, st.getModificationTime, st.getLen)
    manifestTextCache.synchronized(Option(manifestTextCache.get(key)))
      .getOrElse {
        manifestReads.incrementAndGet()
        val in = fsys.open(p)
        val t = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        manifestTextCache.synchronized(manifestTextCache.put(key, t): Unit)
        t
      }
  }

  /** Process-wide RESOLVED-file-set cache, keyed like
    * [[manifestTextCache]] by the version manifest's (path, mtime,
    * length): a manifest is write-once, so its resolved set is
    * immutable — one commit's verb chain (layout inference, schema
    * gate, plan base, conflict check) resolves the same version
    * several times and pays the delta-chain walk exactly once. The
    * (mtime, length) key keeps a vacuum-then-recreate table at the
    * same path from serving a stale set. Bounded LRU.
    */
  private val resolvedFilesCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[String]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[String]]): Boolean =
        size() > 256
    }

  /** Version `v`'s exact file set: the checkpoint sidecar when present,
    * else the manifest — applying delta manifests back to the nearest
    * full/checkpointed base (a bounded walk; see [[checkpointInterval]]).
    * Cached per immutable manifest (see [[resolvedFilesCache]]).
    */
  private[catalog] def resolveFiles(fsys: FileSystem, path: String,
                           v: Int): Seq[String] = {
    val mp = new HPath(s"$path/_commits/v-$v")
    val st = try fsys.getFileStatus(mp)
    catch {
      case _: java.io.FileNotFoundException =>
        // a crash between vacuum's manifest and checkpoint deletes can
        // leave a checkpoint without its manifest — still resolvable
        return resolveFilesUncached(fsys, path, v)
    }
    val key = (mp.toString, st.getModificationTime, st.getLen)
    resolvedFilesCache.synchronized(Option(resolvedFilesCache.get(key)))
      .getOrElse {
        val files = resolveFilesUncached(fsys, path, v)
        resolvedFilesCache.synchronized(
          resolvedFilesCache.put(key, files): Unit)
        files
      }
  }

  private def resolveFilesUncached(fsys: FileSystem, path: String,
                                   v: Int): Seq[String] = {
    val ckpt = new HPath(s"$path/_commits/v-$v.checkpoint")
    if (fsys.exists(ckpt)) {
      val in = fsys.open(ckpt)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      return s.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
    readManifest(fsys, path, v) match {
      case FullManifest(files) => files
      case DeltaManifest(base, added, removed) =>
        val rm = removed.toSet
        resolveFiles(fsys, path, base).filterNot(rm) ++ added
    }
  }

  private def listFilesRec(fsys: FileSystem, dir: String): Seq[String] =
    listStatusRec(fsys, dir).map(_.getPath.toString)

  /** Recursive data-file listing via plain `listStatus` — deliberately
    * NOT `fsys.listFiles(p, recursive)`, whose `LocatedFileStatus`
    * iterator resolves block locations per file (an extra metadata
    * round-trip each, ~0.15 s per 20-file commit on local fs, worse on
    * HDFS); commit bookkeeping only needs names and lengths. Hidden
    * files/dirs (`_`, `.`) are skipped at every level.
    */
  private def listStatusRec(fsys: FileSystem,
                            dir: String): Seq[FileStatus] = {
    val p = new HPath(dir)
    val top = try fsys.listStatus(p)
    catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
    def walk(sts: Array[FileStatus]): Unit = sts.foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory) walk(fsys.listStatus(st.getPath))
        else buf += st
      }
    }
    walk(top)
    buf.toSeq
  }

  // ---------------- scanned-file identity ----------------
  //
  // A scan reports its files URI-ENCODED (`input_file_name()`,
  // `_metadata.file_path`): partition dir `city=new york` reads
  // `city=new%20york`, and the hive-escaped `city=a%3Ab` reads
  // `city=a%253Ab`. Manifest entries hold the RAW data-root-relative
  // path. These helpers are the one mapping between the two: collected
  // scan names decode on the driver ([[manifestName]]), and manifest
  // names encode once into the scan's form ([[scanForm]]) for per-row
  // predicates, which then compare with one substring ([[scanRel]]).

  /** The data-root-relative part of a scan-reported file name, still in
    * the scan's encoded form; a name without a "/data/" is already
    * relative. The LAST "/data/": the user's table path may itself
    * contain /data/, while inside the layout no segment can be a bare
    * "data" (commit dirs are c-N, partition dirs contain '='). Cheap
    * enough per row.
    */
  private[catalog] def scanRel(fp: String): String = {
    val i = fp.lastIndexOf("/data/")
    if (i >= 0) fp.substring(i + "/data/".length) else fp
  }

  /** The data-root-relative path of a LISTED data file (a listing's
    * `Path.toString` is already decoded, unlike a scan's name).
    */
  private def relativize(file: String): String = {
    require(file.contains("/data/"), s"data file outside table layout: $file")
    scanRel(file)
  }

  /** [[scanRel]] over a column of scan-reported file names. */
  private[catalog] def scanRel(fp: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_extract(fp, "^.*/data/(.*)$", 1)

  /** The manifest name of a collected scan-reported file name: its
    * [[scanRel]] part URI-decoded, as `new Path(new URI(s))` decodes.
    */
  private[catalog] def manifestName(scanned: String): String =
    new java.net.URI(scanRel(scanned)).getPath

  /** The scan's encoded form of a manifest name — what [[scanRel]]
    * yields for that file (Hadoop's `Path.toUri` quoting, which the scan
    * reports).
    */
  private[catalog] def scanForm(entry: String): String =
    new HPath("/" + entry).toUri.getRawPath.drop(1)
}
