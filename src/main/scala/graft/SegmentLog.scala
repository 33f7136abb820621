package graft

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The commit protocol of the persisted incremental stores — the FTS
  * segment store ([[graft.fts.FtsStore]]) and the MinHash signature
  * store ([[graft.ext.Dedup.appendSignatureStore]]). Both are an
  * append-only list of IMMUTABLE segments under a versioned manifest:
  * {{{
  *   path/meta.json       creation-time parameters, written once
  *   path/manifest-N      live segment ids; highest N wins (commit point)
  *   path/_claims/seg-S   segment-id claim markers
  *   path/seg-S/...       one segment's files (layout is the store's)
  * }}}
  * An absent manifest reads as the EMPTY store.
  *
  *  - '''appends are OPTIMISTIC and lock-free''' ([[commitSegment]]): a
  *    writer CLAIMS a segment id by conditionally renaming a marker into
  *    `_claims/seg-S` (rename onto an existing file is refused on local
  *    and HDFS-class filesystems, so ids are exclusive with no lock),
  *    builds `seg-S` under the claimed name, then claims
  *    `manifest-(latest+1)` the same way. A lost manifest race
  *    re-resolves and retries — appends REBASE (segment lists union,
  *    nothing removed). Before committing, an append whose segment is no
  *    longer the highest id RE-NUMBERS (fresh claim + one dir rename), so
  *    latest-segment-wins supersession always favors the later commit.
  *    A crashed append leaves an unreferenced claimed segment and the
  *    store at its pre-append state.
  *  - '''compaction''' ([[compact]]) takes the store `_lock`, which
  *    excludes other compactions only, packs the live segments into one
  *    fresh segment and commits it only if nothing committed since its
  *    plan — otherwise it replans, since the pack must cover every
  *    committed append.
  *  - '''retention''' ([[sweep]]): superseded segments and manifests
  *    stay `retainCycles` compactions, so a reader that resolved any
  *    retained manifest keeps valid paths; never-committed segments are
  *    deleted only past a grace window (an in-flight lock-free append is
  *    indistinguishable from a crashed one).
  *  - '''reads''' take each kind of file's store-constant schema from one
  *    driver-side footer read ([[leafSchema]]), never from a Spark
  *    schema-inference job.
  */
private[graft] object SegmentLog {

  /** Per-store JVM monitor: in-process writers serialize the tiny
    * metadata-only claim steps (exact same-JVM races); cross-process
    * exclusion rests on the conditional renames.
    */
  private val claimMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def claimMonitor(path: String): Object =
    claimMonitors.computeIfAbsent(path, _ => new Object)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def tmpName(prefix: String): String =
    f"$prefix.${scala.util.Random.nextInt(0x10000)}%04x.tmp"

  /** Write `dir/name` only if it does not exist yet: tmp + CONDITIONAL
    * rename — the rename is both the atomic content point (a reader never
    * sees a half-written file) and the claim (refused when the name
    * already exists), so at most one writer wins it. Returns whether this
    * writer won; a loss leaves no litter.
    */
  private def writeOnce(fs: FileSystem, dir: String, name: String,
                        bytes: Array[Byte]): Boolean = {
    val tmp = new HPath(s"$dir/${tmpName(s".$name")}")
    val out = fs.create(tmp, false)
    try out.write(bytes)
    finally out.close()
    fs.rename(tmp, new HPath(s"$dir/$name")) || {
      try fs.delete(tmp, false)
      catch { case _: java.io.IOException => () }
      false
    }
  }

  /** Ids of the `seg-N` entries directly under `dir` (none if absent). */
  private def segIds(fs: FileSystem, dir: HPath): Set[Int] =
    try fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("seg-\\d+") => n.drop(4).toInt }.toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** Atomically claim the next free segment id: conditionally rename a
    * marker into `_claims/seg-N`, so each id has at most one owner and
    * two writers can never build the same `seg-N` dir. Crashed claims
    * merely skip ids; markers are grace-swept with their segments.
    */
  def claimSeg(fs: FileSystem, path: String): Int =
    claimMonitor(path).synchronized {
      val claimsDir = new HPath(s"$path/_claims")
      if (!fs.exists(claimsDir)) fs.mkdirs(claimsDir)
      var n = ((segIds(fs, new HPath(path)) ++ segIds(fs, claimsDir)) + -1)
        .max + 1
      var attempts = 0
      while (attempts < 1000) {
        attempts += 1
        val tmp = new HPath(s"$path/_claims/${tmpName(".claim")}")
        fs.create(tmp, false).close()
        if (fs.rename(tmp, new HPath(s"$path/_claims/seg-$n"))) return n
        try fs.delete(tmp, false)
        catch { case _: java.io.IOException => () }
        n += 1
      }
      throw new IllegalStateException(
        s"segment claim at $path lost 1000 straight races — aborting")
    }

  /** The optimistic append commit: claim a segment id, `build` the
    * `seg-S` dir under it, then claim `manifest-(latest+1)` adding the
    * segment — re-resolving on a lost race, and RE-NUMBERING (fresh
    * claim + dir rename, no data rewrite) whenever the manifest gained a
    * segment with a higher id. `what` names the operation in errors.
    */
  def commitSegment(fs: FileSystem, path: String, what: String)
                   (build: Int => Unit): Unit = {
    var seg = claimSeg(fs, path)
    build(seg)
    betweenBuildAndCommit()
    var attempts = 0
    while (attempts < 1000) {
      attempts += 1
      val committed = claimMonitor(path).synchronized {
        val (mN, segs) = readManifest(fs, path)
        if (segs.exists(_ > seg)) {
          val fresh = claimSeg(fs, path)
          if (!fs.rename(new HPath(s"$path/seg-$seg"),
              new HPath(s"$path/seg-$fresh")))
            throw new IllegalStateException(
              s"segment re-number rename failed: seg-$seg -> seg-$fresh")
          seg = fresh
          false
        } else tryWriteManifest(fs, path, mN + 1, segs :+ seg)
      }
      if (committed) return
    }
    throw new IllegalStateException(
      s"$what at $path lost 1000 straight commit races — aborting")
  }

  /** Test seam: runs between an append's segment build and its manifest
    * claim. No-op outside tests.
    */
  private[graft] var betweenBuildAndCommit: () => Unit = () => ()

  /** Compaction under the store `_lock`: `pack` writes the live segments
    * (passed in) into a freshly claimed segment and returns the new live
    * list; it commits only if no manifest landed since the plan, else
    * replans. A committed pack is followed by the [[sweep]]. An empty
    * store has nothing to compact.
    */
  def compact(fs: FileSystem, path: String, what: String,
              retainCycles: Int, orphanGraceMs: Long)
             (pack: Seq[Int] => Seq[Int]): Unit =
    StoreLock.withLock(fs, path, what) {
      var attempts = 0
      var done = false
      while (!done && attempts < 5) {
        attempts += 1
        val (mN, segs) = readManifest(fs, path)
        if (segs.isEmpty) done = true
        else {
          val packed = pack(segs)
          // a lost race means an append this pack does not contain; the
          // orphaned packed segment is grace-swept later
          done = claimMonitor(path).synchronized {
            readManifest(fs, path)._1 == mN &&
              tryWriteManifest(fs, path, mN + 1, packed)
          }
          if (done) sweep(fs, path, retainCycles, orphanGraceMs)
        }
      }
      if (!done) throw new IllegalStateException(
        s"$what compaction at $path lost 5 straight replans to " +
          "concurrent appends — rerun when the ingest quiesces")
    }

  /** The commit point: `manifest-N`, content the live segment ids,
    * written once ([[writeOnce]]) so at most one writer wins each number.
    * Object stores without atomic rename need an external committer —
    * the standard lakehouse caveat.
    */
  def tryWriteManifest(fs: FileSystem, path: String, n: Int,
                       segs: Seq[Int]): Boolean =
    writeOnce(fs, path, s"manifest-$n", segs.mkString(",").getBytes("UTF-8"))

  private def manifestSegs(fs: FileSystem, path: String, n: Int): Seq[Int] = {
    val in = fs.open(new HPath(s"$path/manifest-$n"))
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    s.trim.split(",").filter(_.nonEmpty).map(_.toInt).toSeq
  }

  /** `(latest manifest number, live segment ids)`; `(-1, empty)` when no
    * manifest exists yet (the empty store).
    */
  def readManifest(fs: FileSystem, path: String): (Int, Seq[Int]) =
    manifestNumbers(fs, path).maxOption match {
      case Some(n) => (n, manifestSegs(fs, path, n))
      case None => (-1, Seq.empty)
    }

  private def manifestNumbers(fs: FileSystem, path: String): Seq[Int] =
    try fs.listStatus(new HPath(path)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("manifest-\\d+") => n.drop(9).toInt }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** One past the highest on-disk manifest (0 for a fresh store). */
  def nextManifestNumber(fs: FileSystem, path: String): Int =
    (manifestNumbers(fs, path) :+ -1).max + 1

  /** Deferred sweep: keep the `retainCycles + 1` newest manifests and
    * every segment any of them references; delete the rest (superseded
    * segments, old manifests). A segment referenced by NO manifest could
    * be a crashed append — or a lock-free in-flight one between its build
    * and its manifest claim — so unreferenced segments (and their claim
    * markers, and stray claim tmps) are deleted only past `orphanGraceMs`.
    */
  private def sweep(fs: FileSystem, path: String,
                    retainCycles: Int, orphanGraceMs: Long): Unit = {
    val all = manifestNumbers(fs, path).sorted.reverse
    val keepManifests = all.take(retainCycles + 1).toSet
    val segsOf = all.map(n => n -> manifestSegs(fs, path, n)).toMap
    val keepSegs = keepManifests.flatMap(segsOf)
    // every segment any RETAINED OR SWEPT manifest referenced: committed
    // history, safe to delete at once — only never-referenced segments
    // need the grace window
    val referenced = segsOf.values.flatten.toSet
    val now = System.currentTimeMillis()
    def pastGrace(p: HPath): Boolean =
      scala.util.Try(
        now - fs.getFileStatus(p).getModificationTime > orphanGraceMs
      ).getOrElse(false)
    all.filterNot(keepManifests).foreach { n =>
      fs.delete(new HPath(s"$path/manifest-$n"), false)
    }
    (segIds(fs, new HPath(path)) -- keepSegs).foreach { s =>
      val dir = new HPath(s"$path/seg-$s")
      if (referenced.contains(s) || pastGrace(dir)) {
        fs.delete(dir, true)
        fs.delete(new HPath(s"$path/_claims/seg-$s"), false)
      }
    }
    // stray claim leftovers: markers whose segment never materialized,
    // and tmp files whose rename never ran — grace-gated (a live claim
    // sits in this window for milliseconds)
    val claimsDir = new HPath(s"$path/_claims")
    if (fs.exists(claimsDir))
      fs.listStatus(claimsDir).toSeq.map(_.getPath).foreach { p =>
        val name = p.getName
        val stray =
          (name.matches("seg-\\d+") &&
            !fs.exists(new HPath(s"$path/seg-${name.drop(4)}"))) ||
          (name.startsWith(".") && name.endsWith(".tmp"))
        if (stray && pastGrace(p)) fs.delete(p, false)
      }
  }

  /** Per-store schema cache for segment reads: every segment of a store
    * is written by the same pipeline, so each `kind` of file (the FTS
    * store's postings and docs, the signature store's sigs and buckets)
    * has a store-constant schema — one footer read per store per JVM
    * instead of one schema-inference job per read. Keyed by the store's
    * `meta.json` CREATION NONCE (written once at creation, ~60 bytes —
    * reading the content costs the same one FS op as a status probe), so
    * a store deleted and re-created at the same path can never be read
    * with the old store's schema, even when the new meta.json lands in
    * the same mtime tick with the same byte length. A store without a
    * nonce (the signature store, pre-nonce FTS stores) keys on the whole
    * meta content plus its (mtime, length), the identity the nonce
    * replaced. Bounded LRU. Holds FILE schemas: leaf-dir reads carry no
    * partition column, and a partitioned read takes its partition
    * columns from the paths.
    */
  private val schemaCache =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > 256
    }

  /** The store-constant file schema of `kind`, derived once per store
    * per JVM from `sampleDir` (a leaf dir of that kind: no partition
    * discovery, so the schema is the files' own) by [[footerSchema]];
    * `sampleDir` is evaluated only on a cache miss.
    */
  def leafSchema(spark: SparkSession, path: String, kind: String,
                 sampleDir: => String): StructType = {
    val metaId = scala.util.Try {
      val fs = StoreLock.fs(spark, path)
      val meta = readMeta(fs, path).get
      meta.get("nonce").getOrElse {
        val st = fs.getFileStatus(new HPath(s"$path/meta.json"))
        s"$meta@${st.getModificationTime}:${st.getLen}"
      }
    }.toOption
    val key = metaId.map(id => s"$path#$kind#$id")
    val cached = key.flatMap(k =>
      schemaCache.synchronized(Option(schemaCache.get(k))))
    cached.getOrElse {
      val sch = footerSchema(spark, sampleDir)
      key.foreach(k => schemaCache.synchronized(
        schemaCache.put(k, sch): Unit))
      sch
    }
  }

  /** What `spark.read.parquet(dir).schema` infers for a leaf dir of
    * same-schema files: the footer schema of its first file by path,
    * the one file that inference reads, read on the driver.
    */
  def footerSchema(spark: SparkSession, dir: String): StructType = {
    val files = StoreLock.fs(spark, dir).listStatus(new HPath(dir))
      .map(_.getPath)
      .filter { p =>
        !p.getName.startsWith("_") && !p.getName.startsWith(".")
      }
    require(files.nonEmpty, s"no parquet file in $dir")
    graft.catalog.VersionedTable.footerSchema(spark,
      files.minBy(_.toString))
  }

  /** `path/meta.json` as field -> text value; None if absent. */
  def readMeta(fs: FileSystem, path: String): Option[Map[String, String]] = {
    val in =
      try fs.open(new HPath(s"$path/meta.json"))
      catch { case _: java.io.FileNotFoundException => return None }
    val node = try mapper.readTree(in) finally in.close()
    import scala.jdk.CollectionConverters._
    Some(node.properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap)
  }

  /** Write `path/meta.json` once ([[writeOnce]]) and return the meta that
    * is on disk afterwards: this writer's, or a racing creator's that
    * renamed first. Callers compare it with their own, so two racing
    * first writers with different parameters cannot both proceed. The
    * write and its re-read run under the store's monitor: a local
    * filesystem checks the rename target and renames in two steps, so
    * two same-JVM creators could otherwise both rename and each read
    * back its own meta.
    */
  def createMeta(fs: FileSystem, path: String,
                 fields: Seq[(String, Any)]): Map[String, String] = {
    val json = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => json.put(k, v) }
    claimMonitor(path).synchronized {
      writeOnce(fs, path, "meta.json", mapper.writeValueAsBytes(json)): Unit
      readMeta(fs, path).getOrElse(throw new IllegalStateException(
        s"meta.json at $path vanished right after its creation"))
    }
  }
}
