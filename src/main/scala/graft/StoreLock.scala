package graft

/** Single-writer guard + filesystem handle shared by the persisted
  * stores. For the two incremental segment stores (the MinHash signature
  * store in [[graft.ext.Dedup]] and the FTS store in
  * [[graft.fts.FtsStore]]) the lock guards COMPACTIONS only — appends
  * are lock-free segment commits ([[graft.SegmentLog]]);
  * [[graft.catalog.VersionedTable]]'s vacuum takes it too. One audited
  * implementation of the token read-back protocol instead of drifting
  * copies.
  */
private[graft] object StoreLock {

  def fs(spark: org.apache.spark.sql.SparkSession,
         path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Single-writer guard: `path/_lock` created with fail-if-exists
    * semantics. A concurrent lock holder (or a crashed writer's
    * stale lock) fails FAST with a clear error instead of racing the
    * manifest commit into a corrupt store.
    *
    * ATOMICITY CAVEAT: `fs.create(lock, overwrite=false)` is an atomic
    * test-and-create only on HDFS-class filesystems. On LocalFileSystem
    * (ChecksumFileSystem) and object stores such as S3A, the existence
    * check is a separate operation (TOCTOU), so two writers racing within
    * that window could both "acquire" the lock. To detect that lost race
    * we write a per-writer unique token and READ IT BACK before running
    * the body: on a last-write-wins filesystem the loser's read-back
    * mismatches and it aborts before touching the store. This NARROWS the
    * window, it does not close it — a racer whose create lands after a
    * successful read-back still yields two silent writers on a
    * non-atomic-create filesystem. Hard mutual exclusion requires an
    * atomic-create filesystem (HDFS, ABFS) or an external coordinator.
    */
  def withLock[T](fs: org.apache.hadoop.fs.FileSystem, path: String,
                  what: String = "store")(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$path/_lock")
    val token = s"pid=${ProcessHandle.current().pid()} " +
      s"nonce=${java.util.UUID.randomUUID()} ts=${System.currentTimeMillis()}\n"
    val out =
      try fs.create(lock, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"$what at $path is locked: compactions and vacuums are " +
            s"SINGLE-WRITER. Another writer holds $lock — or a previous " +
            "writer crashed; verify no writer is live and remove the lock " +
            "file to recover.", e)
      }
    // we may not own the lock until the read-back confirms our token —
    // a detected lost race must leave the file in place (it is the
    // WINNING writer's lock now), so the release is scoped below
    val owned =
      try {
        try {
          out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } finally out.close()
        val in = fs.open(lock)
        val readBack = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        readBack == token
      } catch { case t: Throwable =>
        // clean up ONLY if the lock still holds this writer's token: a
        // blind delete here could remove a lock a concurrent winner now
        // owns (the exact lost race the read-back detects). If the file
        // holds anything else — the winner's token, or this writer's
        // half-written one — leave it; a stale lock fails loud with
        // recovery instructions, a deleted live lock corrupts silently.
        try {
          val in = fs.open(lock)
          val cur = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
          if (cur == token) fs.delete(lock, false)
        } catch { case _: Throwable => () }
        // a torn read-back (e.g. ChecksumException under a concurrent
        // writer's in-flight token write) IS the lost race — surface it
        // as the lock error, not a filesystem internal
        throw new IllegalStateException(
          s"$what at $path is locked: compactions and vacuums are " +
            s"SINGLE-WRITER, and this writer's lock read-back at $lock " +
            "failed under a concurrent writer — aborting before " +
            "touching the store; re-run when the other writer finishes.",
          t)
      }
    if (!owned)
      throw new IllegalStateException(
        s"$what at $path is SINGLE-WRITER and its lock at $lock was " +
          "overwritten by a concurrent writer after this writer's create " +
          "succeeded (non-atomic create on this filesystem) — aborting " +
          "before touching the store; re-run when the other writer " +
          "finishes.")
    try body finally fs.delete(lock, false)
  }
}
