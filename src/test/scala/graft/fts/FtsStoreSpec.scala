package graft.fts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{PlanDig, TestSpark}

/** The incremental FTS segment store: supersession, tombstones, O(batch)
  * appends, bucket-pruned probes, persisted BM25 stats, reader-safe
  * compaction with two-generation retention — each asserted against the
  * build-once index over the store's logical current corpus.
  */
class FtsStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newStore(): String =
    graft.Caches.newTempDir("fts_store_spec").toString + "/store"

  private val corpus = Seq(
    (1L, "spark catalyst engine rewrites plans"),
    (2L, "duckdb embedded analytical engine"),
    (3L, "spark streaming micro batch watermarks"),
    (4L, "window functions rank over partitions"),
    (5L, "spark window aggregation engine"),
    (6L, "plain text with no query terms at all")
  ).toDF("doc_id", "text")

  /** Store grown with churn: create 1-4, append 5-6, UPDATE doc 3 (new
    * text), delete doc 2. Logical current corpus: 1,3',4,5,6.
    */
  private def grownStore(): (String, DataFrame) = {
    val store = newStore()
    FtsStore.create(corpus.filter($"doc_id" <= 4), "doc_id", Seq("text"),
      store, numBuckets = 4)
    FtsStore.append(corpus.filter($"doc_id" > 4), "doc_id", Seq("text"), store)
    val updated = Seq((3L, "spark batch engine updated twice updated"))
      .toDF("doc_id", "text")
    FtsStore.append(updated, "doc_id", Seq("text"), store)
    FtsStore.delete(Seq(2L).toDF("doc_id"), "doc_id", store)
    val currentCorpus = corpus.filter($"doc_id" =!= 2L && $"doc_id" =!= 3L)
      .unionByName(updated)
    (store, currentCorpus)
  }

  private def postingsSet(df: DataFrame): Set[(String, Long, Long, Seq[Int])] =
    df.select("term", "doc_id", "tf", "positions").collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).toList: Seq[Int])
    }.toSet

  test("create/append/update/delete resolve to exactly the fresh-build index") {
    val (store, cur) = grownStore()
    val expected = postingsSet(Fts.buildPositionalIndex(cur, "doc_id", Seq("text")))
    assert(postingsSet(FtsStore.postings(spark, store)) == expected)
    // the updated doc's OLD postings are gone, new ones present
    val terms = FtsStore.postings(spark, store)
      .filter($"doc_id" === 3L).select("term").as[String].collect().toSet
    assert(terms.contains("updated") && !terms.contains("streaming"))
    // tombstoned doc gone from postings and stats
    assert(FtsStore.postings(spark, store).filter($"doc_id" === 2L).isEmpty)
    assert(FtsStore.liveDocs(spark, store).filter($"doc_id" === 2L).isEmpty)
  }

  test("append is O(batch): existing segment files untouched, one new segment") {
    val store = newStore()
    FtsStore.create(corpus.filter($"doc_id" <= 4), "doc_id", Seq("text"),
      store, numBuckets = 4)
    def snapshot(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(store.stripPrefix("file:"))
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = snapshot()
    FtsStore.append(corpus.filter($"doc_id" > 4), "doc_id", Seq("text"), store)
    val after = snapshot()
    // every pre-append file survives byte-for-byte (same path, same mtime)
    before.foreach { case (p, m) =>
      assert(after.contains(p) && after(p) == m, s"append touched $p") }
    // additions confined to the new segment dir + one manifest file +
    // the segment's one-byte claim marker
    val added = (after.keySet -- before.keySet).filterNot(_.contains("/."))
    assert(added.nonEmpty)
    assert(added.forall(p => p.contains("/seg-1/") ||
        p.endsWith("manifest-1") || p.contains("/_claims/")),
      s"unexpected additions: $added")
  }

  test("term probe prunes to the query terms' tb partitions") {
    val (store, _) = grownStore()
    val pruned = FtsStore.postingsForTerms(spark, store, Seq("spark"))
    val plan = pruned.queryExecution.executedPlan.toString
    // r20 one-relation probe: bucket pruning is DIR SELECTION before the
    // scan (the file index holds only the query terms' tb dirs), and all
    // live segments read through ONE postings scan node
    val tb = FtsStore.termBucket("spark", 4)
    val postingsScans = PlanDig.scansOf(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    assert(postingsScans.size == 1,
      s"expected ONE postings scan relation, got ${postingsScans.size}:\n$plan")
    val roots = postingsScans.head.relation.location.rootPaths.map(_.toString)
    assert(roots.nonEmpty && roots.forall(_.endsWith(s"/tb=$tb")),
      s"postings file index not pruned to tb=$tb dirs: $roots")
    // the churn resolution must reach the fat postings as a BROADCAST
    // anti-join — a shuffled anti-join here would be the O(store)
    // query-time cost the design promises away
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"churn anti-join not broadcast:\n$plan")
    // and the pruned read still resolves supersession identically
    val full = FtsStore.postings(spark, store).filter($"term" === "spark")
    assert(postingsSet(pruned.filter($"term" === "spark")) == postingsSet(full))
  }

  test("BM25 from persisted doc stats equals BM25 recomputed from a fresh index") {
    val (store, cur) = grownStore()
    val fresh = Fts.searchBm25From(
      Fts.buildPositionalIndex(cur, "doc_id", Seq("text")), cur,
      Seq("spark", "engine"))
      .select($"doc_id", round($"score", 9).as("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val stored = FtsStore.searchBm25(spark, store, Seq("spark", "engine"))
      .select($"doc_id", round($"score", 9).as("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(stored == fresh && stored.nonEmpty)
  }

  test("compaction preserves results, retains two generations, then sweeps") {
    val (store, cur) = grownStore()
    val expected = postingsSet(Fts.buildPositionalIndex(cur, "doc_id", Seq("text")))
    // a reader plans against the pre-compaction manifest...
    val preReader = FtsStore.postings(spark, store)
    FtsStore.compact(spark, store)
    // ...and still executes completely (retained paths stay valid)
    assert(postingsSet(preReader) == expected)
    assert(postingsSet(FtsStore.postings(spark, store)) == expected)
    val root = new java.io.File(store)
    assert(root.listFiles().exists(_.getName == "seg-0"),
      "first compaction must retain superseded segments for in-flight readers")
    FtsStore.compact(spark, store)
    FtsStore.compact(spark, store)
    assert(!root.listFiles().exists(_.getName == "seg-0"),
      "seg-0 should be swept after falling out of the retained manifests")
    assert(postingsSet(FtsStore.postings(spark, store)) == expected)
    // churn is gone: exactly one live segment now
    val (_, segs) = graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, store), store)
    assert(segs.size == 1)
  }

  test("a stale lock blocks no append; compaction still excludes itself") {
    val (store, cur) = grownStore()
    // a crashed compaction's leftover lock: appends are optimistic and
    // must sail past it
    val lock = new java.io.File(store, "_lock")
    assert(lock.createNewFile())
    try {
      FtsStore.append(Seq((9L, "more text")).toDF("doc_id", "text"),
        "doc_id", Seq("text"), store)
      val withNew = cur.unionByName(Seq((9L, "more text")).toDF("doc_id", "text"))
      assert(postingsSet(FtsStore.postings(spark, store)) ==
        postingsSet(Fts.buildPositionalIndex(withNew, "doc_id", Seq("text"))))
      val e = intercept[IllegalStateException] {
        FtsStore.compact(spark, store)
      }
      assert(e.getMessage.contains("SINGLE-WRITER"))
    } finally lock.delete()
  }

  test("two racing appenders both commit; the store resolves their union") {
    val (store, cur) = grownStore()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try FtsStore.append(
          Seq((20L + i, s"racing doc number $i")).toDF("doc_id", "text"),
          "doc_id", Seq("text"), store)
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racing appends must both succeed: $errors")
    val withBoth = cur.unionByName(
      Seq((20L, "racing doc number 0"), (21L, "racing doc number 1"))
        .toDF("doc_id", "text"))
    assert(postingsSet(FtsStore.postings(spark, store)) ==
      postingsSet(Fts.buildPositionalIndex(withBoth, "doc_id", Seq("text"))))
  }

  test("append racing a compaction re-numbers so its update still supersedes") {
    val (store, _) = grownStore()
    // seed a doc, then UPDATE it while a compaction (packing the OLD
    // copy) lands between the append's segment build and its manifest
    // claim — without the re-number, the packed segment's higher id
    // would make the OLD copy win supersession
    FtsStore.append(Seq((30L, "stale version")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), store)
    graft.SegmentLog.betweenBuildAndCommit = () => {
      graft.SegmentLog.betweenBuildAndCommit = () => () // one shot
      FtsStore.compact(spark, store, orphanGraceMs = 3600000L)
    }
    try FtsStore.append(Seq((30L, "fresh version")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), store)
    finally graft.SegmentLog.betweenBuildAndCommit = () => ()
    val terms = FtsStore.postings(spark, store)
      .filter(col("doc_id") === 30L).select("term")
      .collect().map(_.getString(0)).toSet
    assert(terms == Set("fresh", "version"),
      s"the racing append's update must win supersession, got $terms")
  }

  test("a crashed append's orphan segment never collides and is swept") {
    val (store, cur) = grownStore()
    // simulate a crash: a segment dir written but never manifest-committed
    val orphan = new java.io.File(store, "seg-9")
    assert(new java.io.File(orphan, "docs").mkdirs())
    FtsStore.append(Seq((7L, "fresh spark doc")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), store)
    // next writer skipped past the orphan instead of clobbering it
    assert(new java.io.File(store, "seg-10").exists())
    val withNew = cur.unionByName(Seq((7L, "fresh spark doc")).toDF("doc_id", "text"))
    assert(postingsSet(FtsStore.postings(spark, store)) ==
      postingsSet(Fts.buildPositionalIndex(withNew, "doc_id", Seq("text"))))
    // grace 0: the fake orphan is brand new, but no in-flight writer
    // exists here (lock-free appends get a grace window in production)
    FtsStore.compact(spark, store, orphanGraceMs = 0L)
    FtsStore.compact(spark, store, orphanGraceMs = 0L)
    FtsStore.compact(spark, store, orphanGraceMs = 0L)
    assert(!new java.io.File(store, "seg-9").exists(),
      "uncommitted orphan should be swept with the superseded segments")
  }

  test("phrase and NEAR run unchanged over the store's positional postings") {
    val (store, cur) = grownStore()
    val stored = FtsStore.postings(spark, store)
    val fresh = Fts.buildPositionalIndex(cur, "doc_id", Seq("text"))
    val p1 = Fts.searchPhrase(stored, "spark batch engine")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Fts.searchPhrase(fresh, "spark batch engine")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == p2 && p1.nonEmpty)
    val n1 = Fts.searchNear(stored, "spark", "engine", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(n1 == Fts.searchNear(fresh, "spark", "engine", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("empty append/delete batches are no-ops, not corrupt segments") {
    val (store, cur) = grownStore()
    val before = graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, store), store)
    FtsStore.append(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", Seq("text"), store)
    FtsStore.delete(Seq.empty[Long].toDF("doc_id"), "doc_id", store)
    assert(graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, store), store) == before)
    assert(postingsSet(FtsStore.postings(spark, store)) ==
      postingsSet(Fts.buildPositionalIndex(cur, "doc_id", Seq("text"))))
  }

  test("an empty store answers empty (and compacts as a no-op) instead of failing") {
    val store = newStore()
    FtsStore.createEmpty(spark, store, numBuckets = 4)
    assert(FtsStore.searchAll(spark, store, Seq("anything")).isEmpty)
    assert(FtsStore.searchBm25(spark, store, Seq("anything")).isEmpty)
    assert(FtsStore.liveDocs(spark, store).isEmpty)
    FtsStore.compact(spark, store) // must not write unreadable empty segments
    assert(FtsStore.searchAll(spark, store, Seq("anything")).isEmpty)
    // and it still grows normally afterwards
    FtsStore.append(Seq((1L, "first spark doc")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), store)
    assert(FtsStore.searchAll(spark, store, Seq("spark")).count() == 1)
  }

  test("randomized op sequences resolve exactly like the in-memory model") {
    val words = Vector("spark", "engine", "window", "batch", "catalyst",
      "stream", "plan", "query", "index", "store")
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      def text() = Seq.fill(3 + rnd.nextInt(8))(
        words(rnd.nextInt(words.size))).mkString(" ")
      var model = (0L until 8L).map(i => i -> text()).toMap
      val store = newStore()
      FtsStore.create(model.toSeq.toDF("doc_id", "text"), "doc_id",
        Seq("text"), store, numBuckets = 4)
      var nextId = 8L
      for (_ <- 0 until 10) rnd.nextInt(4) match {
        case 0 =>
          val batch = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val id = nextId; nextId += 1; id -> text() }
          model ++= batch
          FtsStore.append(batch.toDF("doc_id", "text"), "doc_id",
            Seq("text"), store)
        case 1 if model.nonEmpty =>
          val batch = rnd.shuffle(model.keys.toSeq)
            .take(1 + rnd.nextInt(2)).map(_ -> text())
          model ++= batch
          FtsStore.append(batch.toDF("doc_id", "text"), "doc_id",
            Seq("text"), store)
        case 2 if model.nonEmpty =>
          val ids = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(2))
          model --= ids
          FtsStore.delete(ids.toDF("doc_id"), "doc_id", store)
        case _ =>
          FtsStore.compact(spark, store)
      }
      val cur = model.toSeq.toDF("doc_id", "text")
      assert(postingsSet(FtsStore.postings(spark, store)) ==
        postingsSet(Fts.buildPositionalIndex(cur, "doc_id", Seq("text"))),
        s"random-op divergence at seed $seed")
    }
  }

  test("streaming ingest drains into the store and matches the batch build") {
    val src = graft.Caches.newTempDir("fts_stream_src").toString
    corpus.repartition(3).write.mode("overwrite").parquet(src)
    val store = newStore()
    val ckpt = graft.Caches.newTempDir("fts_stream_ckpt").toString
    graft.streaming.Streams.streamFtsIngest(spark, src, store, ckpt,
      numBuckets = 4)
    assert(postingsSet(FtsStore.postings(spark, store)) ==
      postingsSet(Fts.buildPositionalIndex(corpus, "doc_id", Seq("text"))))
    // checkpointed rerun replays nothing: no new segments appear
    val segsBefore = graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, store), store)._2
    graft.streaming.Streams.streamFtsIngest(spark, src, store, ckpt,
      numBuckets = 4)
    val segsAfter = graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, store), store)._2
    assert(segsBefore == segsAfter)
  }

  test("prefix probe prunes buckets through the termrange sidecar") {
    val (store, cur) = grownStore()
    val fsys = graft.StoreLock.fs(spark, store)
    // postings-bearing segments only: the delete() tombstone segment has
    // no postings dir, hence nothing to range-map
    val segs = graft.SegmentLog.readManifest(fsys, store)._2.filter(s =>
      new java.io.File(s"${store.stripPrefix("file:")}/seg-$s/postings")
        .exists())
    assert(segs.size >= 3, s"fixture should have ≥3 postings segments: $segs")
    // every postings segment wrote a sidecar
    segs.foreach { s =>
      assert(new java.io.File(
        s"${store.stripPrefix("file:")}/seg-$s/termrange.tsv").exists(),
        s"segment $s missing termrange sidecar")
    }
    // a prefix above every term prunes EVERY bucket of every segment
    segs.foreach { s =>
      assert(FtsStore.prefixBuckets(fsys, store, s, "zzz") == Some(Seq()),
        s"'zzz' should prune all buckets of seg $s")
    }
    assert(FtsStore.postingsForPrefix(spark, store, "zzz").isEmpty)
    // a real prefix prunes SOME buckets across the store (the update
    // segment's terms all sort below "wind": its 4 buckets all drop)
    val candAll = segs.map(s =>
      FtsStore.prefixBuckets(fsys, store, s, "wind").map(_.size).getOrElse(4))
    assert(candAll.sum < segs.size * 4,
      s"no bucket pruned anywhere for 'wind*': $candAll")
    // and the pruned probe answers exactly like the unpruned index
    val viaStore = FtsStore.searchPrefix(spark, store, "wind")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fresh = Fts.searchPrefix(
      Fts.buildPositionalIndex(cur, "doc_id", Seq("text")), "wind")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaStore == fresh)
    // unpruneable prefixes fall back to the full read, same answers
    assert(FtsStore.prefixBuckets(fsys, store, segs.head, "").isEmpty)
  }

  test("a crashed create (segment+manifest written, meta.json lost) is retryable") {
    val store = newStore()
    FtsStore.create(corpus.filter($"doc_id" <= 2), "doc_id", Seq("text"),
      store, numBuckets = 4)
    // simulate the crash window: everything landed except the
    // store-exists marker, which create() now writes LAST
    assert(new java.io.File(s"${store.stripPrefix("file:")}/meta.json").delete())
    FtsStore.create(corpus, "doc_id", Seq("text"), store, numBuckets = 4)
    // the retry owns the store: fresh segment + manifest past the
    // leftovers, resolving to exactly the retried corpus
    assert(postingsSet(FtsStore.postings(spark, store)) ==
      postingsSet(Fts.buildPositionalIndex(corpus, "doc_id", Seq("text"))))
  }

  test("phrase and NEAR store wrappers prune to their terms' buckets and match the fresh build") {
    val (store, cur) = grownStore()
    val freshIdx = Fts.buildPositionalIndex(cur, "doc_id", Seq("text"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(FtsStore.searchPhrase(spark, store, "spark batch")) ==
      pairs(Fts.searchPhrase(freshIdx, "spark batch")))
    assert(pairs(FtsStore.searchNear(spark, store, "spark", "engine", 3)) ==
      pairs(Fts.searchNear(freshIdx, "spark", "engine", 3)))
    // the probe path prunes buckets by dir selection (r20 one-relation
    // probe): the postings file index holds only the phrase terms' tb
    // dirs
    val phrase = FtsStore.searchPhrase(spark, store, "spark batch")
    val tbs = Seq("spark", "batch").map(FtsStore.termBucket(_, 4)).toSet
    val postingsScans = PlanDig.scansOf(phrase.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    assert(postingsScans.size == 1, s"expected ONE postings scan relation")
    val roots = postingsScans.head.relation.location.rootPaths.map(_.toString)
    assert(roots.nonEmpty && roots.forall(r =>
        tbs.exists(b => r.endsWith(s"/tb=$b"))),
      s"phrase probe lost bucket pruning: $roots")
  }

  test("BM25 over a store with token-free docs matches the in-plan path") {
    val store = newStore()
    val withEmpty = corpus.unionByName(
      Seq((7L, "??!! ... --")).toDF("doc_id", "text")) // tokenizes to nothing
    FtsStore.create(withEmpty, "doc_id", Seq("text"), store, numBuckets = 4)
    val viaStore = FtsStore.searchBm25(spark, store, Seq("spark", "engine"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val inPlan = Fts.searchBm25From(
      Fts.buildPositionalIndex(withEmpty, "doc_id", Seq("text")),
      withEmpty, Seq("spark", "engine"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(viaStore.keySet == inPlan.keySet)
    viaStore.foreach { case (id, score) =>
      assert(math.abs(score - inPlan(id)) < 1e-9,
        s"doc $id: store $score vs in-plan ${inPlan(id)}")
    }
  }

  test("a re-created store at the same path never serves the old schema") {
    val store = newStore()
    FtsStore.create(corpus, "doc_id", Seq("text"), store, numBuckets = 2)
    // prime the per-store segment-schema cache (doc_id: LONG)
    assert(FtsStore.postings(spark, store).count() > 0)
    // drop the store wholesale and re-create with a DIFFERENT doc_id
    // type at the same path — the creation nonce keys the cache, so
    // the old store's schema can never be applied to the new segments
    graft.StoreLock.fs(spark, store)
      .delete(new org.apache.hadoop.fs.Path(store), true)
    val corpus2 = Seq(("a1", "spark shuffles data"),
      ("b2", "spark plans queries")).toDF("doc_id", "text")
    FtsStore.create(corpus2, "doc_id", Seq("text"), store, numBuckets = 2)
    val p = FtsStore.postings(spark, store)
    assert(p.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType,
      s"the new store's schema must win: ${p.schema}")
    assert(p.select("doc_id").distinct().collect()
      .map(_.getString(0)).toSet == Set("a1", "b2"))
  }

  test("wide-build floor at 0: appends and compaction answer searchAll unchanged") {
    def run(): (Set[Long], Set[Long], Set[(String, Long, Long, Seq[Int])]) = {
      val (store, _) = grownStore()
      def hits(): Set[Long] =
        FtsStore.searchAll(spark, store, Seq("spark", "engine"))
          .select("doc_id").as[Long].collect().toSet
      val appended = hits()
      FtsStore.compact(spark, store)
      (appended, hits(), postingsSet(FtsStore.postings(spark, store)))
    }
    val narrow = run() // a few-row batch is far under the 1 GiB floor
    val f0 = FtsStore.wideBuildBytes
    FtsStore.wideBuildBytes = 0L // every build keys on (tb, doc_id)
    val wide = try run() finally FtsStore.wideBuildBytes = f0
    assert(wide == narrow)
    assert(narrow._1 == Set(1L, 3L, 5L) && narrow._2 == narrow._1)
  }

  test("segment schemas from one footer equal Spark's inference") {
    val (store, _) = grownStore()
    // a string-keyed store too: the doc_id type travels in the footer
    val keyed = newStore()
    FtsStore.create(corpus.select($"doc_id".cast("string").as("doc_id"),
      $"text"), "doc_id", Seq("text"), keyed, numBuckets = 2)
    val leafDirs = for {
      s <- Seq(store, keyed)
      seg <- new java.io.File(s).listFiles().toSeq
        if seg.getName.startsWith("seg-")
      docs = new java.io.File(seg, "docs")
      leaf <- docs +: Option(new java.io.File(seg, "postings").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("tb="))
      if leaf.isDirectory &&
        leaf.listFiles().exists(_.getName.startsWith("part-"))
    } yield leaf.toString
    assert(leafDirs.exists(_.endsWith("/docs")) &&
      leafDirs.exists(_.contains("/postings/tb=")))
    leafDirs.foreach { dir =>
      assert(graft.SegmentLog.footerSchema(spark, dir) ==
        spark.read.parquet(dir).schema, dir)
    }
  }
}
