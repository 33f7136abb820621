package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river delta"), // near dup
    (4L, "completely different text about apples bananas and oranges today"),
    (5L, "another unrelated document mentioning spark catalyst optimizers")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id winner per content hash") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("canonical_id") == 1L)
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("shingles produce distinct word n-grams") {
    val s = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s"))
      .head.getSeq[String](0)
    assert(s == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).head.getSeq[String](0)
    assert(short == Seq("a b"))
    // staged JVM loop is bit-identical to the Column form on real text
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val colForm = real.select(col("doc_id"), Dedup.shingles(col("text"), 5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val udfForm = Dedup.withShingleArray(real, "text", "s", 5)
      .select("doc_id", "s")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(colForm == udfForm)
  }

  test("ngram jaccard finds near-dup pair and not unrelated pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    val ids = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // 1-2 identical (j=1.0); 1-3 and 2-3 are near dups (j=0.833);
    // no pair involves the unrelated docs 4/5
    assert(ids == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val j12 = pairs.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
      .get.getAs[Double]("jaccard")
    assert(j12 == 1.0)
  }

  test("ngram jaccard with lower threshold catches 1-3/2-3") {
    val ids = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash signature is deterministic and identical for identical text") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), 3, 32).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).length == 32)
    // near-dup texts agree on most hash positions
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree > 16, s"agreement $agree/32")
  }

  test("tight-loop UDF signatures are bit-identical to the Column forms") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val mh = Dedup.withMinhashSignature(real, "text", "sig_udf", n = 3, numHashes = 32)
      .select(col("doc_id"), col("sig_udf"),
        Dedup.minhashSignature(col("text"), 3, 32).as("sig_col"))
      .collect()
    assert(mh.nonEmpty)
    for (r <- mh)
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    val sh = Dedup.withSimhash(real, "text", "sh_udf")
      .select(col("doc_id"), col("sh_udf"), Dedup.simhash(col("text")).as("sh_col"))
      .collect()
    for (r <- sh)
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
  }

  test("minhash LSH surfaces exact + near dup pairs") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical texts equal, near texts close, distinct far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash128: low half bit-identical to 64-bit sig, halves independent, pairs surface") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    // the 128-bit signature's LOW half votes on the same seed-42 hashes
    // as the 64-bit form — callers can migrate widths without rehashing
    // history, and the parity pins both loops to the same tokenization
    val rows = Dedup.withSimhash128(real, "text", "sig128")
      .select(col("doc_id"), col("sig128"))
      .join(Dedup.withSimhash(real, "text", "sig64")
        .select(col("doc_id"), col("sig64")), Seq("doc_id"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val s128 = r.getSeq[Long](1)
      assert(s128.length == 2)
      assert(s128.head == r.getLong(2), s"doc ${r.getLong(0)}: lo half != 64-bit sig")
    }
    // hi half is an independent projection: across real docs it must not
    // simply mirror lo (a copy would add zero discriminating bits)
    assert(rows.count(r => r.getSeq[Long](1)(1) != r.getSeq[Long](1).head) > 90)
    // operator end-to-end: planted identical pair at dist 0, far docs absent
    val pairs = Dedup.simhash128DupPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("dist")).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
    graft.Caches.releaseAll(spark)
  }

  test("fuzzy pairs: levenshtein within bound, blocked on first token") {
    val titles = Seq(
      (1L, "berlin city guide"),
      (2L, "berlin city guides"),    // dist 1 from 1
      (3L, "berlin town guide"),     // dist 3 from 1
      (4L, "hamburg city guide"),    // different block
      (5L, "berlin")                 // same block, far length band
    ).toDF("doc_id", "title")
    val got = Dedup.fuzzyPairs(titles, "doc_id", "title", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map((1L, 2L) -> 1))
    val loose = Dedup.fuzzyPairs(titles, "doc_id", "title", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (2,3) is distance 5 (city->town + trailing s): still excluded
    assert(loose == Set((1L, 2L), (1L, 3L)))
  }

  test("fuzzy pairs: degenerate blocking cells dropped by maxBlockSize") {
    // one stop-word cell ("the", same length band) with 6 members, one
    // healthy cell with 2: cap=5 must kill every the-cell pair (including
    // true near-dups) and keep the healthy pair — the documented
    // recall-for-boundedness tradeoff
    val rows = (1L to 6L).map(i => (i, s"the common title nr $i")) ++ Seq(
      (7L, "unique title seven ok"),
      (8L, "unique title seven oke"))
    val titles = rows.toDF("doc_id", "title")
    val capped = Dedup.fuzzyPairs(titles, "doc_id", "title",
        maxDist = 2, maxBlockSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((7L, 8L)))
    // headroom above the cell size -> the same true pairs come back
    val uncapped = Dedup.fuzzyPairs(titles, "doc_id", "title",
        maxDist = 2, maxBlockSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((7L, 8L)) && uncapped.size > 1)
  }

  test("embedding near-dup pairs via hyperplane buckets") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)),   // near dup of 1
      (3L, Array(-1.0f, 0.2f, 0.3f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("doc_id", "vec")
    val pairs = Dedup.embeddingDupPairs(vecs, "doc_id", "vec", threshold = 0.95, planes = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
    // brute-force fallback agrees
    val bf = Dedup.embeddingDupPairs(vecs, "doc_id", "vec", threshold = 0.95, planes = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(bf == Set((1L, 2L)))
  }

  test("dedup operators run on the real documents table") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val g = Dedup.exactGroups(real, "doc_id", "text")
    assert(g.count() > 0)
    val mh = Dedup.minhashDupPairs(real.limit(200), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.7)
    mh.count() // just exercises the full plan
  }

  test("connected components: chains collapse to min id, singletons stay") {
    // 1-2-3 a chain (no direct 1-3 edge), 4 isolated, 5-6 a pair
    val nodes = (1L to 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
    graft.Caches.releaseAll(spark)
  }

  test("connected components: long chain needs diameter rounds and converges") {
    // a 15-node path: label 1 must walk the whole diameter
    val n = 15L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges, maxIters = 20)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L), "every node labeled with the chain's min id")
    // and the guard really throws when rounds are insufficient
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, edges, maxIters = 3).collect()
    }
    graft.Caches.releaseAll(spark)
  }

  test("incremental dedup: new batch checked against the store, then appended") {
    val store = graft.Caches.newTempDir("graft_sigstore_spec").toString
    val gen1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different second document about spark jobs")
    ).toDF("doc_id", "text")
    Dedup.appendSignatureStore(gen1, "doc_id", "text", store)
    // batch: a copy of doc 1, a fresh doc, and two identical new docs
    val gen2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely novel content that matches nothing prior"),
      (12L, "twin texts inside one single incoming batch here"),
      (13L, "twin texts inside one single incoming batch here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.dedupAgainstStore(spark, store, gen2, "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L), (12L, 13L)),
      s"cross-store dup AND batch-internal twin: $pairs")
    // append gen2; a later copy of a gen2 doc is now caught too
    Dedup.appendSignatureStore(gen2, "doc_id", "text", store)
    val gen3 = Seq((20L, "completely novel content that matches nothing prior"))
      .toDF("doc_id", "text")
    val pairs3 = Dedup.dedupAgainstStore(spark, store, gen3, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs3 == Set((11L, 20L)))
    graft.Caches.releaseAll(spark)
  }

  test("store probe's degenerate-bucket cap matches minhashDupPairs over store ∪ batch") {
    val store = graft.Caches.newTempDir("graft_sigstore_cap").toString
    // 30-word texts; a near-duplicate swaps the LAST word only (one
    // shingle of 28), so it agrees with its original in most bands and
    // differs in a few
    def text(tag: String, last: String = "end") =
      ((0 until 29).map(j => s"$tag${j}q") :+ last).mkString(" ")
    val (a, b, c, e, f) = (text("a"), text("b"), text("c"), text("e"), text("f"))
    // cap 3 — A: 4 exact copies in the store alone; B: 4 in the batch
    // alone; C: 2 + 2, over the cap only combined; E: 2 + 1, at the cap;
    // F: 2 + 2 where one batch copy is a near-dup, so only the bands it
    // shares with the others exceed the cap; D: 1 + 1 near-dup
    val app1 = Seq(1L -> a, 2L -> a, 3L -> c, 4L -> e, 5L -> f,
      6L -> text("g"), 7L -> text("h"))
    val app2 = Seq(11L -> a, 12L -> e, 13L -> text("d"), 14L -> text("b", "alt"),
      15L -> text("i"))
    val app3 = Seq(21L -> a, 22L -> c, 23L -> f, 24L -> text("j"))
    val batch = Seq(101L -> text("a", "alt"), 102L -> b, 103L -> b, 104L -> b,
      105L -> b, 106L -> c, 107L -> c, 108L -> e, 109L -> text("d", "alt"),
      110L -> f, 111L -> text("f", "alt"), 112L -> text("k"))
    def frame(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def append(rows: Seq[(Long, String)]) =
      Dedup.appendSignatureStore(frame(rows), "doc_id", "text", store, storeParts = 4)
    append(app1); append(app2)
    Dedup.compactSignatureStore(spark, store)
    append(app3)
    val storeIds = (app1 ++ app2 ++ app3).map(_._1).toSet
    def unordered(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
    def probe(cap: Int) = unordered(Dedup.dedupAgainstStore(spark, store,
        frame(batch), "doc_id", "text", threshold = 0.5, maxBucketSize = cap,
        storeParts = 4).collect())
    def oracle(cap: Int) = unordered(Dedup.minhashDupPairs(
        frame(app1 ++ app2 ++ app3 ++ batch), "doc_id", "text",
        threshold = 0.5, maxBucketSize = cap)
      .select("id_a", "id_b").collect())
      .filterNot { case (x, y) => storeIds(x) && storeIds(y) }
    val capped = probe(3)
    assert(capped == oracle(3), s"capped probe ${capped.toSeq.sorted}")
    assert(Set((4L, 108L), (12L, 108L)).subsetOf(capped),
      s"a bucket AT the cap keeps its pairs: ${capped.toSeq.sorted}")
    val capIds = Set(101L, 102L, 106L, 107L)
    assert(!capped.exists { case (x, y) => capIds(x) || capIds(y) },
      s"store-only, batch-only and combined over-cap buckets pair nothing: " +
        s"${capped.toSeq.sorted}")
    val uncapped = probe(200)
    assert(Set((1L, 101L), (102L, 103L), (3L, 106L), (106L, 107L))
      .subsetOf(uncapped), s"the same buckets pair once uncapped: ${uncapped.toSeq.sorted}")
    graft.Caches.releaseAll(spark)
  }

  test("append adds only its segment, claim and manifest; no existing file is rewritten") {
    val store = graft.Caches.newTempDir("graft_sigstore_plocal").toString
    val corpus = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit(s"p${j}y"), pmod(col("id") * 37 + j, lit(99991)))): _*).as("text"))
    Dedup.appendSignatureStore(corpus, "doc_id", "text", store)
    def snapshot(): Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val before = snapshot()
    val one = spark.range(1).select((col("id") + 5000000L).as("doc_id"),
      lit("a lone second-append document with fresh tokens only").as("text"))
    Dedup.appendSignatureStore(one, "doc_id", "text", store)
    val after = snapshot()
    // every pre-append file survives byte-for-byte (same path, same mtime)
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"append touched $p") }
    // additions confined to the new segment dir, its claim marker and
    // one manifest (checksum sidecars are dot-files)
    val added = (after.keySet -- before.keySet).filterNot(_.contains("/."))
    assert(added.exists(_.contains("/seg-1/sigs/")) &&
      added.exists(_.contains("/seg-1/buckets/")), s"segment files: $added")
    assert(added.forall(p => p.contains("/seg-1/") ||
        p.endsWith("/manifest-1") || p.endsWith("/_claims/seg-1")),
      s"unexpected additions: $added")
    // the one-doc segment holds exactly its 16 (band, hmod) bucket dirs
    val segBuckets = added.filter(_.contains("/seg-1/buckets/band="))
      .map(p => new java.io.File(p).getParentFile.toString)
    assert(segBuckets.size <= 16, s"one doc touches <= bands keys: $segBuckets")
    // probe correctness across the two segments: a copy of a
    // first-append doc AND of the second-append doc both surface
    val batch = corpus.filter(col("doc_id") === 3L)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      .unionByName(one.select((col("doc_id") + 900000L).as("doc_id"), col("text")))
    val pairs = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 900003L), (5000000L, 5900000L)), s"got $pairs")
    graft.Caches.releaseAll(spark)
  }

  test("a previous-layout store (stats/ or sigs/seg-*) is refused, never read as empty") {
    val docs = Seq((1L, "a document probing a previous-layout store"))
      .toDF("doc_id", "text")
    for (legacyDir <- Seq("stats/v=0/band=0/hmod=0", "sigs/seg-0/sid=0")) {
      val store = graft.Caches.newTempDir("graft_sigstore_legacy").toString
      assert(new java.io.File(s"$store/$legacyDir").mkdirs())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$store/meta.json"),
        """{"n":3,"numHashes":64,"bands":16,"storeParts":16}""".getBytes("UTF-8"))
      def refused(op: => Any): Unit = {
        val e = intercept[IllegalStateException](op)
        assert(e.getMessage.contains("previous layout") &&
          e.getMessage.contains("rebuild"), s"$legacyDir: ${e.getMessage}")
      }
      refused(Dedup.dedupAgainstStore(spark, store, docs, "doc_id", "text").count())
      refused(Dedup.appendSignatureStore(docs, "doc_id", "text", store))
      refused(Dedup.compactSignatureStore(spark, store))
      assert(!new java.io.File(store).listFiles().exists(f =>
        f.getName.startsWith("manifest-") || f.getName.startsWith("seg-")),
        s"$legacyDir: a refused append must write nothing")
    }
    graft.Caches.releaseAll(spark)
  }

  test("a held lock fails compaction only; appends stay lock-free") {
    val store = graft.Caches.newTempDir("graft_sigstore_lock").toString
    val docs = Seq((1L, "some document text for the lock test")).toDF("doc_id", "text")
    Dedup.appendSignatureStore(docs, "doc_id", "text", store)
    // a concurrent compaction (or a crashed one's stale lock)
    val lock = new java.io.File(s"$store/_lock")
    assert(lock.createNewFile(), "no append takes the lock")
    val e = intercept[IllegalStateException] { Dedup.compactSignatureStore(spark, store) }
    assert(e.getMessage.contains("SINGLE-WRITER"))
    Dedup.appendSignatureStore(
      Seq((2L, "an unrelated second document")).toDF("doc_id", "text"),
      "doc_id", "text", store)
    assert(lock.exists(), "the append neither needs nor removes the lock")
    val probe = Seq((3L, "an unrelated second document")).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstStore(spark, store, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 3L)))
    assert(lock.delete())
    Dedup.compactSignatureStore(spark, store)
    graft.Caches.releaseAll(spark)
  }

  test("racing appenders both commit: the store equals the seed plus both batches") {
    val store = graft.Caches.newTempDir("graft_sigstore_race").toString
    Dedup.appendSignatureStore(
      Seq((1L, "seed document establishing the store"))
        .toDF("doc_id", "text"), "doc_id", "text", store)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        val docs = Seq((100L + i, s"racing batch $i payload text"))
          .toDF("doc_id", "text")
        barrier.await()
        try Dedup.appendSignatureStore(docs, "doc_id", "text", store)
        catch { case t: Throwable => errors.add(t): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"racing appends must both commit: $errors")
    val segs = graft.SegmentLog.readManifest(graft.StoreLock.fs(spark, store), store)._2
    assert(segs.size == 3, s"seed + two racing segments live: $segs")
    def live(sub: String) = segs.map(s => spark.read.parquet(s"$store/seg-$s/$sub"))
      .reduce(_ unionByName _)
    assert(live("sigs").select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 100L, 101L))
    assert(live("buckets").count() == 16L * 3, "one bucket row per (doc, band)")
    graft.Caches.releaseAll(spark)
  }

  test("racing first appends with different parameters: exactly one creates the store") {
    val store = graft.Caches.newTempDir("graft_sigstore_metarace").toString
    val errors = new java.util.concurrent.ConcurrentHashMap[Int, Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val bandsOf = Seq(16, 8)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        val docs = Seq((100L + i, s"first batch $i of a fresh store"))
          .toDF("doc_id", "text")
        barrier.await()
        try Dedup.appendSignatureStore(docs, "doc_id", "text", store,
          bands = bandsOf(i))
        catch { case t: Throwable => errors.put(i, t): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.size == 1, s"exactly one racer must lose: $errors")
    errors.values.forEach(t => assert(t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("meta.json"), s"the loser fails the parameter pin: $t"))
    val winner = (0 until 2).filterNot(errors.containsKey(_)).head
    val meta = graft.SegmentLog.readMeta(graft.StoreLock.fs(spark, store), store)
    assert(meta.flatMap(_.get("bands")).contains(bandsOf(winner).toString))
    val segs = graft.SegmentLog.readManifest(graft.StoreLock.fs(spark, store), store)._2
    assert(segs.size == 1 && spark.read.parquet(s"$store/seg-${segs.head}/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(100L + winner))
    graft.Caches.releaseAll(spark)
  }

  test("store parameters are pinned: mismatched probe/append require()s, not silent loss") {
    val store = graft.Caches.newTempDir("graft_sigstore_meta").toString
    val docs = Seq((1L, "document text pinning the store parameters")).toDF("doc_id", "text")
    Dedup.appendSignatureStore(docs, "doc_id", "text", store) // defaults: 3/64/16/16
    val probe = Seq((2L, "probe text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstStore(spark, store, probe, "doc_id", "text", storeParts = 8)
        .count()
    }
    assert(e.getMessage.contains("meta.json"))
    intercept[IllegalArgumentException] {
      Dedup.appendSignatureStore(probe, "doc_id", "text", store, bands = 8)
    }
    // matching params still work
    assert(Dedup.dedupAgainstStore(spark, store, probe, "doc_id", "text").count() == 0)
    graft.Caches.releaseAll(spark)
  }

  test("reader-safe compaction: reads planned against pre-compaction metadata stay complete") {
    val store = graft.Caches.newTempDir("graft_sigstore_race").toString
    def gen(base: Long) = spark.range(base, base + 50).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit(s"r${j}q"), pmod(col("id") * 23 + j, lit(7919)))): _*).as("text"))
    Dedup.appendSignatureStore(gen(0), "doc_id", "text", store, storeParts = 4)
    Dedup.appendSignatureStore(gen(2000), "doc_id", "text", store, storeParts = 4)
    // PLAN a probe's store reads exactly the way dedupAgainstStore does:
    // resolve the manifest's segment list, then CREATE the DataFrames —
    // Spark lists the concrete files here, so this is the reader state a
    // compaction firing next could invalidate
    val (_, segs) = graft.SegmentLog.readManifest(graft.StoreLock.fs(spark, store), store)
    assert(segs.nonEmpty)
    val plannedBuckets = segs
      .map(s => spark.read.parquet(s"$store/seg-$s/buckets"))
      .reduce(_ unionByName _)
    // compaction fires BETWEEN the metadata read and the data read — the
    // exact interleaving the pre-r7 swap-aside + immediate sweep broke;
    // zero grace so retention rests purely on manifest references
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    assert(plannedBuckets.count() == 100L * 16,
      "bucket read planned pre-compaction must be complete, never partial")
    // and a probe planned AFTER the compaction sees the same world
    val batch = gen(0).limit(2)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    val pairs = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text",
        storeParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 800000L), (1L, 800001L)), s"got $pairs")
    graft.Caches.releaseAll(spark)
  }

  test("probe survives TWO writer generations between plan and execution") {
    val store = graft.Caches.newTempDir("graft_sigstore_race2").toString
    def gen(base: Long) = spark.range(base, base + 50).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit(s"g${j}x"), pmod(col("id") * 31 + j, lit(7919)))): _*).as("text"))
    Dedup.appendSignatureStore(gen(0), "doc_id", "text", store, storeParts = 4)
    Dedup.appendSignatureStore(gen(2000), "doc_id", "text", store, storeParts = 4)
    // reader state a probe resolves: the manifest's segment list
    val (_, segs) = graft.SegmentLog.readManifest(graft.StoreLock.fs(spark, store), store)
    val plannedBuckets = segs
      .map(s => spark.read.parquet(s"$store/seg-$s/buckets"))
      .reduce(_ unionByName _)
    // a full probe planned now too — its signature re-attach executes
    // lazily, against the dirs resolved here
    val batch = gen(0).limit(2)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"))
    val plannedProbe = Dedup.dedupAgainstStore(spark, store, batch,
      "doc_id", "text", storeParts = 4)
    // GENERATION 1: an append (a new manifest); GENERATION 2: its
    // successor compaction — whose sweep honors every RETAINED manifest
    // generation, so the segments the planned reads point at survive
    Dedup.appendSignatureStore(gen(4000), "doc_id", "text", store, storeParts = 4)
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    assert(plannedBuckets.filter(col("doc_id") < 4000)
      .select("doc_id").distinct().count() == 100,
      "bucket read planned two generations ago must still cover every doc")
    val pairs = plannedProbe.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 800000L), (1L, 800001L)), s"got $pairs")
    // segment flavor: a probe planned after that compaction must
    // survive TWO further compactions (superseded segments stay
    // referenced by the two retained predecessor manifests; pre-r9 the
    // second compaction swept the probe's resolved dirs)
    val plannedProbe2 = Dedup.dedupAgainstStore(spark, store, batch,
      "doc_id", "text", storeParts = 4)
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    val pairs2 = plannedProbe2.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == Set((0L, 800000L), (1L, 800001L)), s"got $pairs2")
    graft.Caches.releaseAll(spark)
  }

  test("probing an empty or absent store yields batch-internal pairs only") {
    val store = graft.Caches.newTempDir("graft_sigstore_empty").toString  // never appended
    val batch = Seq(
      (1L, "twin texts inside one single incoming batch here"),
      (2L, "twin texts inside one single incoming batch here"),
      (3L, "completely different third text")).toDF("doc_id", "text")
    val pairs = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"only the batch twins: $pairs")
    graft.Caches.releaseAll(spark)
  }

  test("signature-store compaction: one file per partition, probe results identical") {
    val store = graft.Caches.newTempDir("graft_sigstore_compact").toString
    def gen(base: Long) = spark.range(base, base + 60).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit(s"c${j}w"), pmod(col("id") * 17 + j, lit(7919)))): _*).as("text"))
    (0 until 3).foreach(k => Dedup.appendSignatureStore(gen(k * 1000), "doc_id", "text",
      store, storeParts = 4))
    val batch = gen(0).limit(3)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def probe() = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text",
        storeParts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.nonEmpty, "planted copies must match their originals")
    def liveSegs: Seq[Int] =
      graft.SegmentLog.readManifest(graft.StoreLock.fs(spark, store), store)._2
    def maxFilesPerDir(sub: String): Int = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) :+ d else Seq.empty
      liveSegs.map { s =>
        walk(new java.io.File(s"$store/seg-$s/$sub")).filter(_.isDirectory)
          .map(_.listFiles().count(f => f.getName.endsWith(".parquet"))).max
      }.max
    }
    assert(liveSegs.size == 3, "three appends -> three live segments")
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    assert(liveSegs.size == 1, "compacted to one packed segment")
    assert(maxFilesPerDir("buckets") == 1, "compacted to one file per partition")
    assert(maxFilesPerDir("sigs") == 1)
    assert(probe() == before, "probe unchanged by compaction")
    // superseded segments stay referenced by the two retained
    // predecessor manifests, then are swept — deferred deletion is
    // bounded, not a leak
    assert(new java.io.File(s"$store/seg-0").isDirectory,
      "superseded segment retained for in-flight readers")
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    assert(new java.io.File(s"$store/seg-0").isDirectory,
      "second compaction still retains the two-generations-old segment")
    Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$store/seg-0").exists(),
      "third compaction sweeps the segment past its retained-manifest window")
    assert(probe() == before, "probe unchanged by repeated compaction")
    graft.Caches.releaseAll(spark)
  }

  test("probes and compactions read the store under its footer schema: no inference job") {
    val store = graft.Caches.newTempDir("graft_sigstore_schema").toString
    def gen(base: Long) = spark.range(base, base + 60).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(j =>
        concat(lit(s"c${j}w"), pmod(col("id") * 17 + j, lit(7919)))): _*).as("text"))
    // one store part and a one-doc batch keep every read under Spark's
    // parallel-listing threshold (32 paths), so a parquet job left at a
    // read is a schema inference
    (0 until 2).foreach(k => Dedup.appendSignatureStore(gen(k * 1000), "doc_id", "text",
      store, storeParts = 1))
    val batch = gen(0).limit(1)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def probe() = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text",
        storeParts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def parquetJobs(sites: Seq[String]) =
      sites.filter(_.startsWith("parquet at Dedup.scala"))
    val (before, probeSites) = graft.JobCount(spark)(probe())
    assert(before.nonEmpty, "planted copies must match their originals")
    assert(parquetJobs(probeSites).isEmpty,
      s"a probe's store reads infer no schema: $probeSites")
    val (_, packSites) = graft.JobCount(spark)(
      Dedup.compactSignatureStore(spark, store, orphanGraceMs = 0L))
    assert(parquetJobs(packSites).isEmpty,
      s"a compaction's segment reads infer no schema: $packSites")
    assert(probe() == before, "probe unchanged by compaction")
    graft.Caches.releaseAll(spark)
  }

  test("incremental probe reads only batch-keyed store partitions (O(batch), not O(store))") {
    val store = graft.Caches.newTempDir("graft_sigstore_obs").toString
    // a store of 400 distinct docs: 400 × 16 bands = 6400 bucket rows
    // spread over 16 bands × 16 hmods = 256 disk partitions
    val corpus = spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit(s"w${j}x"), pmod(col("id") * 31 + j, lit(99991)))): _*).as("text"))
    Dedup.appendSignatureStore(corpus, "doc_id", "text", store)
    val storeBucketRows = spark.read.parquet(s"$store/seg-0/buckets").count()
    assert(storeBucketRows == 400L * 16)
    // a ONE-doc batch touches ≤ 16 (band, hmod) partitions of the 256 —
    // the observed store-side scan must read only those slices, i.e.
    // ~1/16th of the store, NOT all 6400 rows
    val batchText = corpus.filter(col("doc_id") === 7L)
      .select("text").collect().head.getString(0)
    val batch = Seq((9999L, batchText)).toDF("doc_id", "text")
    val probeRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val out = Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text",
        probeRowsRead = Some(probeRows))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((7L, 9999L)), s"planted copy must surface: $out")
    val read = probeRows.get()
    // uniform hashing ⇒ ~25 rows per touched partition × ≤16 partitions
    // ≈ 400 rows; assert a hard bound well under the full store
    assert(read > 0 && read <= storeBucketRows / 4,
      s"probe read $read of $storeBucketRows store bucket rows — pruning lost")
    graft.Caches.releaseAll(spark)
  }

  test("substring-span dedup: canonical kept, later occurrences cut, overlap unions") {
    val docs = Seq(
      (1L, "a b c d e f g h x"),                  // canonical "a..h" + unique tail
      (2L, "z z a b c d e f g h"),                // same 8-gram at pos 2 -> cut, keep "z z"
      (3L, "a b c d e f g h a b c d e f g h"),    // two occurrences -> fully cut
      (4L, "totally unrelated short words here")  // no dup windows, unchanged
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((9L, 0L, "a b c d e f g h x")),
      s"canonical occurrence untouched: ${got(1L)}")
    assert(got(2L) == ((10L, 8L, "z z")), s"later occurrence cut: ${got(2L)}")
    assert(got(3L) == ((16L, 16L, "")), s"doubly-repeated doc fully cut: ${got(3L)}")
    assert(got(4L) == ((5L, 0L, "totally unrelated short words here")))
    graft.Caches.releaseAll(spark)
  }

  test("containment catches an excerpt that Jaccard misses") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ")   // 58 3-gram shingles
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ") // 6 shingles, all in big
    val df = Seq((1L, big), (2L, excerpt), (3L, "other unrelated words here"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(cont.keySet == Set((1L, 2L)), s"got ${cont.keySet}")
    val (ab, ba) = cont((1L, 2L))
    assert(ba == 1.0, "the excerpt is fully contained in the big doc")
    assert(ab < 0.2, "the big doc is NOT contained in the excerpt")
    // symmetric Jaccard on the same pair is far below any dedup threshold
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.0)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .head().getAs[Double]("jaccard")
    assert(jac < 0.15, s"jaccard under-scores the excerpt relation: $jac")
  }

  test("semantic dedup: near-identical vectors pair within their cluster") {
    // two tight groups on opposite axes + a loner; k-means with 2 clusters
    // must separate the groups, and only within-group pairs verify
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.05)),
      (2L, Array(0.99, 0.01, 0.0, 0.05)),    // semantic dup of 1
      (3L, Array(0.0, 1.0, 0.05, 0.0)),
      (4L, Array(0.01, 0.99, 0.05, 0.0)),    // semantic dup of 3
      (5L, Array(-1.0, -1.0, 0.5, 0.0))
    ).toDF("doc_id", "vec")
    val pairs = Dedup.semanticDupPairs(vecs, "doc_id", "vec",
      nClusters = 2, kmeansIters = 2, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    graft.Caches.releaseAll(spark)
  }

  test("semantic dedup: degenerate clusters dropped by maxClusterSize") {
    // 30 copies of one vector (a degenerate cluster) + one genuine pair
    // elsewhere: with the cap at 10 the big cluster contributes NO pairs,
    // while the small cluster's pair survives
    val big = (100L to 129L).map(i => (i, Array(1.0, 0.0, 0.0, 0.0)))
    val small = Seq(
      (1L, Array(0.0, 1.0, 0.0, 0.1)),
      (2L, Array(0.0, 0.99, 0.01, 0.1)))
    val vecs = (big ++ small).toDF("doc_id", "vec")
    val pairs = Dedup.semanticDupPairs(vecs, "doc_id", "vec",
      nClusters = 2, kmeansIters = 1, threshold = 0.95, maxClusterSize = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    graft.Caches.releaseAll(spark)
  }
}
