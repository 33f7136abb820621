package graft.catalog

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.{Dedup, MinHashAggregator}
import graft.operators.Skew

/** Physical-layout and skew machinery: bucketed co-located joins, salting,
  * group-level MinHash.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("co-bucketed tables join without an exchange on either side") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    Catalog.writeBucketed(orders.withColumnRenamed("o_custkey", "custkey"),
      "b_orders", "custkey", numBuckets = 8)
    Catalog.writeBucketed(customer.withColumnRenamed("c_custkey", "custkey"),
      "b_customer", "custkey", numBuckets = 8)
    try {
      // disable auto-broadcast so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(joined.count() == orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("saveWikidCatalog: entities ⋈ aliases and the per-entity agg are shuffle-free") {
    import spark.implicits._
    val entities = Seq(
      ("Q1", "[]", "Berlin", "capital", "Berlin"),
      ("Q2", "[]", "Hamburg", "city", "Hamburg"),
      ("Q3", "[]", "Munich", "city", "Munich")
    ).toDF("id", "claims", "name", "description", "label")
    val aliases = Seq(
      ("Berlin", "Q1", 5L), ("Spree-Athen", "Q1", 1L),
      ("Hamburg", "Q2", 3L), ("Munich", "Q3", 2L)
    ).toDF("alias", "entity_id", "count")
    val articles = Seq(
      ("Q1", "100", "Berlin", "Berlin is..."),
      ("Q2", "200", "Hamburg", "Hamburg is...")
    ).toDF("entity_id", "article_id", "title", "content")
    Catalog.saveWikidCatalog(spark, entities, aliases, articles,
      prefix = "t_cat", numBuckets = 4)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // loadEntities' join shape: co-bucketed on entity_id -> no Exchange
      // on either side, the ingest-time shuffle is the only one ever paid
      val joined = spark.table("t_cat_entities")
        .join(spark.table("t_cat_aliases"), "entity_id")
      val jPlan = joined.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"), s"expected no shuffle, got:\n$jPlan")
      assert(joined.count() == 4)
      // the A1 aggregation shape: groupBy on the bucket column reuses the
      // write-time hash partitioning -> no Exchange
      val agg = spark.table("t_cat_aliases")
        .groupBy("entity_id").agg(sum("count").as("n"))
      val aPlan = agg.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange"), s"expected no shuffle, got:\n$aPlan")
      assert(agg.count() == 3)
      // three-way co-location: + articles, still exchange-free
      val threeWay = joined.join(spark.table("t_cat_articles"), "entity_id")
      val tPlan = threeWay.queryExecution.executedPlan.toString
      assert(!tPlan.contains("Exchange"), s"expected no shuffle, got:\n$tPlan")
      assert(threeWay.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      for (t <- Seq("t_cat_entities", "t_cat_aliases", "t_cat_articles"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("salted aggregation equals plain aggregation") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val plain = events.groupBy("event_type").agg(count(lit(1)).as("count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(events, "event_type", salts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    val plainSum = events.groupBy("event_type").agg(sum("value").as("s"))
      .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 100)).toMap
    val saltedSum = Skew.saltedSum(events, "event_type", "value", salts = 8)
      .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 100)).toMap
    assert(saltedSum == plainSum)
  }

  test("salted join equals plain join") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumnRenamed("o_custkey", "custkey")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumnRenamed("c_custkey", "custkey")
    val plain = orders.join(customer, Seq("custkey")).count()
    val salted = Skew.saltedJoin(orders, customer, "custkey", salts = 4).count()
    assert(salted == plain)
  }

  test("approx_percentile (the 100TB path) agrees with exact percentile") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val rows = orders.groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("exact"),
        expr("approx_percentile(o_totalprice, 0.5, 100000)").as("approx"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val e = r.getDouble(1); val a = r.getDouble(2)
      assert(math.abs(e - a) / e < 0.02, s"${r.getString(0)}: exact $e approx $a")
    }
  }

  test("HLL sketch distinct (the 100TB path) agrees with exact countDistinct") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("approx"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val e = r.getLong(1).toDouble; val a = r.getLong(2).toDouble
      assert(math.abs(e - a) / e < 0.05, s"${r.getString(0)}: exact $e approx $a")
    }
  }

  test("IVF index probe is partition pruning: nprobe of nlist lists scanned") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val nlist = 8
    val cents = graft.ext.Similarity.writeIvfIndex(emb, dir, nlist = nlist)
    val queries = emb.filter(col("vec_id") < 3)

    // 1) static pruning: an isin filter on the probe set scans only those
    //    directories — PartitionFilters on the scan, and the partitions-
    //    read metric equals the probe-set size (the Similarity.scala
    //    "probing is partition pruning" claim, proven)
    // centroid ids are the (hash-ordered) seed row ids — take two real ones
    val probeIds = cents.sortBy(_._1).take(2).map(_._1).toSeq
    val pruned = spark.read.parquet(dir)
      .filter(col("centroid_id").isin(probeIds: _*))
    pruned.collect() // executes THIS plan instance -> populates its metrics
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters"), scan.toString)
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead == probeIds.length,
      s"expected ${probeIds.length} partitions read, got $partsRead")

    // 2) the probe JOIN gets the same effect dynamically: broadcast join
    //    on the partition column triggers dynamic partition pruning
    val topk = graft.ext.Similarity.ivfTopKFromIndex(spark, dir, cents,
      queries, k = 3, nprobe = 3)
    val planStr = topk.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"probe join should dynamic-partition-prune the index scan:\n$planStr")

    // 3) and the index path returns exactly what the in-memory path does
    val direct = graft.ext.Similarity.ivfTopK(emb, queries, k = 3,
      nlist = nlist, nprobe = 3, kmeansIters = 1)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaIndex = topk.select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == direct)
  }

  test("IVF+PQ composed index: pruned probes score codes, refine reads vectors, recall holds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    val dir = graft.Caches.newTempDir("graft_ivfpq_idx").toString
    val idx = graft.ext.Similarity.writeIvfPqIndex(emb, dir, nlist = 8,
      kmeansIters = 1, m = 8, ksub = 16, pqIters = 1)
    val queries = emb.filter(col("vec_id") < 10)

    // nprobe = nlist: this spec proves the PLAN claims (pruning, codes
    // not vectors); the recall floor here isolates ADC+refine quality
    // from list-selection luck, which the ann_ivf/ann_ivfpq oracle rows
    // gate on the larger corpus
    val topk = graft.ext.Similarity.ivfPqTopKFromIndex(spark, dir, idx,
      queries, k = 3, nprobe = 8, rerank = 20)
    topk.collect() // materialize so AQE finalizes every query stage

    // dig scans out of the adaptive plan (AQE wraps stages in leaf nodes)
    import graft.PlanDig.scansOf
    val planStr = topk.queryExecution.executedPlan.toString

    // BOTH index scans (ADC + refine) are dynamic-partition-pruned by
    // their broadcast joins on the partition column
    val scans = scansOf(topk.queryExecution.executedPlan)
      .filter(_.toString.contains("graft_ivfpq_idx"))
    assert(scans.length == 2, s"expected ADC + refine index scans:\n$planStr")
    assert(scans.forall(_.toString.contains("dynamicpruning")),
      s"both index scans should dynamic-partition-prune:\n$planStr")

    // the ADC scan reads codes, never the stored vectors; the refine scan
    // is the only one that touches cvec
    val adcScan = scans.find(_.requiredSchema.fieldNames.contains("pq_codes")).get
    assert(!adcScan.requiredSchema.fieldNames.contains("cvec"),
      s"ADC scan must not read vectors: ${adcScan.requiredSchema}")
    val refineScan = scans.find(_.requiredSchema.fieldNames.contains("cvec")).get
    assert(!refineScan.requiredSchema.fieldNames.contains("pq_codes"),
      s"refine scan must not read codes: ${refineScan.requiredSchema}")

    // end to end: the composed path stays within the IVF probe's recall
    // on this fixture (refine makes ADC error a non-factor at rerank=20)
    val exact = graft.ext.Similarity.bruteForceTopK(emb, queries, k = 3)
    val rec = graft.ext.Similarity.recallAtK(exact, topk, k = 3)
      .agg(avg("recall")).head().getDouble(0)
    assert(rec >= 0.5, s"composed IVF+PQ recall@3 too low: $rec")
  }

  test("compaction: many small files -> few right-sized, rows identical") {
    import spark.implicits._
    val dir = graft.Caches.newTempDir("graft_compact").toString + "/t"
    val df = spark.range(0, 20000).select(col("id"),
      concat(lit("v"), col("id")).as("v"))
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val (nBefore, nAfter) =
      graft.catalog.Catalog.compactParquet(spark, dir, targetFileBytes = 256 * 1024)
    assert(nBefore == 64)
    assert(nAfter < nBefore, s"no compaction: $nBefore -> $nAfter")

    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).toSet
    assert(after == before, "compaction must not change the data")
  }

  test("group minhash signature equals the signature of the unioned text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "g1", "alpha beta gamma delta epsilon zeta"),
      (2L, "g1", "eta theta iota kappa lambda mu"),
      (3L, "g2", "alpha beta gamma delta epsilon zeta"),
      (4L, "g2", "eta theta iota kappa lambda mu")
    ).toDF("doc_id", "grp", "text")
    val sigs = Dedup.withMinhashSignature(docs, "text", "sig", n = 3, numHashes = 32)
    val grouped = sigs.groupBy("grp")
      .agg(MinHashAggregator.minhash_agg(col("sig"), 32).as("gsig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // g1 and g2 contain identical doc sets -> identical group signatures
    assert(grouped("g1") == grouped("g2"))
    // and the group signature is the elementwise min of member signatures
    val members = sigs.filter(col("grp") === "g1")
      .select("sig").collect().map(_.getSeq[Long](0)).toSeq
    val expected = members.transpose.map(_.min)
    assert(grouped("g1") == expected)
  }

  test("estJaccard of identical groups is 1.0") {
    import spark.implicits._
    val a = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 9L))).toDF("a", "b")
    val got = a.select(MinHashAggregator.estJaccard(col("a"), col("b")).as("j"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.5))
  }

  test("partition upsert replaces only the touched partitions") {
    import spark.implicits._
    val dir = graft.Caches.newTempDir("graft_upsert").toString
    val base = Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40))
      .toDF("id", "k", "v")
    Catalog.writePartitioned(base, dir, "k")
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/k=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = files("b"); val cBefore = files("c")
    // replace partition a entirely (id 2 dropped, 5 added, 1 updated)
    val patch = Seq((1L, "a", 11), (5L, "a", 51)).toDF("id", "k", "v")
    Catalog.upsertPartitions(patch, dir, "k")
    val got = spark.read.parquet(dir)
      .select("id", "k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a", 11), (5L, "a", 51), (3L, "b", 30), (4L, "c", 40)))
    // untouched partitions: same files, same mtimes — never rewritten
    assert(files("b") == bBefore && files("c") == cBefore)
  }

  test("versioned-table append commits O(batch) manifest bytes on a many-file table") {
    import spark.implicits._
    // the delta-log claim, measured: the same one-row append to a 2×
    // larger table must cost the same manifest bytes — commit metadata
    // scales with the BATCH, never the table
    def appendManifestBytes(nFiles: Int): (String, Long) = {
      val t = graft.Caches.newTempDir("graft_vt_scale").toString + "/t"
      val base = spark.range(0, 10000)
        .select(col("id"), (col("id") % 97).as("v"))
      VersionedTable.commit(base.repartition(nFiles), t)
      VersionedTable.append(
        Seq((1000000L, 1L)).toDF("id", "v").coalesce(1), t)
      (t, java.nio.file.Files.size(
        java.nio.file.Paths.get(s"$t/_commits/v-1")))
    }
    val (_, small) = appendManifestBytes(100)
    val (t2, large) = appendManifestBytes(200)
    assert(small == large,
      s"append manifest bytes scale with table files: $small vs $large")
    // absolute sanity: a one-file delta is a header + one path line
    assert(large < 512, s"delta manifest unexpectedly large: $large bytes")
    // the 201-file version still resolves completely
    assert(VersionedTable.read(spark, t2).count() == 10001)
  }

  test("txn floor sidecars bound the replay guard's manifest reads on a many-version table") {
    import spark.implicits._
    val t = graft.Caches.newTempDir("graft_vt_txnfloor").toString + "/t"
    val row = Seq((1L, 1.0)).toDF("id", "v").coalesce(1)
    VersionedTable.commit(row, t)                                    // v0
    VersionedTable.appendIdempotent(row, t, "etl", 0L)               // v1
    // the app goes idle while 30 foreign commits churn the table
    (0 until 30).foreach(_ => VersionedTable.append(row, t): Unit)
    // first touch after the idle stretch may walk the interim manifests
    // ONCE — and must advance the floor so the walk never repeats
    VersionedTable.appendIdempotent(row, t, "etl", 1L)
    // a crash-replayed batch now resolves its skip from the floor
    // sidecar + the head listing: O(1) manifest reads, not O(versions)
    VersionedTable.manifestReads.set(0L)
    val v = VersionedTable.appendIdempotent(row, t, "etl", 1L)
    assert(v == VersionedTable.versions(spark, t).max)
    val replayReads = VersionedTable.manifestReads.get()
    assert(replayReads <= 2,
      s"replayed-batch guard read $replayReads manifests on a " +
        s"${VersionedTable.versions(spark, t).size}-version table")
    // a NEW app's first append must prove no marker exists — one full
    // walk, after which its floor pins the cost like any other app's
    VersionedTable.appendIdempotent(row, t, "fresh", 0L)
    VersionedTable.manifestReads.set(0L)
    VersionedTable.appendIdempotent(row, t, "fresh", 0L): Unit // replay
    assert(VersionedTable.manifestReads.get() <= 2,
      "a new app's floor must pin its guard cost after the first touch")
    // and a real (non-replay) append's total manifest reads are bounded
    // by the checkpointed delta-chain resolution, not the version count
    // (resolution + gate + claim each walk a checkpoint-bounded delta
    // chain of <= checkpointInterval manifests; the guard itself adds
    // O(1) — a floor-less implementation would add >= the version count
    // here alone)
    VersionedTable.manifestReads.set(0L)
    VersionedTable.appendIdempotent(row, t, "etl", 2L): Unit
    val commitReads = VersionedTable.manifestReads.get()
    assert(commitReads <= 40,
      s"append walked $commitReads manifests — scales with versions?")
  }

  test("two-sided expectations ingest reads O(1) manifests per micro-batch") {
    import spark.implicits._
    import graft.streaming.Streams
    // the streaming_expectations trend-watch (r12 bench): each
    // micro-batch commits to TWO tables (clean + quarantine), and each
    // commit's metadata reads must stay constant as the tables' version
    // count grows — a per-batch cost scaling with versions would
    // compound on any long-lived ingest
    val dir = graft.Caches.newTempDir("graft_scale_sexp").toString
    val t = s"$dir/t"; val qr = s"$dir/q"; val src = s"$dir/src"
    val docs = (0L until 400L)
      .map(i => (i, if (i % 10 == 0) -1L else i)).toDF("doc_id", "n_chars")
    VersionedTable.commit(docs.limit(0), t)
    VersionedTable.setConstraint(spark, t, "nonneg", "n_chars >= 0")
    docs.limit(200).repartition(4).write.mode("overwrite").parquet(src)
    VersionedTable.manifestReads.set(0L)
    Streams.streamAppendExpect(spark, src, t, qr, s"$dir/cp", "scale-exp")
    val perBatch4 = VersionedTable.manifestReads.get() / 4.0
    // 12 more batches onto tables now carrying 4x the versions
    docs.repartition(12).write.mode("append").parquet(src)
    VersionedTable.manifestReads.set(0L)
    Streams.streamAppendExpect(spark, src, t, qr, s"$dir/cp", "scale-exp")
    val perBatch12 = VersionedTable.manifestReads.get() / 12.0
    assert(perBatch12 <= perBatch4 * 1.5 + 4,
      f"per-batch manifest reads grew with table history: " +
        f"$perBatch4%.1f -> $perBatch12%.1f")
    assert(perBatch12 <= 30,
      f"two-sided ingest reads $perBatch12%.1f manifests per batch — " +
        "constant-bounded, not O(versions)?")
    // correctness of the pinned path: every source row landed exactly once
    assert(VersionedTable.read(spark, t).count() +
      VersionedTable.read(spark, qr).count() == 600)
  }

  test("stats harvest distributes: many-file backfill is a Spark job, small ones a driver loop") {
    import spark.implicits._
    // the commit path must not hold a 100k-footer harvest on the driver:
    // past the threshold the footer reads fan out as a Spark job. Shape
    // asserted via job groups: a big backfill runs >= 1 job with > 1
    // task; a small one runs ZERO jobs (driver loop over hot footers).
    def sidecar(t: String): java.io.File = {
      val dir = new java.io.File(s"$t/data").listFiles()
        .map(_.getName).filter(_.startsWith("c-")).head
      new java.io.File(s"$t/_commits/$dir.stats")
    }
    def harvestJobs(nFiles: Int, tag: String): (Int, String) = {
      val t = graft.Caches.newTempDir(s"graft_vt_stats_$tag").toString + "/t"
      val base = spark.range(0, 10000)
        .select(col("id"), (col("id") % 97).as("v"))
      VersionedTable.commit(base.repartitionByRange(nFiles, col("id")), t)
      val sc = sidecar(t)
      assert(sc.exists()); assert(sc.delete())
      spark.sparkContext.setJobGroup(s"stats-harvest-$tag", tag)
      try assert(VersionedTable.collectStats(spark, t) == 1)
      finally spark.sparkContext.clearJobGroup()
      assert(sc.exists(), "backfill must restore the sidecar")
      // and the restored stats actually skip
      assert(VersionedTable.readWhere(spark, t, "id", 0L, 0L)
        .inputFiles.length < nFiles)
      (spark.sparkContext.statusTracker
        .getJobIdsForGroup(s"stats-harvest-$tag").length, t)
    }
    val (bigJobs, _) = harvestJobs(32, "big")
    assert(bigJobs >= 1,
      "a 32-file harvest must run as a Spark job, not a driver loop")
    val (smallJobs, _) = harvestJobs(4, "small")
    assert(smallJobs == 0,
      s"a 4-file harvest should stay a driver loop, ran $smallJobs jobs")
  }

  test("z-order rejects values that only break AFTER the cast (strings, NaN)") {
    import spark.implicits._
    val dir = graft.Caches.newTempDir("graft_zbad").toString
    // non-numeric string: null only after cast("double")
    val strBad = Seq((1L, "12"), (2L, "not-a-number")).toDF("a", "b")
    val e1 = intercept[IllegalArgumentException] {
      Catalog.writeZOrderedN(strBad, dir, Seq("a", "b"))
    }
    assert(e1.getMessage.contains("non-numeric"))
    // NaN double: never null, silently garbage without the isnan check
    val nanBad = Seq((1L, 1.0), (2L, Double.NaN)).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException] {
      Catalog.writeZOrderedN(nanBad, dir, Seq("a", "b"))
    }
    assert(e2.getMessage.contains("NaN"))
  }

  test("z-order clustered layout prunes row groups on the non-sort column too") {
    // Tables.events handles the driver's TIMESTAMP(NANOS) ts column
    val events = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select("event_id", "user_id", "value")
    val zDir = graft.Caches.newTempDir("graft_zorder").toString
    val linDir = graft.Caches.newTempDir("graft_linear").toString
    Catalog.writeZOrderedN(events, zDir, Seq("event_id", "user_id"),
      bits = 16, numFiles = 16)
    // comparison layout: same file count, clustered on event_id only —
    // the single-column sort every ingest produces by default
    events.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(linDir)

    def scanRows(dir: String): (Long, Set[Long]) = {
      // a user_id predicate: the column the linear layout did NOT sort by
      val q = spark.read.parquet(dir)
        .filter(col("user_id") >= 10 && col("user_id") <= 20)
      // collect THIS plan instance -> populates its scan metrics
      val ids = q.collect().map(_.getAs[Long]("event_id")).toSet
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      (scan.metrics("numOutputRows").value, ids)
    }
    val (zRows, zIds) = scanRows(zDir)
    val (linRows, linIds) = scanRows(linDir)
    assert(zIds == linIds, "both layouts return identical rows")
    // linear layout spreads every user over every file -> (almost) no row
    // group skips; z-curve tiles confine the user range to a band of files
    assert(linRows >= events.count() * 9 / 10,
      s"baseline should scan (nearly) everything, got $linRows")
    assert(zRows <= linRows / 2,
      s"z-ordered scan should prune at least half the rows: $zRows vs $linRows")
  }

  test("N-column Morton interleave decodes back to each dimension's quantile") {
    import spark.implicits._
    // 3 dims × default bits (min(16, 63/3) = 16); integer grid [0, 15]
    val rows = for (a <- 0 to 15; b <- 0 to 15; c <- 0 to 15 by 5)
      yield (a.toDouble, b.toDouble, c.toDouble)
    val df = rows.toDF("a", "b", "c")
    val got = Catalog.withMortonN(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3)))
    val bits = 16
    val maxV = (1L << bits) - 1
    def quant(v: Double, lo: Double, hi: Double): Long =
      math.min(maxV, math.max(0L, math.round((v - lo) * (maxV / (hi - lo)))))
    // independent INVERSE: pull dimension d's bits back out of the key
    def decode(z: Long, d: Int): Long = {
      var q = 0L
      var i = 0
      while (i < bits) { q |= ((z >>> (i * 3 + d)) & 1L) << i; i += 1 }
      q
    }
    got.foreach { case (a, b, c, z) =>
      assert(decode(z, 0) == quant(a, 0, 15), s"dim a of ($a,$b,$c)")
      assert(decode(z, 1) == quant(b, 0, 15), s"dim b of ($a,$b,$c)")
      assert(decode(z, 2) == quant(c, 0, 15), s"dim c of ($a,$b,$c)")
    }
  }

  test("3-column z-order prunes on the THIRD clustering column") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select("event_id", "user_id", "value")
    val zDir = graft.Caches.newTempDir("graft_zorder3").toString
    val linDir = graft.Caches.newTempDir("graft_linear3").toString
    Catalog.writeZOrderedN(events, zDir, Seq("event_id", "user_id", "value"),
      numFiles = 16)
    events.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(linDir)
    def scanRows(dir: String): (Long, Set[Long]) = {
      // a selective predicate on the THIRD z column (~top 3% of a
      // skewed distribution; the linear layout never sorted by it)
      val q = spark.read.parquet(dir)
        .filter(col("value") >= 150.0)
      val ids = q.collect().map(_.getAs[Long]("event_id")).toSet
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      (scan.metrics("numOutputRows").value, ids)
    }
    val (zRows, zIds) = scanRows(zDir)
    val (linRows, linIds) = scanRows(linDir)
    assert(zIds == linIds, "both layouts return identical rows")
    assert(zRows < linRows,
      s"3-col z-order should prune rows on its third column: $zRows vs $linRows")
  }
}
