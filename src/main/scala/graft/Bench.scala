package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** Wiki-ETL throughput (the one direct baseline comparison BASELINE.md
    * allows: the reference ingests Wikidata at ~1.5-2.2k lines/s
    * single-threaded). Synthesizes an `nLines`-entity JSON dump shaped
    * like the real one (item/property mix, excluded-QID and
    * deprecated-rank claims, 80% sitelink coverage, per-entity aliases),
    * written as splittable bz2 parts, then times the full
    * EntitiesJob + AliasesJob ingest materializing all three catalog
    * tables to parquet. Dump generation is excluded from the timing.
    */
  /** The synthetic Wikidata dump lines used by [[wikiEtlThroughput]]. */
  def etlDumpLines(spark: SparkSession, nLines: Long): DataFrame = {
    val id = col("id")
    val claim = (target: org.apache.spark.sql.Column, rank: org.apache.spark.sql.Column) =>
      struct(struct(struct(struct(target.as("id")).as("value")).as("datavalue")).as("mainsnak"),
        rank.as("rank"))
    val lines = spark.range(nLines).select(concat(to_json(struct(
      when(pmod(id, lit(20)) === 0, "property").otherwise("item").as("type"),
      concat(lit("Q"), id).as("id"),
      map(
        lit("P31"), array(claim(
          // ~3% excluded-QID claims; 1/13 of those deprecated (kept)
          when(pmod(id, lit(31)) === 0, "Q4167836")
            .otherwise(concat(lit("Q"), pmod(id, lit(1000)))),
          when(pmod(id, lit(13)) === 0, "deprecated").otherwise("normal"))),
        lit("P279"), array(claim(
          concat(lit("Q"), pmod(id + 7, lit(1000))), lit("normal")))
      ).as("claims"),
      // 80% of entities have the enwiki sitelink (the F4 row gate)
      when(pmod(id, lit(5)) =!= 0,
        map(lit("enwiki"), struct(concat(lit("Title "), id).as("title"))))
        .otherwise(lit(null).cast("map<string,struct<title:string>>"))
        .as("sitelinks"),
      map(lit("en"), struct(lit("en").as("language"),
        concat(lit("Label "), id).as("value"))).as("labels"),
      map(lit("en"), struct(lit("en").as("language"),
        concat(lit("Description of entity "), id).as("value"))).as("descriptions"),
      map(lit("en"), array(
        struct(lit("en").as("language"),
          concat(lit("alias "), pmod(id, lit(5000))).as("value")),
        struct(lit("en").as("language"),
          concat(lit("alt "), id).as("value")))).as("aliases"))),
      lit(",")).as("value"))
    lines
  }

  /** Reps for the two throughput phases (ETL/WP). Best-of-3 by default:
    * the co-tenant host steals CPU in multi-second bursts, and with the
    * per-rep (wall, steal) breakdown in the JSON a contended driver run
    * is self-evidently contended rep-by-rep — an uncontended rep shows
    * its real rate even inside a noisy run.
    */
  private def throughputReps: Int =
    // clamp: 0 here would die on empty.min and masquerade as a phase
    // FAILURE — the supported skip is SPARK_GRAFT_ETL_LINES/_WP_LINES=0
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_THROUGHPUT_REPS", "3").toInt)

  private def throughputMaxReps: Int =
    math.max(throughputReps,
      sys.env.getOrElse("SPARK_GRAFT_THROUGHPUT_MAX_REPS",
        (throughputReps + 2).toString).toInt)

  private def benchCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The shared contamination test (query AND throughput phases): a rep
    * whose steal exceeds 5% of the window's cpu-tick capacity (or 10
    * ticks, whichever is larger) can't be trusted as an uncontended
    * measurement. USER_HZ=100 ⇒ capacity = wall·100·nCpus ticks.
    */
  private def contaminatedRep(wall: Double, steal: Long): Boolean =
    steal > math.max(10.0, 0.05 * wall * 100 * benchCpus)

  /** Steal-aware retry, shared by the query AND throughput phases (the
    * r7 ETL postmortem: the committed rate halved on an UNTOUCHED code
    * path because the run started inside a 55k-tick steal burst and the
    * fixed reps had no recourse). Runs `baseReps` reps, then buys extra
    * reps (up to `maxReps`) while the BEST-wall rep is itself
    * contaminated — the best rep is the number the JSON reports, so that
    * is the rep that must be clean (a dirty best beside one clean slower
    * rep still buys a retry; all-dirty was the pre-r9 query-phase
    * condition and under-retried exactly that case).
    */
  private def repsWithRetry(tag: String, baseReps: Int, maxReps: Int)
      (runRep: Int => (Double, Long)): Seq[(Double, Long)] = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    (1 to baseReps).foreach(rep => reps += runRep(rep))
    while (reps.size < maxReps &&
           (contaminatedRep _).tupled(reps.minBy(_._1))) {
      System.err.println(s"[bench] $tag: best rep steal-contaminated " +
        s"(${reps.map(_._2).mkString(",")} ticks) — extra rep")
      reps += runRep(reps.size + 1)
    }
    reps.toSeq
  }

  /** The rep the JSON reports: min wall among CLEAN reps when any exist
    * (the retry buys extra windows precisely because the reported rep
    * must be uncontended); when every rep ran dirty — retry budget
    * exhausted inside a long burst — fall back to the overall min and
    * FLAG it, so a contaminated best can never masquerade as a clean
    * measurement (the r8 ADVICE hole: all retries spent, fastest rep
    * still dirty, rate reported unflagged).
    */
  private def bestRep(reps: Seq[(Double, Long)]): (Double, Long, Boolean) = {
    val clean = reps.filterNot((contaminatedRep _).tupled)
    if (clean.nonEmpty) { val (d, s) = clean.minBy(_._1); (d, s, false) }
    else { val (d, s) = reps.minBy(_._1); (d, s, true) }
  }

  def wikiEtlThroughput(spark: SparkSession, nLines: Long)
      : (Double, Double, Seq[(Double, Long)]) = {
    import graft.wiki.{AliasesJob, EntitiesJob, Schemas, WikidataSource}
    val tmpPath = Caches.newTempDir("graft_etl")
    val tmp = tmpPath.toString
    val dump = s"$tmp/dump"
    etlDumpLines(spark, nLines).repartition(64)
      .write.mode("overwrite").option("compression", "bzip2").text(dump)

    // Untimed steady-state warmup: the exact pipeline over a separate ~10%
    // dump, so the timed run measures the job, not first-use JIT of the
    // full-schema JSON parse (profiled at ~10x interpreted-vs-compiled on
    // the first ~1M rows), codegen compile, shuffle or parquet-writer
    // paths. The warm dump must have the SAME plan shape as the timed one —
    // an earlier limit(2000) warmup warmed nothing because the limit both
    // changed the plan and gave the JIT too few invocations.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      val wt0 = System.nanoTime()
      val warmDump = s"$tmp/warm_dump"
      etlDumpLines(spark, math.max(nLines / 10, 50000L)).repartition(8)
        .write.mode("overwrite").option("compression", "bzip2").text(warmDump)
      val w = EntitiesJob.run(WikidataSource.read(spark, warmDump), singleScan = true)
      w.entities.write.mode("overwrite").parquet(s"$tmp/warm_e")
      w.properties.write.mode("overwrite").parquet(s"$tmp/warm_p")
      val emptyW = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.aliases)
      AliasesJob.aggregate(w.aliases, emptyW)
        .write.mode("overwrite").parquet(s"$tmp/warm_a")
      w.release()
      System.err.println(f"[bench] etl warmup: ${(System.nanoTime() - wt0) / 1e9}%.1f s")
    }

    // Best-of-N timed runs: the host is a co-tenant VM and /proc/stat
    // steal shows bursty multi-second CPU theft (observed swinging the
    // identical job 18k<->114k lines/s); the min of the windows estimates
    // the job's uncontended rate, which is what the baseline comparison
    // is about. Each rep's (wall, steal-delta) pair goes into the JSON so
    // a contended run adjudicates itself.
    val reps = repsWithRetry("etl", throughputReps, throughputMaxReps) { rep =>
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val ents = EntitiesJob.run(WikidataSource.read(spark, dump), singleScan = true)
      ents.entities.write.mode("overwrite").parquet(s"$tmp/entities")
      val tEnt = (System.nanoTime() - t0) / 1e9
      ents.properties.write.mode("overwrite").parquet(s"$tmp/properties")
      val tProp = (System.nanoTime() - t0) / 1e9
      val emptyLinks = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.aliases)
      AliasesJob.aggregate(ents.aliases, emptyLinks)
        .write.mode("overwrite").parquet(s"$tmp/aliases")
      val t = (System.nanoTime() - t0) / 1e9
      val steal = stealTicks() - s0
      System.err.println(f"[bench] etl rep $rep: entities $tEnt%.1f s, +properties ${tProp - tEnt}%.1f s, +aliases ${t - tProp}%.1f s (steal $steal ticks)")
      ents.release()          // drop the singleScan staging cache
      (t, steal)
    }
    Caches.deleteNow(tmpPath) // dump + outputs: ~1 GB per 1M lines
    val (dt, _, dirty) = bestRep(reps)
    if (dirty) System.err.println(
      "[bench] etl: EVERY rep steal-contaminated — reported rate is a " +
        "contaminated window (flagged in the JSON)")
    (nLines / dt, dt, reps)
  }

  /** Wikipedia-pass throughput — the reference's FAST path ("2-3h for
    * 1100M lines" ≈ 100-150k lines/s, ref /root/reference/scripts/wiki/
    * wikipedia.py:92-93): stream the articles XML dump, extract [[links]]
    * from every page, and aggregate per-alias counts (the prior-probability
    * pass = AliasesJob.linkCounts + aggregate). Synthesizes an
    * `nLines`-line XML dump (~15 lines per page: title/ns/id/revision
    * wrapper + wikitext body with links), written as splittable bz2; dump
    * generation is excluded from the timing.
    */
  /** Write `nPages` synthetic wiki XML pages as a splittable bz2 dump. */
  private[graft] def writeWpDump(spark: SparkSession, nPages: Long, dump: String,
                          parts: Int): Unit = {
    val id = col("id")
    // 10 body lines, 2 [[links]] each, à la the enwiki median paragraph
    val body = (0 until 10).map { k =>
      concat(lit(s"Paragraph $k with a [[Link "), pmod(id * 7 + k, lit(50000)),
        lit(s"]] and [[Target "), pmod(id * 13 + k, lit(50000)),
        lit(s"|an alias]] plus filler text that makes the line realistically sized for parse cost.\n"))
    }
    val page = concat(Seq(
      lit("  <page>\n"),
      concat(lit("    <title>Title "), id, lit("</title>\n")),
      lit("    <ns>0</ns>\n"),
      concat(lit("    <id>"), id, lit("</id>\n")),
      lit("    <revision>\n      <text>")) ++
      body ++
      Seq(lit("      </text>\n    </revision>\n  </page>")): _*)
    // each part file must be a well-formed XML doc (the XML source stops
    // after the first top-level element otherwise): wrap every partition
    // in a <mediawiki> root
    import spark.implicits._
    spark.range(nPages).select(page.as("value")).as[String]
      .repartition(parts)
      .mapPartitions(it => Iterator("<mediawiki>") ++ it ++ Iterator("</mediawiki>"))
      .write.mode("overwrite").option("compression", "bzip2").text(dump)
  }

  def wikiWpThroughput(spark: SparkSession, nLines: Long)
      : (Double, Double, Seq[(Double, Long)]) = {
    import graft.wiki.{AliasesJob, WikipediaSource}
    val tmpPath = Caches.newTempDir("graft_wp")
    val tmp = tmpPath.toString
    val dump = s"$tmp/dump"

    val linesPerPage = 15L
    val nPages = math.max(1L, nLines / linesPerPage)
    writeWpDump(spark, nPages, dump, 64)

    // title map for the J3 resolution join (the reference's in-memory
    // title_to_id dict): every link/target title is resolvable
    val titleMap = spark.range(50000).select(
        concat(lit("Link "), col("id")).as("name"),
        concat(lit("Q"), col("id")).as("id"))
      .unionByName(spark.range(50000).select(
        concat(lit("Target "), col("id")).as("name"),
        concat(lit("Q"), col("id") + 50000).as("id")))

    def runPass(in: org.apache.spark.sql.DataFrame, out: String): Unit = {
      val counts = AliasesJob.linkCounts(in, titleMap)
      val emptySeed = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.wiki.Schemas.aliases)
      AliasesJob.aggregate(emptySeed, counts)
        .write.mode("overwrite").parquet(out)
    }
    // Untimed steady-state warmup (same principle/caveat as the ETL bench):
    // the exact pipeline plan shape over a separate ~10% dump triggers
    // XML-source, link-UDF, shuffle and parquet-writer JIT before the
    // clock starts — a limit() slice would change the plan and under-warm.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      val warmDump = s"$tmp/warm_dump"
      writeWpDump(spark, math.max(nPages / 10, 3000L), warmDump, 8)
      runPass(WikipediaSource.read(spark, warmDump), s"$tmp/warm")
    }

    // best-of-N timed windows with per-rep steal + steal-aware retry,
    // same rationale as ETL
    val reps = repsWithRetry("wp", throughputReps, throughputMaxReps) { rep =>
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      runPass(WikipediaSource.read(spark, dump), s"$tmp/priors")
      val t = (System.nanoTime() - t0) / 1e9
      val steal = stealTicks() - s0
      System.err.println(f"[bench] wp rep $rep: $t%.1f s (steal $steal ticks)")
      (t, steal)
    }
    Caches.deleteNow(tmpPath)
    val (dt, _, dirty) = bestRep(reps)
    if (dirty) System.err.println(
      "[bench] wp: EVERY rep steal-contaminated — reported rate is a " +
        "contaminated window (flagged in the JSON)")
    (nPages * linesPerPage / dt, dt, reps)
  }

  /** The document stress corpora's shared growth scheme: each copy
    * prefixes every token with a copy tag — a bijective shingle rename,
    * so copies share NO shingles/buckets/windows with each other and the
    * corpus grows `factor`× at CONSTANT near-dup density (growing with
    * clones would plant factor·n·(factor−1)/2 TRUE pairs and measure the
    * planted truth, not the pruning knobs under test).
    */
  private def copyRenamedDocs(docs: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { f =>
      docs.select((col("doc_id") + lit(f.toLong * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(lit(s"c$f"), t)), " ").as("text"))
    }.reduce(_ unionByName _)

  /** The embedding stress corpora's shared growth scheme. Copy ids
    * INTERLEAVE (id·factor + f): the quantizer seeds from the smallest
    * nClusters ids, so the seed set must cover every copy's region —
    * disjoint id blocks would seed only copy 0 and collapse all other
    * copies onto its centroids (measured: quadratic candidates). Each
    * copy applies a per-copy RANDOM SIGN pattern per dimension — an
    * isometry within the copy (pairwise cosines, and therefore the
    * within-copy candidate structure, are EXACTLY the original's) while
    * cross-copy directions decorrelate; a constant-axis shift instead
    * collapses each copy's cloud toward that axis and inflates
    * within-copy density (measured: 4.5x at 3x).
    */
  private def signFlippedEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { f =>
      emb.select((col("vec_id") * factor + lit(f.toLong)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(
            pmod(xxhash64(concat_ws(":", lit(f), i.cast("string"))), lit(2)) === 0,
            x).otherwise(-x)).as("embedding"))
    }.reduce(_ unionByName _)

  /** One corpus's dedup-stress measurements (one [[dedupStress]] row).
    * The simhash columns carry the raw pigeonhole candidate count (the
    * capped-bucket quantity, which inherits each width's documented
    * n²/2^w birthday floor), the count of candidates VERIFIED at hamming
    * distance <= 3, and — the self-adjudication columns — the CROSS-COPY
    * split of both (ids in different copy blocks of the renamed
    * fixture). Copy-renaming shares no tokens across copies, so a
    * cross-copy RAW candidate is a pure chance chunk collision whose
    * count must match the birthday arithmetic n²·chunks/2^width, and a
    * cross-copy VERIFIED pair would mean chance reached inside the
    * distance threshold: that column must read 0. A raw count that
    * outgrows the corpus beside candCross ≈ the arithmetic and
    * verifiedCross == 0 is the floor demonstrating itself in the
    * artifact, not a pruning failure. The verified count itself
    * is linear IN COPIES with a per-rename constant, not a multiple of
    * the 1× identity draw: each copy re-hashes every token, and the
    * distance histogram has a steep shoulder just above the threshold
    * (measured at factor 20 on sf0.1: 7.2k pairs at dist 3 vs 23.7k at
    * dist 4 and 61.8k at dist 5), so threshold-adjacent pairs flip
    * in/out per rename — per-copy verified counts ranged 227–1,643
    * (mean 576) with cross-copy == 0 in that run.
    */
  case class DedupStressRow(docs: Long, lshCand: Long, lshSec: Double,
                            ngramCand: Long, fuzzyCand: Long,
                            simCand: Long, simCandCross: Long,
                            simVerified: Long, simVerifiedCross: Long,
                            sim128Cand: Long, sim128CandCross: Long,
                            sim128Verified: Long, sim128VerifiedCross: Long)

  /** Scale-stress for the dedup pruning knobs: measure LSH candidate
    * count and wall time on the sf corpus at 1× and at `factor`× (copies
    * with a per-copy token rename — disjoint shingle sets, constant
    * near-dup density). The claim under test: `maxBucketSize` /
    * `maxShingleFreq` keep candidates near-linear in corpus size
    * (sub-quadratic), so the knobs hold beyond the driver's sf0.1.
    * Returns the (1×, factor×) [[DedupStressRow]] pair.
    */
  def dedupStress(spark: SparkSession, sfDir: String, factor: Int)
      : (DedupStressRow, DedupStressRow) = {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val big = copyRenamedDocs(docs, factor)

    // fuzzy-blocking stress corpus: short titles where 1/3 of rows share
    // a constant stop-word first token ("the") ACROSS copies — that one
    // blocking cell grows with the corpus and its self-join is quadratic;
    // the maxBlockSize cap drops it (documented recall tradeoff) so the
    // surviving candidates track the healthy copy-renamed cells, which
    // are disjoint across copies and therefore linear.
    def titles(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("the "), substring(col("text"), 1, 36)))
        .otherwise(substring(col("text"), 1, 40)).as("title"))

    // raw candidates AND post-verify (dist <= 3) pairs in ONE job — the
    // self-adjudication column (see DedupStressRow): a raw count that
    // outgrows the corpus while the verified count stays linear is the
    // birthday floor, proven rather than asserted
    def simCounts(cands: org.apache.spark.sql.DataFrame)
        : (Long, Long, Long, Long) = {
      // cross-copy = the pair's ids live in different copy blocks of the
      // renamed fixture (copyRenamedDocs offsets ids by f·10⁷); at 1×
      // every id is in block 0 so both cross columns are trivially 0.
      // Copies share no tokens, so a cross-copy RAW candidate is a pure
      // chance chunk collision — the count must match the birthday
      // arithmetic n²·chunks/2^width — and a cross-copy VERIFIED pair
      // (dist <= 3) should not exist at all.
      val crossCopy = floor(col("id_a") / lit(10000000L)) =!=
        floor(col("id_b") / lit(10000000L))
      val r = cands.agg(count(lit(1)).as("raw"),
        count(when(crossCopy, 1)).as("raw_cross"),
        count(when(col("dist") <= 3, 1)).as("verified"),
        count(when(col("dist") <= 3 && crossCopy, 1)).as("verified_cross"))
        .first()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    def run(d: org.apache.spark.sql.DataFrame): DedupStressRow = {
      val nDocs = d.count()
      val t0 = System.nanoTime()
      val nCand = Dedup.minhashCandidates(d, "doc_id", "text").count()
      val dt = (System.nanoTime() - t0) / 1e9
      val nNgram = Dedup.ngramCandidates(d, "doc_id", "text",
        maxShingleFreq = 1000).count()
      val nFuzzy = Dedup.fuzzyCandidates(titles(d), "doc_id", "title",
        maxDist = 2).count()
      // the simhash pigeonhole's candidates: copy-renamed tokens hash to
      // unrelated signatures, so cross-copy chunk collisions are chance
      // (1/65536 per chunk) — the capped buckets keep the STRUCTURED part
      // linear, but the chance part carries the documented n²/2¹⁴
      // birthday floor, visible at stress scale (and adjudicated by the
      // verified column: chance pairs sit at distance >> 3)
      val (nSim, nSimX, nSimV, nSimVX) = simCounts(Dedup.hammingCandidatePairs(
        Dedup.withSimhash(d.select(col("doc_id"), col("text").as("__text")),
          "__text", "sig").select("doc_id", "sig")))
      // the 128-bit path (4 × 32-bit chunks): same corpus, floor pushed
      // to n²/2³⁰ — the raw count must stay ~linear exactly where the
      // 64-bit column shows the floor emerging
      val (nSim128, nSim128X, nSim128V, nSim128VX) =
        simCounts(Dedup.hammingCandidatePairs128(
          Dedup.withSimhash128(d.select(col("doc_id"), col("text").as("__text")),
            "__text", "sig").select("doc_id", "sig")))
      Caches.releaseAll(spark)
      DedupStressRow(nDocs, nCand, dt, nNgram, nFuzzy,
        nSim, nSimX, nSimV, nSimVX, nSim128, nSim128X, nSim128V, nSim128VX)
    }
    (run(docs), run(big))
  }

  /** Scale-stress for semantic dedup's cluster discipline: candidates are
    * within-cluster pairs, so at FIXED nClusters a factor× corpus is
    * factor²× pairs — the documented contract is nClusters ∝ corpus
    * (constant expected cluster size). Measured here: candidates at
    * (N, K) vs (factor·N, factor·K), where each embedding copy applies a
    * per-copy random SIGN FLIP per dimension — an isometry within the
    * copy (pairwise cosines preserved exactly) whose cross-copy
    * directions decorrelate, so copies occupy distinct regions instead of
    * piling into the originals' clusters. Near-linear ratio = the knob
    * holds. kmeansIters = 0 (seed quantizer): Lloyd quality is irrelevant
    * to the linearity claim and the assignment pass dominates.
    */
  def semanticStress(spark: SparkSession, sfDir: String, factor: Int)
      : (Long, Long, Long, Long, Long, Long) = {
    import graft.ext.Dedup
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val big = signFlippedEmbeddings(emb, factor)
    val k1 = 16
    val n1 = emb.count()
    val c1 = Dedup.semanticCandidatePairs(emb, "vec_id", "embedding",
      nClusters = k1, kmeansIters = 0).count()
    Caches.releaseAll(spark)
    val nN = big.count()
    val cN = Dedup.semanticCandidatePairs(big, "vec_id", "embedding",
      nClusters = k1 * factor, kmeansIters = 0).count()
    Caches.releaseAll(spark)
    // hyperplane-sign candidates under the same knob-∝-corpus contract:
    // planes grow so buckets (2^planes) scale at least with the corpus
    // (⌈log2 factor⌉ extra planes), and the orthant cap bounds whatever
    // skew the sign distribution has — together the count must stay
    // flat-or-linear at factor× size
    val p1 = 8
    val pN = p1 + math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
    val e1 = Dedup.embeddingCandidates(emb, "vec_id", "embedding",
      planes = p1).count()
    Caches.releaseAll(spark)
    val eN = Dedup.embeddingCandidates(big, "vec_id", "embedding",
      planes = pN).count()
    Caches.releaseAll(spark)
    (n1, c1, nN, cN, e1, eN)
  }

  /** Scale-stress for the incremental signature store: per-batch probe
    * AND per-batch append cost must be FLAT as the store grows, provided
    * `storeParts` tracks corpus size (the store's partition-granularity
    * contract — the same knob-∝-corpus discipline as nClusters for
    * semantic dedup). Builds a 1× store at storeParts=16 and a factor×
    * store (copy-renamed tokens, disjoint shingles — the dedupStress
    * corpus) at storeParts=16·factor, then against BOTH stores (a) probes
    * with the same 5-doc batch, measuring wall seconds and the
    * partition-pruned scan's row count, and (b) APPENDS a small batch,
    * measuring wall seconds — an append writes one new segment and reads
    * or rewrites nothing that exists, so its cost must not grow with the
    * store either. Expected: rows and both
    * timings ~equal at 1× and factor×. Returns
    * (docs1, rows1, probeSec1, appendSec1, docsN, rowsN, probeSecN, appendSecN).
    */
  def incrementalStress(spark: SparkSession, sfDir: String, factor: Int)
      : (Long, Long, Double, Double, Long, Long, Double, Double) = {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val big = copyRenamedDocs(docs, factor)
    // the SAME small batch against both stores: 5 corpus docs under fresh
    // ids (they match their copy-0 originals, so the probe does real work)
    val batch = docs.orderBy("doc_id").limit(5)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .cache()
    batch.count()
    def run(corpus: org.apache.spark.sql.DataFrame, parts: Int,
            tag: String): (Long, Long, Double, Double) = {
      val nDocs = corpus.count()
      val store = Caches.newTempDir(s"graft_incr_$tag").toString
      Dedup.appendSignatureStore(corpus, "doc_id", "text", store,
        storeParts = parts)
      Caches.releaseAll(spark)
      val probeRows = new java.util.concurrent.atomic.AtomicLong(-1L)
      val t0 = System.nanoTime()
      Dedup.dedupAgainstStore(spark, store, batch, "doc_id", "text",
        storeParts = parts, probeRowsRead = Some(probeRows)).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = probeRows.get()
      Caches.releaseAll(spark)
      // append a DISTINCT small batch (fresh ids/tokens — store ids are
      // unique by contract) and time the full append path: the new
      // segment's sig/bucket writes plus the manifest commit
      val appendBatch = docs.orderBy("doc_id").limit(5)
        .select((col("doc_id") + 950000000L).as("doc_id"),
          array_join(transform(split(col("text"), "\\s+"),
            t => concat(lit("apnd"), t)), " ").as("text"))
      val a0 = System.nanoTime()
      Dedup.appendSignatureStore(appendBatch, "doc_id", "text", store,
        storeParts = parts)
      val at = (System.nanoTime() - a0) / 1e9
      Caches.releaseAll(spark)
      (nDocs, rows, dt, at)
    }
    val (d1, r1, t1, a1) = run(docs, 16, "1x")
    val (dn, rn, tn, an) = run(big, 16 * factor, "Nx")
    batch.unpersist()
    (d1, r1, t1, a1, dn, rn, tn, an)
  }

  /** One corpus's FTS-store stress measurements. */
  case class FtsStressRow(docs: Long, prunedRows: Long, probeSec: Double,
                          appendSec: Double)

  /** Scale-stress for the incremental FTS store: probe cost must track
    * BUCKETS TOUCHED, not corpus size, provided `numBuckets` tracks the
    * corpus (the same knob-∝-corpus discipline as storeParts /
    * nClusters: per-bucket postings ≈ corpus terms / numBuckets stays
    * flat). The copy-renamed corpus keeps term sets disjoint across
    * copies, so the factor× store holds factor× distinct terms while the
    * SAME query terms still resolve to only the copy-0 docs — the
    * pruned-postings row count and the probe seconds must both stay
    * ~flat. Appends are new-segment-only by construction; the same
    * 5-doc batch must append in flat time against both stores (nothing
    * existing is read or rewritten). Returns the (1×, factor×) row pair.
    */
  def ftsStoreStress(spark: SparkSession, sfDir: String, factor: Int)
      : (FtsStressRow, FtsStressRow) = {
    import graft.fts.FtsStore
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val big = copyRenamedDocs(docs, factor)
    def run(corpus: DataFrame, buckets: Int, tag: String): FtsStressRow = {
      val nDocs = corpus.count()
      val store = Caches.newTempDir(s"graft_ftsstress_$tag").toString + "/s"
      FtsStore.create(corpus, "doc_id", Seq("text"), store,
        numBuckets = buckets)
      Caches.releaseAll(spark)
      val t0 = System.nanoTime()
      FtsStore.searchAll(spark, store, Seq("spark", "window")).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val pruned = FtsStore.postingsForTerms(spark, store,
        Seq("spark", "window")).count()
      Caches.releaseAll(spark)
      val batch = docs.orderBy("doc_id").limit(5)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      val a0 = System.nanoTime()
      FtsStore.append(batch, "doc_id", Seq("text"), store)
      val at = (System.nanoTime() - a0) / 1e9
      Caches.releaseAll(spark)
      FtsStressRow(nDocs, pruned, dt, at)
    }
    (run(docs, 16, "1x"), run(big, 16 * factor, "Nx"))
  }

  /** One table's versioned-upsert stress measurements. */
  case class VtStressRow(rows: Long, upsertSec: Double, filesWritten: Long)
  case class MergeStressRow(rows: Long, mergeSec: Double,
                            filesRewritten: Long)
  case class ReplStressRow(rows: Long, replaceSec: Double,
                           filesWritten: Long)

  /** Scale-stress for [[graft.catalog.VersionedTable.replaceWhere]]'s
    * partition-only fast path: replacing the SAME fixed one-partition
    * slice of a 1× and a factor× table (grown by ADDING partitions, so
    * the replaced slice stays constant) must cost ~the same wall time —
    * membership is decided from the path layout (zero data bytes read),
    * the rewrite writes only the batch, and every other partition
    * travels by manifest reference. A table-proportional wall here
    * would mean the swap is secretly scanning the table.
    */
  def replaceWhereStress(spark: SparkSession, sfDir: String, factor: Int)
      : (ReplStressRow, ReplStressRow) = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val target = docs.select(min("source")).head().getString(0)
    val patch = docs.filter(col("source") === target)
      .withColumn("n_chars", col("n_chars") * 2)
    // growth adds PARTITIONS (renamed sources), never widens the
    // replaced one — the fixed-slice contract under test
    def grow(f: Int): DataFrame =
      (0 until f).map { i =>
        if (i == 0) docs
        else docs.select(
          (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          concat(col("source"), lit(s"_g$i")).as("source"),
          col("n_chars"))
      }.reduce(_ unionByName _)
    def run(corpus: DataFrame, tag: String): ReplStressRow = {
      val n = corpus.count()
      val t = Caches.newTempDir(s"graft_replw_$tag").toString + "/t"
      VersionedTable.commit(corpus, t, Seq("source"))
      Caches.releaseAll(spark)
      val a0 = System.nanoTime()
      val v = VersionedTable.replaceWhere(patch, t,
        s"source = '$target'")
      val at = (System.nanoTime() - a0) / 1e9
      val files = VersionedTable.history(spark, t)
        .filter(col("version") === v).head().getLong(2)
      Caches.releaseAll(spark)
      ReplStressRow(n, at, files)
    }
    (run(docs, "1x"), run(grow(factor), "Nx"))
  }

  /** Scale-stress for the versioned table's O(patch) upsert contract:
    * untouched partitions carry forward BY MANIFEST REFERENCE, so
    * upserting the SAME fixed one-partition patch into a 1× and a
    * factor× table must cost ~the same wall time and write the same
    * bounded file count — the table being factor× bigger buys the commit
    * nothing to do. (The manifest write is O(total files), driver-side
    * metadata — the lakehouse commit-log shape.) Returns the
    * (1×, factor×) row pair.
    */
  def versionedUpsertStress(spark: SparkSession, sfDir: String, factor: Int)
      : (VtStressRow, VtStressRow) = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val minSrc = docs.agg(min("source")).head().getString(0)
    val patch = docs.filter(col("source") === minSrc)
      .withColumn("n_chars", col("n_chars") * 2)
    def grow(f: Int): DataFrame =
      (0 until f).map { i =>
        docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    def run(corpus: DataFrame, tag: String): VtStressRow = {
      val n = corpus.count()
      val t = Caches.newTempDir(s"graft_vt_$tag").toString + "/t"
      VersionedTable.commit(corpus, t, Seq("source"))
      Caches.releaseAll(spark)
      val a0 = System.nanoTime()
      val v = VersionedTable.upsertPartitions(patch, t, "source")
      val at = (System.nanoTime() - a0) / 1e9
      // files THIS commit wrote, from its history sidecar (data dirs are
      // nonce-named and not derivable from the version number)
      val files = VersionedTable.history(spark, t)
        .filter(col("version") === v).head().getLong(2)
      Caches.releaseAll(spark)
      VtStressRow(n, at, files)
    }
    (run(docs, "1x"), run(grow(factor), "Nx"))
  }

  /** Scale-stress for row-level MERGE: a fixed ~100-key patch whose keys
    * all live in ONE range file of a key-clustered table must rewrite
    * O(1) files no matter how large the table grows — filesRewritten
    * stays flat at both scales (the file-pruned rewrite claim), while
    * only the key-column touched-file scan is allowed to grow with the
    * corpus. Per-file row counts are held constant (files scale with the
    * data), so a flat rewrite is the operator's doing, not the layout's.
    */
  def mergeStress(spark: SparkSession, sfDir: String, factor: Int)
      : (MergeStressRow, MergeStressRow) = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val patch = docs.filter(col("doc_id") < 100)
      .withColumn("n_chars", col("n_chars") * 2)
    def grow(f: Int): DataFrame =
      (0 until f).map { i =>
        docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    def run(corpus: DataFrame, nFiles: Int, tag: String): MergeStressRow = {
      val n = corpus.count()
      val t = Caches.newTempDir(s"graft_vtm_$tag").toString + "/t"
      VersionedTable.commit(
        corpus.repartitionByRange(nFiles, col("doc_id")), t)
      Caches.releaseAll(spark)
      val a0 = System.nanoTime()
      val v = VersionedTable.merge(patch, t, "doc_id")
      val at = (System.nanoTime() - a0) / 1e9
      // files THIS commit rewrote, from its history sidecar (data dirs
      // are nonce-named and not derivable from the version number)
      val files = VersionedTable.history(spark, t)
        .filter(col("version") === v).head().getLong(2)
      Caches.releaseAll(spark)
      MergeStressRow(n, at, files)
    }
    (run(docs, 4, "1x"), run(grow(factor), 4 * factor, "Nx"))
  }

  case class DvStressRow(rows: Long, deleteSec: Double, filesWritten: Long,
                         mergeSec: Double, mergeFiles: Long)

  /** Scale-stress for DELETION-VECTOR deletes: the same fixed ~100-row
    * point delete (keys clustered in ONE range file) commits POSITIONS
    * only — the history sidecar must show ZERO data files written at
    * both scales, and the wall cost is the zone-map-bounded position
    * scan plus the sidecar write, so it stays ~flat as the table grows
    * (files scale with the data, per-file rows constant). The
    * merge-on-read counterpart of [[mergeStress]]'s flat-rewrite claim.
    */
  def dvStress(spark: SparkSession, sfDir: String, factor: Int)
      : (DvStressRow, DvStressRow) = {
    import graft.catalog.VersionedTable
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    def grow(f: Int): DataFrame =
      (0 until f).map { i =>
        docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    def run(corpus: DataFrame, nFiles: Int, tag: String): DvStressRow = {
      val n = corpus.count()
      val t = Caches.newTempDir(s"graft_vtdv_$tag").toString + "/t"
      VersionedTable.commit(
        corpus.repartitionByRange(nFiles, col("doc_id")), t)
      Caches.releaseAll(spark)
      val a0 = System.nanoTime()
      val v = VersionedTable.deleteWhere(spark, t,
        Some("doc_id < 100"), dv = true)
      val at = (System.nanoTime() - a0) / 1e9
      val files = VersionedTable.history(spark, t)
        .filter(col("version") === v).head().getLong(2)
      require(files == 0L,
        s"dv_stress: the DV delete wrote $files data file(s)")
      Caches.releaseAll(spark)
      // the merge-on-read upsert: ~100 updated rows clustered in one
      // range file — the commit must carry EVERY base file forward
      // (zero rewrites) and write only the updated images, so both the
      // wall and the file count stay flat as the table grows
      val preFiles = VersionedTable.read(spark, t).inputFiles.toSet
      val patch = corpus.filter(col("doc_id") >= 100 &&
          col("doc_id") < 200)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1).cast("int").as("n_chars"))
      val m0 = System.nanoTime()
      val mv = VersionedTable.mergeWhen(patch, t, "doc_id", dv = true)
      val mt = (System.nanoTime() - m0) / 1e9
      val mFiles = VersionedTable.history(spark, t)
        .filter(col("version") === mv).head().getLong(2)
      require(preFiles.subsetOf(
        VersionedTable.read(spark, t).inputFiles.toSet),
        "dv_stress: the DV merge rewrote base data files")
      Caches.releaseAll(spark)
      DvStressRow(n, at, files, mt, mFiles)
    }
    (run(docs, 4, "1x"), run(grow(factor), 4 * factor, "Nx"))
  }

  case class MvStressRow(rows: Long, refreshSec: Double,
                         hllRefreshSec: Double)

  /** Scale-stress for incremental materialized-view maintenance: the
    * same fixed ~200-row change window (a point delete + a small
    * append) refreshed into a count/sum view — delta mode never reads
    * the source, the change feed diffs O(changed files), and the view
    * merge touches O(groups) rows, so the refresh wall must stay ~flat
    * as the SOURCE grows 10× (the whole point vs an O(table) recompute).
    * A second, sketch-maintained view (approx_count_distinct) absorbs a
    * fixed INSERT-only window by HLL union — also pinned flat, and
    * pinned to the DELTA path (a recompute would scale with the source).
    */
  def mvStress(spark: SparkSession, sfDir: String, factor: Int)
      : (MvStressRow, MvStressRow) = {
    import graft.catalog.{MaterializedView, VersionedTable}
    import graft.catalog.MaterializedView.AggDef
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    def grow(f: Int): DataFrame =
      (0 until f).map { i =>
        docs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    def run(corpus: DataFrame, nFiles: Int, tag: String): MvStressRow = {
      val n = corpus.count()
      val dir = Caches.newTempDir(s"graft_mv_$tag").toString
      val src = s"$dir/src"; val view = s"$dir/view"
      VersionedTable.commit(
        corpus.repartitionByRange(nFiles, col("doc_id")), src)
      MaterializedView.create(spark, src, view, Seq("source"),
        Seq(AggDef("count", "*", "n"), AggDef("sum", "n_chars", "chars")))
      Caches.releaseAll(spark)
      // the fixed window: ~100 deletes clustered in one range file +
      // a 100-row append
      VersionedTable.deleteWhere(spark, src, Some("doc_id < 100"))
      VersionedTable.append(corpus.filter(col("doc_id") >= 100 &&
          col("doc_id") < 200)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          col("source"), col("n_chars")), src)
      val t0 = System.nanoTime()
      MaterializedView.refresh(spark, view)
      val t = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll(spark)
      // sketch view: created at the post-mutation head, then a fixed
      // 100-row INSERT-only window — must fold by hll_union in delta
      // mode (flat), never recompute (source-sized)
      val hllView = s"$dir/hll_view"
      MaterializedView.create(spark, src, hllView, Seq("source"),
        Seq(AggDef("approx_count_distinct", "doc_id", "du")))
      Caches.releaseAll(spark)
      VersionedTable.append(corpus.filter(col("doc_id") >= 200 &&
          col("doc_id") < 300)
        .select((col("doc_id") + 910000000L).as("doc_id"),
          col("source"), col("n_chars")), src)
      val h0 = System.nanoTime()
      MaterializedView.refresh(spark, hllView)
      val ht = (System.nanoTime() - h0) / 1e9
      require(MaterializedView.lastRefreshModeFor(hllView) == "delta",
        "mv_stress: the sketch view's insert-only window must stay delta")
      Caches.releaseAll(spark)
      MvStressRow(n, t, ht)
    }
    (run(docs, 4, "1x"), run(grow(factor), 4 * factor, "Nx"))
  }

  /** Scale-stress for exact substring-span dedup: the operator is a
    * window hash-agg (one row per token) whose join re-admits ONLY
    * duplicated (cnt >= 2) windows, so both the candidate count and the
    * wall time must grow ~linearly with the corpus. The copy-renamed
    * growth scheme (per-copy token prefix) keeps copies' window sets
    * disjoint, so the true candidate count grows exactly linearly and
    * any super-linear measurement is the operator's fault, not the
    * data's. Returns (docs1, cand1, sec1, docsN, candN, secN).
    */
  def spansStress(spark: SparkSession, sfDir: String, factor: Int)
      : (Long, Long, Double, Long, Long, Double) = {
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val big = copyRenamedDocs(docs, factor)
    def run(d: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val nDocs = d.count()
      val cand = Dedup.duplicatedSpanWindows(d, "doc_id", "text").count()
      val t0 = System.nanoTime()
      Dedup.removeDuplicatedSpans(d, "doc_id", "text").count()
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll(spark)
      (nDocs, cand, dt)
    }
    val (d1, c1, t1) = run(docs)
    val (dn, cn, tn) = run(big)
    (d1, c1, t1, dn, cn, tn)
  }

  /** Scale-stress for the persisted IVF+PQ index: at FIXED nlist and
    * nprobe, a factor× corpus means factor× rows per inverted list — the
    * probe must still touch exactly `nprobe` lists (partition pruning,
    * measured via the ADC Observation) and ADC-score linearly-growing
    * rows (corpus·nprobe/nlist), never the whole corpus. One query so
    * `lists_touched` compares directly to nprobe. Returns
    * (vecs1, adcRows1, lists1, vecsN, adcRowsN, listsN).
    */
  def ivfpqStress(spark: SparkSession, sfDir: String, factor: Int)
      : (Long, Long, Long, Long, Long, Long) = {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val big = signFlippedEmbeddings(emb, factor)
    val query = emb.orderBy("vec_id").limit(1)
    def run(corpus: org.apache.spark.sql.DataFrame,
            tag: String): (Long, Long, Long) = {
      val n = corpus.count()
      val path = Caches.newTempDir(s"graft_ivfpq_$tag").toString
      val idx = Similarity.writeIvfPqIndex(corpus, path,
        nlist = 16, kmeansIters = 1, m = 8, ksub = 32, pqIters = 1)
      val obs = org.apache.spark.sql.Observation(s"ivfpq_$tag")
      Similarity.ivfPqTopKFromIndex(spark, path, idx, query, k = 5,
        nprobe = 4, adcObs = Some(obs)).count()
      val adcRows = obs.get("adc_rows").asInstanceOf[Long]
      val lists = obs.get("lists_touched").asInstanceOf[Long]
      Caches.releaseAll(spark)
      (n, adcRows, lists)
    }
    val (n1, a1, l1) = run(emb, "1x")
    val (nN, aN, lN) = run(big, "Nx")
    (n1, a1, l1, nN, aN, lN)
  }

  /** Pinned quiet-window wall seconds for [[canarySec]] on the bench
    * host (local[32]; measured 0.69-0.86 s across four idle-window runs,
    * r9 — pinned at the midpoint; override via SPARK_GRAFT_CANARY_REF
    * after a host change). The canary query is fully synthetic and
    * constant, so this number only moves when the environment does.
    */
  private def canaryRefSec: Double =
    sys.env.getOrElse("SPARK_GRAFT_CANARY_REF", "0.78").toDouble

  /** Query-phase comparability canary (the r8 postmortem:
    * `dedup_components` doubled round-over-round at steal=3 — /proc/stat
    * steal is blind to co-tenant MEMORY-BANDWIDTH and cache contention,
    * so per-query steal columns alone cannot adjudicate a slow phase).
    * A constant, fully synthetic CPU+shuffle-bound query — xxhash64 over
    * 20 M rows into a 1 M-key two-level hash aggregate, no I/O, no
    * testdata dependence — runs at query-phase START and END; its
    * best-of-3 wall time against the pinned quiet-window reference
    * ([[canaryRefSec]]) rates the whole window: ratio ≈ 1 ⇒ trust the
    * phase's rows, ratio >> 1 ⇒ the host was contended in a way the
    * steal column may not show, and slow rows adjudicate as
    * environmental. One untimed warm rep (codegen compile, JIT, heap
    * sizing for the hash maps), then best-of-3 so the canary itself
    * rides out short bursts.
    */
  def canarySec(spark: SparkSession): Double = {
    def rep(): Double = {
      val t0 = System.nanoTime()
      spark.range(10000000L)
        .select(pmod(xxhash64(col("id")), lit(200000L)).as("k"),
          // bounded so the two-level ANSI sum can never overflow long
          pmod(xxhash64(col("id") + lit(1L)), lit(1000000007L)).as("h"))
        .groupBy("k").agg(sum("h").as("s"), count(lit(1)).as("c"))
        .agg(sum(col("s")).as("ss"), sum(col("c")).as("cc")).first()
      (System.nanoTime() - t0) / 1e9
    }
    rep()
    (1 to 3).map(_ => rep()).min
  }

  /** Cumulative CPU-steal ticks from /proc/stat (column 8 of the `cpu`
    * line; USER_HZ=100 ⇒ ticks/100 = seconds). The host is a co-tenant
    * VM: recording per-phase steal deltas into the bench JSON is what
    * makes round-over-round numbers adjudicable — a slow phase with high
    * steal is contention, not regression. 0 when unreadable.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L))
        .getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }

  private def jvmStats(tag: String): Unit = {
    val rt = Runtime.getRuntime
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    var gcMs = 0L; gc.forEach(b => gcMs += b.getCollectionTime)
    // code-cache fill is the silent killer: when the pool is full the JIT
    // stops compiling and later codegen'd plans run interpreted
    var ccUsed = 0L; var ccMax = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("CodeHeap") || p.getName.contains("Code Cache")) {
        ccUsed += p.getUsage.getUsed; ccMax += p.getUsage.getMax
      }
    }
    System.err.println(s"[bench] jvm[$tag] threads=${Thread.activeCount()} " +
      s"heapUsedMB=${(rt.totalMemory - rt.freeMemory) / 1048576} " +
      s"heapTotalMB=${rt.totalMemory / 1048576} gcTotalMs=$gcMs " +
      s"codeCacheMB=${ccUsed / 1048576}/${ccMax / 1048576}")
    if (sys.env.contains("SPARK_GRAFT_THREAD_DUMP")) {
      import scala.jdk.CollectionConverters._
      val byPrefix = Thread.getAllStackTraces.keySet.asScala.toSeq
        .groupBy(_.getName.replaceAll("[-0-9]+$", "")).view
        .mapValues(_.size).toSeq.sortBy(-_._2).take(8)
      System.err.println(s"[bench] jvm[$tag] top thread groups: " +
        byPrefix.map { case (n, c) => s"$n=$c" }.mkString(", "))
    }
  }

  private def newSession(cpus: String): SparkSession = {
    // engine-recommended confs (cached-read AQE re-planning) come from
    // the library itself — GraftSession, r20 — so a user-constructed
    // session can opt into exactly the bench's session shape
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    // one locale everywhere (see Verify.main / TestSpark)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = newSession(cpus)
    // Untimed warmup: trigger codegen/JIT for the shared kernels (scan,
    // shuffle, vector expressions, signature UDFs) so per-query numbers
    // reflect steady state instead of charging first-use compilation to
    // whichever query happens to run first alphabetically.
    try {
      import graft.ext.{Dedup, Similarity}
      val docs = Tables.documents(spark, sfDir).limit(64).cache()
      docs.count()
      Dedup.withMinhashSignature(docs, "text", "s").count()
      Dedup.withSimhash(docs, "text", "s").count()
      val emb = Tables.embeddings(spark, sfDir).limit(64)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .cache()
      emb.count()
      Similarity.bruteForceTopK(emb, emb.limit(2), 3).count()
      docs.unpersist(); emb.unpersist()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }
    // iteration aid: SPARK_GRAFT_ONLY=q1_agg,streaming_dedup runs a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // comparability canary brackets the query phase (see canarySec)
    val canaryStart = canarySec(spark)
    System.err.println(f"[bench] canary(start): $canaryStart%.2f s " +
      f"(ref ${canaryRefSec}%.2f s, ratio ${canaryStart / canaryRefSec}%.2f)")
    val stealQueries0 = stealTicks()
    // Best-of-2 per query: single-shot timings on this co-tenant host are
    // steal-contaminated (round-4 postmortem: UNCHANGED queries read 2-3x
    // slower round-over-round while a manual re-run reproduced the old
    // number) — the min of two independent runs estimates the uncontended
    // cost. Each rep re-invokes fn so per-query fixtures/index builds are
    // measured both times; rep cleanup is untimed harness hygiene.
    //
    // PER-QUERY steal adjudication (r6 postmortem: a 707-tick burst made
    // 8 source-unchanged queries read 1.5-12x slower and the phase-level
    // counter couldn't say WHICH rows to disbelieve): every rep records
    // its own steal delta; while the BEST-wall rep ran contaminated
    // (steal > 5% of the window's cpu-tick capacity), up to one extra
    // rep buys a clean window (repsWithRetry — the same best-rep-must-
    // be-clean condition as the throughput phases). The committed JSON
    // carries the best rep's steal per query plus a contaminated flag
    // for the all-dirty case, so a slow-but-clean row is a real
    // regression and a slow-dirty row is contention — self-adjudicating.
    val queryReps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "2").toInt
    val queryMaxReps = sys.env.getOrElse("SPARK_GRAFT_QUERY_MAX_REPS",
      (queryReps + 1).toString).toInt
    val results = selected.map { case (name, fn) =>
      // a crashed rep must never ship its (fast, bogus) wall unmarked:
      // the row is FLAGGED failed in the JSON and the whole run exits
      // nonzero (correctness is independently oracle-gated, but the
      // bench artifact must not look like a measurement when the query
      // never ran to completion)
      var failed = false
      val reps = repsWithRetry(name, queryReps, queryMaxReps) { rep =>
        val s0 = stealTicks()
        val t0 = System.nanoTime()
        val ok = try {
          // smoke seam for the fail-loud path itself: the named query
          // throws instead of running (local testing only)
          if (sys.env.get("SPARK_GRAFT_FAIL_QUERY").contains(name))
            sys.error("injected failure (SPARK_GRAFT_FAIL_QUERY)")
          fn(spark, sfDir).count()
          true
        } catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name FAILED (rep $rep): ${e.getMessage}")
          false
        }
        val d = (System.nanoTime() - t0) / 1e9
        val s = stealTicks() - s0
        // each query leaves the session as it found it: release staged
        // caches (untimed — cleanup is harness hygiene, not query cost)
        Caches.releaseAll(spark)
        // a crashed rep's wall is artificially fast (the query never ran
        // to completion) — report it as +inf so bestRep can only pick it
        // when EVERY rep failed, never beside a completed rep's number
        (if (ok) d else Double.MaxValue, s)
      }
      val (dtBest, bestSteal, dirty) = bestRep(reps)
      // all reps failed: there is no measurement at all — ship a sentinel
      // (the row is flagged failed and the run exits nonzero regardless)
      val dt = if (dtBest == Double.MaxValue) -1.0 else dtBest
      System.err.println(
        f"[bench] $name%-30s $dt%8.2f s (steal $bestSteal%d ticks, ${reps.size}%d reps" +
          (if (dirty) ", CONTAMINATED" else "") +
          (if (failed) ", FAILED)" else ")"))
      (name, dt, bestSteal, reps.size, dirty, failed)
    }
    val canaryEnd = canarySec(spark)
    System.err.println(f"[bench] canary(end): $canaryEnd%.2f s " +
      f"(ref ${canaryRefSec}%.2f s, ratio ${canaryEnd / canaryRefSec}%.2f)")
    val stealQueries = stealTicks() - stealQueries0
    // the query phase must leave nothing persisted — capture its leak
    // count before the session is torn down
    Caches.releaseAll(spark)
    val leakedQueryPhase = Caches.leakedRddCount(spark)
    // ETL/WP throughput and the stress run measure INGEST jobs: in any
    // real deployment an ingest owns its session, so each phase gets a
    // fresh one. Round-3 postmortem of the round-2 ETL regression: leaked
    // caches were the bulk (5.5k -> 26.6k lines/s once fixed), but 50+
    // queries' remaining session residue (state-store maintenance,
    // shuffle/broadcast debris, accumulated listener state) still cost
    // ~2.5x vs a fresh session (26.6k vs ~70k) — so the ingest benchmarks
    // measure the job, not the debris.
    jvmStats("post-queries")
    spark.stop()
    System.gc()
    val spark2 = newSession(cpus)
    jvmStats("pre-etl")
    val stealEtl0 = stealTicks()
    val etlLines = sys.env.getOrElse("SPARK_GRAFT_ETL_LINES", "1000000").toLong
    val (etlRate, etlSec, etlReps) =
      if (etlLines > 0)
        try wikiEtlThroughput(spark2, etlLines)
        catch { case e: Throwable =>
          System.err.println(s"[bench] wiki_etl FAILED: ${e.getMessage}")
          (0.0, 0.0, Seq.empty[(Double, Long)])
        }
      else (0.0, 0.0, Seq.empty[(Double, Long)])
    val stealEtl = stealTicks() - stealEtl0
    System.err.println(f"[bench] wiki_etl_throughput: $etlRate%.0f lines/s ($etlLines lines in $etlSec%.1f s)")
    jvmStats("post-etl")
    Caches.releaseAll(spark2)
    // 3× the ETL volume: the WP pass is ~5× faster per line, so a larger
    // dump keeps the timed window long enough that the rate reflects
    // steady-state throughput, not scheduler/First-job fixed costs.
    val wpLines = sys.env.getOrElse("SPARK_GRAFT_WP_LINES", "4500000").toLong
    val stealWp0 = stealTicks()
    val (wpRate, wpSec, wpReps) =
      if (wpLines > 0)
        try wikiWpThroughput(spark2, wpLines)
        catch { case e: Throwable =>
          System.err.println(s"[bench] wiki_wp FAILED: ${e.getMessage}")
          (0.0, 0.0, Seq.empty[(Double, Long)])
        }
      else (0.0, 0.0, Seq.empty[(Double, Long)])
    val stealWp = stealTicks() - stealWp0
    System.err.println(f"[bench] wiki_wp_throughput: $wpRate%.0f lines/s ($wpLines lines in $wpSec%.1f s)")
    Caches.releaseAll(spark2)
    val stealStress0 = stealTicks()
    val stressFactor = sys.env.getOrElse("SPARK_GRAFT_STRESS_FACTOR", "10").toInt
    val stressJson =
      if (stressFactor > 1)
        try {
          val (s1x, sNx) = dedupStress(spark2, sfDir, stressFactor)
          val candRatio =
            if (s1x.lshCand > 0) sNx.lshCand.toDouble / s1x.lshCand else 0.0
          val sizeRatio = sNx.docs.toDouble / s1x.docs
          System.err.println(
            f"[bench] dedup_stress: ${s1x.docs} docs -> ${s1x.lshCand} lsh-cands (${s1x.lshSec}%.1f s), " +
            f"${sNx.docs} docs -> ${sNx.lshCand} lsh-cands (${sNx.lshSec}%.1f s); " +
            f"cand ratio $candRatio%.1fx at $sizeRatio%.0fx size; " +
            s"ngram cands ${s1x.ngramCand} -> ${sNx.ngramCand}; " +
            s"fuzzy cands ${s1x.fuzzyCand} -> ${sNx.fuzzyCand}; " +
            s"simhash cands ${s1x.simCand} (${s1x.simVerified} verified) -> " +
            s"${sNx.simCand} (${sNx.simCandCross} cross-copy; " +
            s"${sNx.simVerified} verified, ${sNx.simVerifiedCross} cross-copy); " +
            s"simhash128 cands ${s1x.sim128Cand} (${s1x.sim128Verified} verified) -> " +
            s"${sNx.sim128Cand} (${sNx.sim128CandCross} cross-copy; " +
            s"${sNx.sim128Verified} verified, ${sNx.sim128VerifiedCross} cross-copy)")
          // separate guard: a semantic-stress failure must not discard the
          // LSH/ngram/fuzzy numbers already measured above
          val (sn1, sc1, snN, scN, se1, seN) =
            try {
              val r = semanticStress(spark2, sfDir, stressFactor)
              System.err.println(
                s"[bench] semantic_stress: ${r._1} vecs/${r._2} cands -> " +
                s"${r._3} vecs/${r._4} cands (K scaled with corpus); " +
                s"hyperplane cands ${r._5} -> ${r._6} (planes scaled)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] semantic_stress FAILED: ${e.getMessage}")
              (0L, 0L, 0L, 0L, 0L, 0L)
            }
          // each stress family fails independently — one family's failure
          // must not discard the numbers the others already measured
          val (in1, ir1, it1, ia1, inN, irN, itN, iaN) =
            try {
              val r = incrementalStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] incremental_stress: ${r._1} docs store -> ${r._2} rows read (${r._3}%.1f s probe, ${r._4}%.1f s append); " +
                f"${r._5} docs store -> ${r._6} rows read (${r._7}%.1f s probe, ${r._8}%.1f s append) [storeParts scaled]")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] incremental_stress FAILED: ${e.getMessage}")
              (0L, 0L, 0.0, 0.0, 0L, 0L, 0.0, 0.0)
            }
          val (sp1d, sp1c, sp1t, spNd, spNc, spNt) =
            try {
              val r = spansStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] spans_stress: ${r._1} docs -> ${r._2} dup windows (${r._3}%.1f s); " +
                f"${r._4} docs -> ${r._5} dup windows (${r._6}%.1f s)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] spans_stress FAILED: ${e.getMessage}")
              (0L, 0L, 0.0, 0L, 0L, 0.0)
            }
          val (pn1, pa1, pl1, pnN, paN, plN) =
            try {
              val r = ivfpqStress(spark2, sfDir, stressFactor)
              System.err.println(
                s"[bench] ivfpq_stress: ${r._1} vecs -> ${r._2} adc rows over ${r._3} lists; " +
                s"${r._4} vecs -> ${r._5} adc rows over ${r._6} lists (nprobe=4 fixed)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] ivfpq_stress FAILED: ${e.getMessage}")
              (0L, 0L, 0L, 0L, 0L, 0L)
            }
          val (vt1, vtN) =
            try {
              val r = versionedUpsertStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] vtable_stress: ${r._1.rows} rows -> upsert ${r._1.upsertSec}%.1f s / ${r._1.filesWritten} files; " +
                f"${r._2.rows} rows -> upsert ${r._2.upsertSec}%.1f s / ${r._2.filesWritten} files (same fixed patch)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] vtable_stress FAILED: ${e.getMessage}")
              (VtStressRow(0, 0.0, 0), VtStressRow(0, 0.0, 0))
            }
          val (mg1, mgN) =
            try {
              val r = mergeStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] merge_stress: ${r._1.rows} rows -> merge ${r._1.mergeSec}%.1f s / ${r._1.filesRewritten} files; " +
                f"${r._2.rows} rows -> merge ${r._2.mergeSec}%.1f s / ${r._2.filesRewritten} files (same fixed patch, files scaled)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] merge_stress FAILED: ${e.getMessage}")
              (MergeStressRow(0, 0.0, 0), MergeStressRow(0, 0.0, 0))
            }
          val (dv1, dvN) =
            try {
              val r = dvStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] dv_stress: ${r._1.rows} rows -> dv delete ${r._1.deleteSec}%.1f s / ${r._1.filesWritten} files, " +
                f"dv merge ${r._1.mergeSec}%.1f s / ${r._1.mergeFiles} files; " +
                f"${r._2.rows} rows -> dv delete ${r._2.deleteSec}%.1f s / ${r._2.filesWritten} files, " +
                f"dv merge ${r._2.mergeSec}%.1f s / ${r._2.mergeFiles} files (fixed point ops, zero base rewrites)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] dv_stress FAILED: ${e.getMessage}")
              (DvStressRow(0, 0.0, -1, 0.0, -1),
                DvStressRow(0, 0.0, -1, 0.0, -1))
            }
          val (mv1, mvN) =
            try {
              val r = mvStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] mv_stress: ${r._1.rows} rows -> refresh ${r._1.refreshSec}%.1f s " +
                f"(hll ${r._1.hllRefreshSec}%.1f s); " +
                f"${r._2.rows} rows -> refresh ${r._2.refreshSec}%.1f s " +
                f"(hll ${r._2.hllRefreshSec}%.1f s, same fixed change window)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] mv_stress FAILED: ${e.getMessage}")
              (MvStressRow(0, 0.0, 0.0), MvStressRow(0, 0.0, 0.0))
            }
          val (rw1, rwN) =
            try {
              val r = replaceWhereStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] replw_stress: ${r._1.rows} rows -> replace ${r._1.replaceSec}%.1f s / ${r._1.filesWritten} files; " +
                f"${r._2.rows} rows -> replace ${r._2.replaceSec}%.1f s / ${r._2.filesWritten} files (same fixed slice)")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] replw_stress FAILED: ${e.getMessage}")
              (ReplStressRow(0, 0.0, 0), ReplStressRow(0, 0.0, 0))
            }
          val (fts1, ftsN) =
            try {
              val r = ftsStoreStress(spark2, sfDir, stressFactor)
              System.err.println(
                f"[bench] fts_store_stress: ${r._1.docs} docs -> ${r._1.prunedRows} pruned rows " +
                f"(${r._1.probeSec}%.1f s probe, ${r._1.appendSec}%.1f s append); " +
                f"${r._2.docs} docs -> ${r._2.prunedRows} pruned rows " +
                f"(${r._2.probeSec}%.1f s probe, ${r._2.appendSec}%.1f s append) [numBuckets scaled]")
              r
            } catch { case e: Throwable =>
              System.err.println(s"[bench] fts_store_stress FAILED: ${e.getMessage}")
              (FtsStressRow(0, 0, 0.0, 0.0), FtsStressRow(0, 0, 0.0, 0.0))
            }
          s""""stress":{"factor":$stressFactor,"docs_1x":${s1x.docs},"lsh_cand_1x":${s1x.lshCand},""" +
            s""""lsh_sec_1x":${s1x.lshSec},"docs_Nx":${sNx.docs},"lsh_cand_Nx":${sNx.lshCand},"lsh_sec_Nx":${sNx.lshSec},""" +
            s""""ngram_cand_1x":${s1x.ngramCand},"ngram_cand_Nx":${sNx.ngramCand},""" +
            s""""fuzzy_cand_1x":${s1x.fuzzyCand},"fuzzy_cand_Nx":${sNx.fuzzyCand},""" +
            s""""simhash_cand_1x":${s1x.simCand},"simhash_cand_Nx":${sNx.simCand},""" +
            s""""simhash_cand_cross_Nx":${sNx.simCandCross},""" +
            s""""simhash_verified_1x":${s1x.simVerified},"simhash_verified_Nx":${sNx.simVerified},""" +
            s""""simhash_verified_cross_Nx":${sNx.simVerifiedCross},""" +
            s""""simhash128_cand_1x":${s1x.sim128Cand},"simhash128_cand_Nx":${sNx.sim128Cand},""" +
            s""""simhash128_cand_cross_Nx":${sNx.sim128CandCross},""" +
            s""""simhash128_verified_1x":${s1x.sim128Verified},"simhash128_verified_Nx":${sNx.sim128Verified},""" +
            s""""simhash128_verified_cross_Nx":${sNx.sim128VerifiedCross},""" +
            s""""sem_vecs_1x":$sn1,"sem_cand_1x":$sc1,""" +
            s""""sem_vecs_Nx":$snN,"sem_cand_Nx":$scN,""" +
            s""""hyperplane_cand_1x":$se1,"hyperplane_cand_Nx":$seN,""" +
            s""""incr_docs_1x":$in1,"incr_rows_read_1x":$ir1,"incr_probe_sec_1x":$it1,"incr_append_sec_1x":$ia1,""" +
            s""""incr_docs_Nx":$inN,"incr_rows_read_Nx":$irN,"incr_probe_sec_Nx":$itN,"incr_append_sec_Nx":$iaN,""" +
            s""""spans_docs_1x":$sp1d,"spans_cand_1x":$sp1c,"spans_sec_1x":$sp1t,""" +
            s""""spans_docs_Nx":$spNd,"spans_cand_Nx":$spNc,"spans_sec_Nx":$spNt,""" +
            s""""ivfpq_vecs_1x":$pn1,"ivfpq_adc_rows_1x":$pa1,"ivfpq_lists_1x":$pl1,""" +
            s""""ivfpq_vecs_Nx":$pnN,"ivfpq_adc_rows_Nx":$paN,"ivfpq_lists_Nx":$plN,""" +
            s""""fts_docs_1x":${fts1.docs},"fts_pruned_rows_1x":${fts1.prunedRows},""" +
            s""""fts_probe_sec_1x":${fts1.probeSec},"fts_append_sec_1x":${fts1.appendSec},""" +
            s""""fts_docs_Nx":${ftsN.docs},"fts_pruned_rows_Nx":${ftsN.prunedRows},""" +
            s""""fts_probe_sec_Nx":${ftsN.probeSec},"fts_append_sec_Nx":${ftsN.appendSec},""" +
            s""""vt_rows_1x":${vt1.rows},"vt_upsert_sec_1x":${vt1.upsertSec},"vt_files_1x":${vt1.filesWritten},""" +
            s""""vt_rows_Nx":${vtN.rows},"vt_upsert_sec_Nx":${vtN.upsertSec},"vt_files_Nx":${vtN.filesWritten},""" +
            s""""merge_rows_1x":${mg1.rows},"merge_sec_1x":${mg1.mergeSec},"merge_files_1x":${mg1.filesRewritten},""" +
            s""""merge_rows_Nx":${mgN.rows},"merge_sec_Nx":${mgN.mergeSec},"merge_files_Nx":${mgN.filesRewritten},""" +
            s""""replw_rows_1x":${rw1.rows},"replw_sec_1x":${rw1.replaceSec},"replw_files_1x":${rw1.filesWritten},""" +
            s""""replw_rows_Nx":${rwN.rows},"replw_sec_Nx":${rwN.replaceSec},"replw_files_Nx":${rwN.filesWritten},""" +
            s""""dv_rows_1x":${dv1.rows},"dv_delete_sec_1x":${dv1.deleteSec},"dv_files_1x":${dv1.filesWritten},""" +
            s""""dv_merge_sec_1x":${dv1.mergeSec},"dv_merge_files_1x":${dv1.mergeFiles},""" +
            s""""dv_rows_Nx":${dvN.rows},"dv_delete_sec_Nx":${dvN.deleteSec},"dv_files_Nx":${dvN.filesWritten},""" +
            s""""dv_merge_sec_Nx":${dvN.mergeSec},"dv_merge_files_Nx":${dvN.mergeFiles},""" +
            s""""mv_rows_1x":${mv1.rows},"mv_refresh_sec_1x":${mv1.refreshSec},""" +
            s""""mv_hll_refresh_sec_1x":${mv1.hllRefreshSec},""" +
            s""""mv_rows_Nx":${mvN.rows},"mv_refresh_sec_Nx":${mvN.refreshSec},""" +
            s""""mv_hll_refresh_sec_Nx":${mvN.hllRefreshSec}},"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] dedup_stress FAILED: ${e.getMessage}"); ""
        }
      else ""
    val stealStress = stealTicks() - stealStress0
    Caches.releaseAll(spark2)
    val leaked = leakedQueryPhase + Caches.leakedRddCount(spark2)
    System.err.println(s"[bench] leaked persisted RDDs after full suite: $leaked")
    val qs = (results.map { case (n, dt, _, _, _, _) => n -> dt }
        :+ ("wiki_etl_throughput" -> etlSec) :+ ("wiki_wp_throughput" -> wpSec))
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query adjudication row: the steal observed during the reported
    // rep (min-wall among CLEAN reps), how many reps it took, and the
    // all-reps-dirty flag — a slow row with steal≈0 and no flag is a
    // real regression, a slow-dirty or flagged row is contention, and
    // reps>queryReps marks a steal-aware retry fired
    val qsteal = results
      .map { case (n, _, s, r, dirty, failed) =>
        s"\"" + n + s"\":{\"steal\":$s,\"reps\":$r,\"contaminated\":$dirty," +
          s"\"failed\":$failed}" }
      .mkString("{", ",", "}")
    // all-failed rows carry the -1.0 sentinel, not a measurement — they
    // stay visible (flagged) in the queries map, but summing them would
    // corrupt the total by -1s plus the row's true cost; rows where only
    // SOME reps failed still contribute their real best-clean-rep time
    val total = results.map(_._2).filter(_ >= 0.0).sum
    // steal ticks (USER_HZ=100 ⇒ /100 = host-wide CPU-seconds stolen
    // during the phase): the adjudication signal for round-over-round
    // comparisons — high steal explains a slow phase as contention
    def repsJson(reps: Seq[(Double, Long)]): String =
      reps.map { case (sec, steal) => s"""{"sec":$sec,"steal":$steal}""" }
        .mkString("[", ",", "]")
    // canary block: the phase-window comparability yardstick (see
    // canarySec) — ratio is the WORSE of the two brackets vs the pinned
    // quiet-window reference, the factor to discount slow rows by before
    // calling them regressions
    val canaryJson =
      f""""canary":{"start_sec":$canaryStart%.3f,"end_sec":$canaryEnd%.3f,""" +
        f""""ref_sec":$canaryRefSec%.3f,""" +
        f""""ratio":${math.max(canaryStart, canaryEnd) / canaryRefSec}%.3f},"""
    val stealJson =
      s""""steal_ticks":{"queries":$stealQueries,"etl":$stealEtl,""" +
        s""""wp":$stealWp,"stress":$stealStress},"query_reps":$queryReps,""" +
        s""""query_steal":$qsteal,""" + canaryJson +
        s""""etl_reps":${repsJson(etlReps)},"wp_reps":${repsJson(wpReps)},""" +
        s""""etl_best_contaminated":${if (etlReps.nonEmpty) bestRep(etlReps)._3 else false},""" +
        s""""wp_best_contaminated":${if (wpReps.nonEmpty) bestRep(wpReps)._3 else false},"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""etl_lines":$etlLines,"etl_sec":$etlSec,"etl_lines_per_sec":${etlRate.round},""" +
        s""""wp_lines":$wpLines,"wp_sec":$wpSec,"wp_lines_per_sec":${wpRate.round},""" +
        stressJson + stealJson +
        s""""leaked_rdds":$leaked,"sf":"$sfDir"}"""
    // Emit on stdout (build.sbt passes forked output through unprefixed)
    // AND persist to a file so the result survives any log wrapping.
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_result.json"),
      (json + "\n").getBytes("UTF-8"))
    spark2.stop()
    // fail-loud: the artifact is written (flagged rows and all), but a
    // run with a crashed query must not exit as if it measured cleanly
    val failedQueries = results.collect { case (n, _, _, _, _, true) => n }
    if (failedQueries.nonEmpty) {
      System.err.println(
        s"[bench] FAILED queries: ${failedQueries.mkString(", ")} — exiting nonzero")
      sys.exit(2)
    }
  }
}
