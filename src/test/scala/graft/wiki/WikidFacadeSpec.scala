package graft.wiki

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestSpark, Wikid}

/** The public facade drives the WHOLE pipeline end-to-end — dumps to KB
  * queries — without touching any job/query object directly, and its
  * results match the direct-job wiring (which WikidPipelineSpec pins to
  * the reference's golden tables).
  */
class WikidFacadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val fixDir = TestSpark.resource("/fixtures")

  lazy val warehouse = graft.Caches.newTempDir("graft_facade_wh").toString
  lazy val db = Wikid.parse(spark, s"$fixDir/wikidata.json.bz2",
    s"$fixDir/wikipedia.xml.bz2", warehouse)

  test("parse populates every table; connect resolves the same Db") {
    assert(db.entities.count() > 0)
    assert(db.aliases.count() > 0)
    assert(db.articles.count() > 0)
    assert(db.properties.count() > 0)
    assert(db.annotations.count() > 0)
    val again = Wikid.connect(spark, warehouse)
    assert(again.entities.collect().toSet == db.entities.collect().toSet)
    // unparsed language fails fast like the reference's missing-db assert
    val e = intercept[IllegalArgumentException] {
      Wikid.connect(spark, warehouse, lang = "xx")
    }
    assert(e.getMessage.contains("Wikid.parse"))
  }

  test("loadEntities via facade == direct job wiring; QID point lookup filters") {
    val direct = Queries.loadEntities(db.entities, db.articles, db.aliases)
      .collect().map(_.toSeq).toSet
    val viaFacade = Wikid.loadEntities(db).collect().map(_.toSeq).toSet
    assert(viaFacade == direct && viaFacade.nonEmpty)
    val one = Wikid.loadEntities(db, Seq("Q64"))
      .select("qid").collect().map(_.getString(0)).toSeq
    assert(one == Seq("Q64"), s"F15 point lookup: $one")
    val typed = Wikid.loadEntitiesTyped(db, Seq("Q64")).collect()
    assert(typed.length == 1 && typed.head.qid == "Q64")
  }

  test("parse(resume = true) over the same dumps skips everything (F6/F7)") {
    db.entities.count() // ensure the lazy first parse has populated the warehouse
    def snapshot() = Seq("entities", "properties", "aliases", "articles",
        "annotations", "alias_pages_seen")
      .map(t => t -> spark.read.parquet(s"$warehouse/en/$t")
        .collect().map(_.toSeq).toSet).toMap
    val before = snapshot()
    // capture the jobs' A7 persisted counters for the resume parse only
    val persisted = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.endsWith(".persisted") && row.length > 0 && !row.isNullAt(0))
            persisted.merge(name, row.getAs[Long]("n_persisted"),
              (a, b) => math.max(a, b))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val db2 = Wikid.parse(spark, s"$fixDir/wikidata.json.bz2",
        s"$fixDir/wikipedia.xml.bz2", warehouse, resume = true)
      val after = snapshot()
      for (t <- before.keys)
        assert(after(t) == before(t), s"table $t changed on full resume")
      assert(db2.entities.collect().toSet == db.entities.collect().toSet)
      // listener delivery is async (ExecutionListenerBus) — wait for the
      // articles counter, the one observed metric on an uncached plan
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!persisted.containsKey("graft.articles.persisted") &&
             System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(persisted.containsKey("graft.articles.persisted"),
        s"no persisted counter observed: $persisted")
      persisted.forEach((k, v) =>
        assert(v == 0L, s"$k = $v on a full resume (must skip everything)"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("aliasPriors via facade: probabilities sum to 1 per multi-entity alias") {
    val priors = Wikid.aliasPriors(db).collect()
    assert(priors.nonEmpty)
    for (r <- priors) {
      val ps = r.getSeq[Double](2)
      assert(math.abs(ps.sum - 1.0) < 1e-9, s"alias ${r.getString(0)}: $ps")
    }
  }

  test("createKb via facade == direct Kb wiring: tables, vectors, sinks") {
    val tmp = graft.Caches.newTempDir("graft_facade_kb").toString
    Wikid.createKb(db, tmp)
    val kbe = spark.read.parquet(s"$tmp/kb_entities")
    assert(kbe.count() == db.entities.count())
    for (r <- kbe.collect()) {
      val v = r.getSeq[Float](r.fieldIndex("vector"))
      assert(v.length == 64)
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"qid ${r.getString(0)}: norm $norm")
    }
    // kb_aliases carries one `_qid_` pseudo-alias per entity at prior 1.0
    val kba = spark.read.parquet(s"$tmp/kb_aliases")
    val pseudo = kba.filter(col("alias").startsWith("_") &&
      col("alias").endsWith("_"))
    assert(pseudo.count() == db.entities.count())
    assert(pseudo.collect().forall(_.getSeq[Double](2) == Seq(1.0)))
    // facade == direct wiring (same loaded frame, same embedder)
    val loaded = Queries.loadEntities(db.entities, db.articles, db.aliases)
    val direct = Kb.kbEntities(loaded).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](2)).toMap
    for (r <- kbe.collect())
      assert(r.getSeq[Float](2) == direct(r.getString(0)))
    // the (qid, description) CSV sink exists and covers every entity
    val desc = spark.read.csv(s"$tmp/descriptions")
    assert(desc.count() == db.entities.count())
  }

  test("extractDemoDump: filtered dumps re-parse to exactly the retained subset") {
    val tmp = graft.Caches.newTempDir("graft_facade_demo").toString
    // pick one entity's label as the filter term — the demo-dump flow
    val term = db.entities.orderBy("id").select("name").head().getString(0)
    Wikid.extractDemoDump(spark,
      s"$fixDir/wikidata.json.bz2", s"$tmp/wd",
      s"$fixDir/wikipedia.xml.bz2", s"$tmp/wp",
      filterTerms = Seq(term))
    val demoDb = Wikid.parse(spark, s"$tmp/wd", s"$tmp/wp", s"$tmp/wh")
    val ids = demoDb.entities.select("id").collect().map(_.getString(0)).toSet
    val allIds = db.entities.select("id").collect().map(_.getString(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf(allIds), s"demo subset: $ids")
    // the retained entity itself survives the round trip
    val kept = db.entities.filter(col("name") === term)
      .select("id").head().getString(0)
    assert(ids.contains(kept))
    // and the filtered Wikipedia dump holds only titles of retained entities
    val demoTitles = WikipediaSource.read(spark, s"$tmp/wp")
      .select("title").collect().map(_.getString(0)).toSet
    val retainedNames = spark.read.text(s"$tmp/wd")
      .collect().map(_.getString(0)).mkString("\n")
    assert(demoTitles.forall(retainedNames.contains),
      s"every kept page's title must appear in the filtered entity dump")
  }

  test("indexTexts: the FTS5 virtual tables become searchable stores") {
    val idxPath = graft.Caches.newTempDir("graft_facade_fts").toString
    Wikid.indexTexts(db, idxPath, numBuckets = 4)
    // a real entity's first name token must rank it back out
    val name = db.entities.filter(col("id") === "Q64")
      .select("name").head().getString(0)
    val token = name.toLowerCase.split("[^\\p{L}\\p{N}]+")
      .filter(_.nonEmpty).head
    val hits = Wikid.searchEntities(db, idxPath, Seq(token))
      .select("entity_id").collect().map(_.getString(0)).toSet
    assert(hits.contains("Q64"), s"'$token' should find Q64, got $hits")
    // facade search == tf-idf search over a fresh index of the same texts
    import graft.fts.Fts
    val fresh = Fts.searchAllFrom(
      Fts.buildIndex(db.entities, "id", Seq("name", "description", "label")),
      db.entities, Seq(token))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 9).as("score"))
      .collect().map(_.toSeq).toSet
    val stored = Wikid.searchEntities(db, idxPath, Seq(token))
      .select(col("entity_id"), col("n_terms"), round(col("score"), 9).as("score"))
      .collect().map(_.toSeq).toSet
    assert(stored == fresh && stored.nonEmpty)
    // the articles store answers over title + content
    val aHits = Wikid.searchArticles(db, idxPath, Seq(token))
      .select("entity_id").collect().map(_.getString(0)).toSet
    assert(aHits.contains("Q64"))

    // resume over an unchanged warehouse appends nothing...
    import graft.fts.FtsStore
    def entitySegs() = graft.SegmentLog.readManifest(
      graft.StoreLock.fs(spark, s"$idxPath/entities"), s"$idxPath/entities")._2
    val before = entitySegs()
    Wikid.indexTexts(db, idxPath, resume = true)
    assert(entitySegs() == before, "resume with no new rows must be a no-op")
    // ...and a newly parsed entity rides in as ONE new segment (F6/F7
    // applied to the index), immediately searchable
    import spark.implicits._
    Seq(("Q999999999", null: String, "Zzyzxtown", "a test settlement",
      null: String))
      .toDF("id", "claims", "name", "description", "label")
      .write.mode("append").parquet(s"$warehouse/en/entities")
    Wikid.indexTexts(db, idxPath, resume = true)
    assert(entitySegs().size == before.size + 1)
    val found = Wikid.searchEntities(db, idxPath, Seq("zzyzxtown"))
      .select("entity_id").collect().map(_.getString(0)).toSet
    assert(found == Set("Q999999999"))
  }

  test("resolveAliases: a one-typo mention still finds its entity") {
    import spark.implicits._
    // take a real alias from the warehouse and plant a deletion typo
    val some = db.aliases.orderBy(col("count").desc, col("alias"))
      .select("alias", "entity_id").head()
    val (alias, qid) = (some.getString(0), some.getString(1))
    val typo = alias.substring(1) // first char deleted
    val res = Wikid.resolveAliases(db, Seq(typo).toDF("mention"), "mention")
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getInt(4)))
    assert(res.exists { case (a, q, dist) =>
      a == alias && q == qid && dist <= 1 }, s"'$typo' should reach $alias/$qid: ${res.toSeq}")
    // and the exact mention resolves at distance 0
    val exact = Wikid.resolveAliases(db, Seq(alias).toDF("mention"), "mention")
      .filter(col("dist") === 0).select("entity_id")
      .collect().map(_.getString(0)).toSet
    assert(exact.contains(qid))
  }
}
