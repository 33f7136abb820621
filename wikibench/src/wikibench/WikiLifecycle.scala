package wikibench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Wikid
import graft.wiki.{Kb, Queries}

/** wiki_lifecycle: the paper's batch path and the library reads on its
  * output. Set-up writes a Wikidata JSON-lines dump and a Wikipedia XML
  * dump as bz2 parts, and parses a second, small dump pair for the KB
  * build. Each round:
  *  - writes: `Wikid.parse` of the dumps into a fresh warehouse, and
  *    `Wikid.createKb` with its default embedder over the small warehouse;
  *  - reads: the five parsed tables; three times each, `Wikid.loadEntities`
  *    of 1–20 QIDs, `Wikid.aliasPriors` of one alias and
  *    `Wikid.resolveAliases` of misspelled mentions; the two KB tables.
  * Lookup keys are drawn Zipf-skewed; every output is checked against the
  * generator's model.
  *
  * The KB warehouse is small because the default embedder costs about 90
  * ms per entity against about 1 ms for the whole parse: over the same
  * warehouse the KB build would hide the parse layers at any size.
  */
final class WikiLifecycle(spark: SparkSession, seed: Long, work: String) extends Workload {
  import spark.implicits._

  private val nEntities = 1200
  private val nPages = 600
  private val kbEntities = 40
  private val missingQids = 10 // percent of requested QIDs that do not exist
  private val lookups = 3 // of each kind per round: the first pays first-call costs
  private var dumps: Gen.WikiDumps = _
  private var kbDb: Wikid.Db = _
  private var kbModel: Gen.WikiModel = _
  private var reference: Map[String, (Long, Seq[Float])] = _
  private var qids: Array[String] = _
  private var aliases: Array[String] = _
  private var rnd: SplittableRandom = _
  private var keyDraws = 0L
  private var topDraws = 0L
  private var round = 0

  private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], salt: Long): Array[T] = {
    val r = new SplittableRandom(seed + salt); val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def setup(dir: String): Unit = {
    dumps = Gen.wikiDumps(seed, nEntities, nPages, s"$dir/dumps", parts = 4)
    // every KB entity is described, so the embedder's work is the same for every seed
    val small = Gen.wikiDumps(seed + 1, kbEntities, kbEntities / 2, s"$dir/kb-dumps",
      parts = 1, describeAll = true)
    kbModel = small.model
    kbDb = Wikid.parse(spark, small.wikidata, small.wikipedia, s"$dir/kb-warehouse")
    // key popularity: a seeded permutation of each key set, drawn Zipf
    qids = shuffled(dumps.model.keptQids.toSeq.sorted, 1)
    aliases = shuffled(dumps.model.aliasEntities.keys.toSeq.sorted, 2)
    rnd = new SplittableRandom(seed * 31 + 7)
    reference = null
    round = 0; keyDraws = 0; topDraws = 0
  }

  private lazy val qidDraw = new Zipf(qids.length, 1.0)
  private lazy val aliasDraw = new Zipf(aliases.length, 1.0)

  private def draw[T](keys: Array[T], z: Zipf): T = {
    val i = z.sample(rnd)
    keyDraws += 1
    if (i < math.max(1, keys.length / 10)) topDraws += 1
    keys(i)
  }

  def tracedRounds: Int = 1

  private def entityMap(rows: Array[Row]): Map[String, (Long, Seq[Float])] =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Float](2))).toMap

  def step(h: Harness): Unit = {
    val warehouse = s"$work/ingest-$round"
    val kb = s"$work/kb-$round"
    round += 1
    val model = dumps.model
    h.call("wiki.parse")(Wikid.parse(spark, dumps.wikidata, dumps.wikipedia, warehouse))(_ => None)
      .foreach { db =>
        for ((table, expected) <- model.tables.toSeq.sorted)
          h.call("wiki.read_table", read = true)(
            spark.read.parquet(s"${db.warehouse}/${db.lang}/$table").count()) { n =>
            if (n == expected) None else Some(s"$table has $n rows, expected $expected")
          }
        for (_ <- 1 to lookups) {
          loadEntities(h, db, model)
          aliasPriors(h, db, model)
          resolveAliases(h, db, model)
        }
      }

    if (reference == null) reference = entityMap(Kb.kbEntities(
      Queries.loadEntities(kbDb.entities, kbDb.articles, kbDb.aliases)).collect())
    h.call("wiki.create_kb")(Wikid.createKb(kbDb, kb))(_ => None).foreach { _ =>
      h.call("wiki.read_kb", read = true)(
        entityMap(spark.read.parquet(s"$kb/kb_entities").collect())) { ents =>
        if (ents.size != kbModel.entities) Some(s"${ents.size} KB entities, expected ${kbModel.entities}")
        else if (ents != reference) Some("kb_entities differs from a direct Kb.kbEntities")
        else None
      }
      h.call("wiki.read_kb", read = true)(spark.read.parquet(s"$kb/kb_aliases").collect()) { rows =>
        val badPriors = rows.count(r => math.abs(r.getAs[Seq[Double]]("priors").sum - 1.0) > 1e-9)
        val pseudo = rows.count(_.getString(0).startsWith("_Q"))
        if (badPriors > 0) Some(s"$badPriors aliases with priors not summing to 1")
        else if (pseudo != kbModel.entities) Some(s"$pseudo pseudo-aliases, expected ${kbModel.entities}")
        else if (rows.length - pseudo != kbModel.aliasEntities.size)
          Some(s"${rows.length - pseudo} aliases, expected ${kbModel.aliasEntities.size}")
        else None
      }
    }
    Files.delete(warehouse)
    Files.delete(kb)
    graft.Caches.releaseAll(spark)
  }

  private def loadEntities(h: Harness, db: Wikid.Db, model: Gen.WikiModel): Unit = {
    val want = Seq.fill(1 + rnd.nextInt(20))(
      if (rnd.nextInt(100) < missingQids) s"Q${9000000 + rnd.nextInt(1000)}"
      else draw(qids, qidDraw)).distinct
    val known = model.keptQids.toSet
    h.call("wiki.load_entities", read = true)(Wikid.loadEntities(db, want).collect()) { rows =>
      val got = rows.map(_.getAs[String]("qid"))
      val expected = want.filter(known).toSet
      if (got.length == expected.size && got.toSet == expected) None
      else Some(s"returned ${got.sorted.mkString(",")} for ${want.mkString(",")}")
    }.foreach(rows => h.noteRows(rows.length))
  }

  private def aliasPriors(h: Harness, db: Wikid.Db, model: Gen.WikiModel): Unit = {
    val alias = draw(aliases, aliasDraw)
    h.call("wiki.alias_priors", read = true)(
      Wikid.aliasPriors(db).filter(col("alias") === alias).collect()) { rows =>
      if (rows.length != 1) Some(s"${rows.length} rows for alias '$alias'")
      else if (rows(0).getAs[Seq[String]]("entities").toSet != model.aliasEntities(alias))
        Some(s"entities of '$alias' differ from the model")
      else if (math.abs(rows(0).getAs[Seq[Double]]("priors").sum - 1) > 1e-9)
        Some(s"priors of '$alias' do not sum to 1")
      else None
    }.foreach(rows => h.noteRows(rows.length))
  }

  /** One substituted letter: edit distance 1 from the alias. */
  private def misspell(s: String): String = {
    var i = rnd.nextInt(s.length)
    while (!s.charAt(i).isLower) i = rnd.nextInt(s.length)
    val c = ('a' + (s.charAt(i) - 'a' + 1 + rnd.nextInt(25)) % 26).toChar
    s.substring(0, i) + c + s.substring(i + 1)
  }

  private def within1(a: String, b: String): Boolean =
    if (a == b) true
    else if (a.length == b.length) a.zip(b).count { case (x, y) => x != y } == 1
    else if (math.abs(a.length - b.length) != 1) false
    else {
      val (s, l) = if (a.length < b.length) (a, b) else (b, a)
      (0 to s.length).exists(i => l.substring(0, i) + l.substring(i + 1) == s)
    }

  private def resolveAliases(h: Harness, db: Wikid.Db, model: Gen.WikiModel): Unit = {
    val mentions = Seq.fill(1 + rnd.nextInt(3))(misspell(draw(aliases, aliasDraw))).distinct
    h.call("operators.resolve_aliases", read = true)(
      Wikid.resolveAliases(db, mentions.toDF("mention"), "mention").collect()) { rows =>
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val expected = for {
        m <- mentions.toSet[String]
        (a, es) <- model.aliasEntities if within1(m, a)
        e <- es
      } yield (m, a, e)
      if (got == expected && rows.length == got.size) None
      else Some(s"resolve ${mentions.mkString("|")}: ${got.size} matches, expected ${expected.size}")
    }.foreach(rows => h.noteRows(rows.length))
  }

  def inputProperties: Map[String, Double] = Map(
    "link_resolution" -> dumps.model.linkResolution,
    "key_skew" -> topDraws.toDouble / math.max(1L, keyDraws))
}
