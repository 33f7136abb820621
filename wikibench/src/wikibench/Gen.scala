package wikibench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Inverse-CDF Zipf sampler over ranks `0 until n` with exponent `s`. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Seeded input generators. Everything the engine sees comes from here,
  * and every generator is a pure function of its seed, so one seed gives
  * byte-identical inputs. Each generator also keeps the model the output
  * checks compare against.
  */
object Gen {

  private val onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "kl")
  private val nuclei = Array("a", "e", "i", "o", "u", "ai", "ou")

  /** `size` distinct lower-case pseudo-words; rank 0 is the most frequent
    * under a [[Zipf]] draw.
    */
  def vocabulary(seed: Long, size: Int): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 2 + r.nextInt(2)
      seen += (0 until syl).map(_ =>
        onsets(r.nextInt(onsets.length)) + nuclei(r.nextInt(nuclei.length))).mkString
    }
    seen.toArray
  }

  def capitalize(w: String): String = w.substring(0, 1).toUpperCase + w.substring(1)

  /** Writes `lines` as one bz2 text file (the splittable codec the dump
    * sources read).
    */
  def writeBz2(path: java.nio.file.Path, lines: Iterator[String]): Unit = {
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new BufferedWriter(new OutputStreamWriter(
      codec.createOutputStream(java.nio.file.Files.newOutputStream(path)), UTF_8))
    try lines.foreach { l => out.write(l); out.write('\n') }
    finally out.close()
  }

  // ------------------------------------------------------------------
  // Wiki dumps
  // ------------------------------------------------------------------

  /** The row counts `Wikid.parse` must produce, derived from the
    * generator's rules, plus the measured input properties.
    */
  final case class WikiModel(
      entities: Long, properties: Long, aliases: Long, articles: Long,
      annotations: Long, linkResolution: Double,
      keptQids: Array[String], aliasEntities: Map[String, Set[String]]) {
    def tables: Map[String, Long] = Map("entities" -> entities,
      "properties" -> properties, "aliases" -> aliases,
      "articles" -> articles, "annotations" -> annotations)
  }

  final case class WikiDumps(wikidata: String, wikipedia: String, model: WikiModel)

  private final case class Entity(i: Int, qid: String, name: String,
                                  isProperty: Boolean, excluded: Boolean,
                                  deprecated: Boolean, sitelink: Boolean,
                                  description: Option[String],
                                  aliases: Seq[String]) {
    def kept: Boolean = !isProperty && (!excluded || deprecated) && sitelink
  }

  private def json(s: String): String = "\"" + s + "\"" // generated text is [a-zA-Z0-9 ]

  private def entityLine(e: Entity): String = {
    def claim(target: String, rank: String) =
      s"""[{"mainsnak":{"datavalue":{"value":{"id":${json(target)}}}},"rank":${json(rank)}}]"""
    val p31 = if (e.excluded) "Q4167836" else s"Q${1000000 + e.i % 50}"
    val rank = if (e.deprecated) "deprecated" else "normal"
    val sitelinks = if (e.sitelink) s"""{"enwiki":{"title":${json(e.name)}}}""" else "{}"
    val desc = e.description.map(d =>
      s"""{"en":{"language":"en","value":${json(d)}}}""").getOrElse("{}")
    val aliases = e.aliases.map(a =>
      s"""{"language":"en","value":${json(a)}}""").mkString("[", ",", "]")
    s"""{"type":${json(if (e.isProperty) "property" else "item")},"id":${json(e.qid)},""" +
      s""""claims":{"P31":${claim(p31, rank)},"P279":${claim(s"Q${1000100 + e.i % 40}", "normal")}},""" +
      s""""sitelinks":$sitelinks,"labels":{"en":{"language":"en","value":${json(e.name)}}},""" +
      s""""descriptions":$desc,"aliases":{"en":$aliases}},"""
  }

  /** Generates a Wikidata JSON-lines dump of `nEntities` and a Wikipedia
    * XML dump of `nPages`, each as `parts` bz2 files under `dir`.
    *
    * Rules (the model below applies the same ones):
    *  - entity i is a property when i % 20 == 19 (dropped by the item
    *    filter); i % 31 == 30 carries an excluded P31 claim, kept only
    *    when i % 13 == 0 marks it deprecated; i % 5 == 4 has no enwiki
    *    sitelink (dropped); i % 7 == 3 has no description unless
    *    `describeAll` (the KB text then falls back to the article, whose
    *    length depends on the seed);
    *  - every entity declares two aliases drawn Zipf from a shared pool,
    *    so aliases are ambiguous and the priors are not all 1;
    *  - page titles are entity names (a seeded permutation, so each
    *    entity has at most one page), plus unmatched, meta, redirect and
    *    disambiguation pages; link targets are entity names drawn Zipf
    *    by popularity, with anchors from the target's own aliases, the
    *    pool, or the bare name, and a few unresolvable targets;
    *  - sizes do not depend on the seed: descriptions are six words, page
    *    kinds come in fixed shares, articles are four sentences of eight
    *    words and two links, so every seed gives the engine the same
    *    amount of work.
    */
  def wikiDumps(seed: Long, nEntities: Int, nPages: Int, dir: String,
                parts: Int, describeAll: Boolean = false): WikiDumps = {
    val r = new SplittableRandom(seed)
    val vocab = vocabulary(seed, 4000)
    val words = new Zipf(vocab.length, 1.1)
    def phrase(n: Int) = (0 until n).map(_ => vocab(words.sample(r))).mkString(" ")
    val aliasPool = Array.tabulate(nEntities / 3 + 10)(k =>
      vocab(k % vocab.length) + " " + vocab((k * 7 + 3) % vocab.length) + k)
    val aliasDraw = new Zipf(aliasPool.length, 0.9)

    val ents = Array.tabulate(nEntities) { i =>
      val name = capitalize(vocab(r.nextInt(vocab.length))) + " " +
        capitalize(vocab(r.nextInt(vocab.length))) + " " + i
      val excluded = i % 31 == 30
      Entity(i, s"Q${i + 1}", name,
        isProperty = i % 20 == 19, excluded = excluded,
        deprecated = excluded && i % 13 == 0, sitelink = i % 5 != 4,
        description = if (i % 7 == 3 && !describeAll) None else Some(phrase(6)),
        aliases = Seq(aliasPool(aliasDraw.sample(r)), aliasPool(aliasDraw.sample(r))))
    }
    val kept = ents.filter(_.kept)
    val keptNames = kept.map(_.name).toSet
    val qidOfName = kept.map(e => e.name -> e.qid).toMap

    // pages: subject entities in a seeded permutation (titles unique)
    val perm = {
      val a = Array.range(0, nEntities)
      for (k <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t
      }
      a
    }
    val popularity = new Zipf(nEntities, 1.0)
    val aliasPairs = mutable.HashSet.empty[(String, String)]
    kept.foreach(e => e.aliases.foreach(a => aliasPairs += (a -> e.qid)))
    var links = 0L; var resolved = 0L; var articles = 0L; var annotations = 0L

    val pages = (0 until nPages).map { j =>
      val articleId = (j + 1).toString
      val counted = !articleId.endsWith("3") // the dev split skips link counts
      val kind = (j * 37) % 100 // the same share of each page kind for every seed
      val subject = ents(perm(j % nEntities))
      def link(): String = {
        links += 1
        val t = if (r.nextInt(100) < 4) None else Some(ents(popularity.sample(r)))
        val target = t.map(_.name).getOrElse(s"Nowhere ${r.nextInt(1000)}")
        val anchor = r.nextInt(10) match {
          case k if k < 4 => None
          case k if k < 8 => Some(t.map(_.aliases(k % 2)).getOrElse(phrase(1)))
          case _ => Some(aliasPool(aliasDraw.sample(r)))
        }
        val ok = keptNames(target)
        if (ok) resolved += 1
        if (ok && counted) aliasPairs += (anchor.getOrElse(target) -> qidOfName(target))
        anchor.fold(s"[[$target]]")(a => s"[[$target|$a]]")
      }
      val (title, text) =
        if (kind < 6) {
          val target = ents(popularity.sample(r)).name
          links += 1
          if (keptNames(target)) {
            resolved += 1
            if (counted) aliasPairs += (target -> qidOfName(target))
          }
          (s"Redirect $j", s"#REDIRECT [[$target]]")
        } else if (kind < 10) {
          (s"Category:Topic $j", s"Topic ${phrase(5)}. ${link()} and ${link()}.")
        } else if (kind < 14) {
          (s"Disambig $j", s"{{disambiguation}} ${phrase(3)} ${link()}.")
        } else {
          // an article: four sentences of Zipf words with two links each;
          // it is persisted only when its title is a kept entity's name
          val before = resolved
          val sentences = (0 until 4).map { _ =>
            val ws = (0 until 8).map(_ => vocab(words.sample(r)))
            val ls = (0 until 2).map(_ => link())
            capitalize((ws.take(3) ++ ls ++ ws.drop(3)).mkString(" ")) + "."
          }
          val title = if (kind < 24) s"Nowhere page $j" else subject.name
          if (kind >= 24 && keptNames(subject.name)) {
            articles += 1; annotations += resolved - before
          }
          (title, sentences.mkString(" "))
        }
      Seq("  <page>", s"    <title>$title</title>", "    <ns>0</ns>",
        s"    <id>$articleId</id>", "    <revision>",
        s"      <id>${j + 7}</id>", s"      <text>$text</text>",
        "    </revision>", "  </page>")
    }

    val base = java.nio.file.Paths.get(dir)
    val perPart = (nEntities + parts - 1) / parts
    for (p <- 0 until parts) {
      val slice = ents.slice(p * perPart, (p + 1) * perPart)
      writeBz2(base.resolve(f"wikidata/part-$p%03d.json.bz2"),
        (if (p == 0) Iterator("[") else Iterator.empty) ++ slice.iterator.map(entityLine) ++
          (if (p == parts - 1) Iterator("]") else Iterator.empty))
    }
    val pagesPerPart = (nPages + parts - 1) / parts
    for (p <- 0 until parts) {
      val slice = pages.slice(p * pagesPerPart, (p + 1) * pagesPerPart)
      writeBz2(base.resolve(f"wikipedia/part-$p%03d.xml.bz2"),
        Iterator("<mediawiki>") ++ slice.iterator.flatten ++ Iterator("</mediawiki>"))
    }
    val model = WikiModel(
      entities = kept.length, properties = 2L * kept.length,
      aliases = aliasPairs.size, articles = articles, annotations = annotations,
      linkResolution = resolved.toDouble / math.max(1L, links),
      keptQids = kept.map(_.qid),
      aliasEntities = aliasPairs.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).toSet })
    WikiDumps(s"$dir/wikidata", s"$dir/wikipedia", model)
  }

  // ------------------------------------------------------------------
  // Documents (corpus_churn)
  // ------------------------------------------------------------------

  /** Document text source: words drawn Zipf from a fixed vocabulary, and
    * near-duplicates made by appending one word to an earlier document
    * (true 3-shingle Jaccard ≈ 0.98, far above the 0.8 dedup threshold;
    * unrelated documents share almost no shingles).
    */
  final class Docs(seed: Long) {
    private val vocab = vocabulary(seed + 17, 3000)
    private val words = new Zipf(vocab.length, 1.05)
    def text(r: SplittableRandom): String =
      (0 until 50).map(_ => vocab(words.sample(r))).mkString(" ")
    def nearDuplicate(of: String, r: SplittableRandom): String =
      of + " " + vocab(words.sample(r))
  }

  /** 3-word shingle Jaccard, the similarity the dedup store estimates. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val x = sh(a); val y = sh(b)
    if (x.isEmpty && y.isEmpty) 1.0 else (x intersect y).size.toDouble / (x union y).size
  }
}
