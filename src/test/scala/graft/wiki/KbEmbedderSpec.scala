package graft.wiki

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3Hash, StringSplit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Kb.HashingEmbedder` tokenizes each row once and hashes each token once,
  * and its vectors are bit-identical to the per-dimension formula it
  * replaced, which is kept here, verbatim, as the oracle.
  */
class KbEmbedderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The per-dimension formula: for each of the `dim` slots, sum the signs
    * of the tokens hashed into it. Interpreted higher-order functions
    * re-evaluate `idx`/`sgn` (and so the tokenizer) inside every slot.
    */
  private def perDimensionEmbed(dim: Int)(text: Column): Column = {
    val tokens = filter(split(lower(coalesce(text, lit(""))), "\\W+"), t => length(t) > 0)
    // accumulate counts per hashed dim: build vector via sequence + aggregate
    val idx = transform(tokens, t => pmod(hash(t), lit(dim)))
    val sgn = transform(tokens, t => when(pmod(hash(t, lit(7)), lit(2)) === 0, 1.0f).otherwise(-1.0f))
    val raw = transform(sequence(lit(0), lit(dim - 1)), { d =>
      aggregate(
        zip_with(idx, sgn, (i, s) => when(i === d, s).otherwise(0.0f)),
        lit(0.0f), (acc, x) => acc + x)
    })
    val norm = sqrt(aggregate(raw, lit(0.0f), (acc, x) => acc + x * x).cast("double"))
    transform(raw, x => (x / when(norm > 0, norm).otherwise(lit(1.0))).cast("float"))
  }

  private val dims = Seq(1, 7, 64, 256)

  private lazy val fixtureEntities: DataFrame = {
    val fixDir = TestSpark.resource("/fixtures")
    val ents = EntitiesJob.run(WikidataSource.read(spark, s"$fixDir/wikidata.json.bz2"))
    val pages = WikipediaSource.read(spark, s"$fixDir/wikipedia.xml.bz2")
    val titleMap = Queries.titleMap(ents.entities)
    val aliases = AliasesJob.run(ents.aliases, pages, titleMap)
    val articles = ArticlesJob.run(pages, titleMap)
    Queries.loadEntities(ents.entities, articles.articles, aliases)
      .select(col("qid").as("id"), col("description"), col("article_text"), col("name"))
  }

  // 500 chars, so the description fallback cuts it to its first 200
  private val longArticle = (0 until 100).map(i => s"word$i").mkString(" ").take(500)

  private lazy val edgeRows: DataFrame = Seq[(String, String, String, String)](
    ("null-desc-long-article", null, longArticle, "Name"),
    ("all-null", null, null, null),
    ("empty-to-name", "", "", "Berlin Stadt"),
    ("empty-everywhere", "", "", ""),
    ("punctuation-only", "...!?, ;-- ()[]{} '\"", null, "x"),
    ("non-ascii", "İstanbul straße ΣΑΣ ǅ", null, "x"),
    ("whitespace-underscore-digits", "foo_bar\tbaz\nqux\r\n42 x1_y2 __ 007\t_", null, "x")
  ).toDF("id", "description", "article_text", "name")

  private def vectors(df: DataFrame, embed: Column => Column): Map[String, Array[Float]] =
    df.select(col("id"),
        embed(Kb.descriptionFallback(col("description"), col("article_text"), col("name"))))
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap

  private def assertBitIdentical(df: DataFrame): Unit =
    for (dim <- dims) {
      val got = vectors(df, new Kb.HashingEmbedder(dim).embed)
      val want = vectors(df, perDimensionEmbed(dim))
      assert(got.keySet == want.keySet && got.nonEmpty)
      for ((id, w) <- want) {
        val g = got(id)
        assert(g.length == dim, s"dim $dim, row $id: length ${g.length}")
        val at = g.indices.indexWhere(i =>
          java.lang.Float.floatToRawIntBits(g(i)) != java.lang.Float.floatToRawIntBits(w(i)))
        if (at >= 0) fail(s"dim $dim, row $id: element $at is ${g(at)}, want ${w(at)}")
      }
    }

  test("fixture entities: vectors bit-identical to the per-dimension formula") {
    assertBitIdentical(fixtureEntities)
  }

  test("edge rows: vectors bit-identical to the per-dimension formula") {
    assert(longArticle.length == 500)
    assertBitIdentical(edgeRows)
    // the edge rows reach the paths they are named for
    val v = vectors(edgeRows, new Kb.HashingEmbedder(64).embed)
    for (id <- Seq("all-null", "empty-everywhere", "punctuation-only"))
      assert(v(id).forall(x => java.lang.Float.floatToRawIntBits(x) == 0), id)
    for (id <- Seq("null-desc-long-article", "empty-to-name", "non-ascii",
        "whitespace-underscore-digits")) {
      val n = math.sqrt(v(id).map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-4, s"$id: norm $n")
    }
  }

  test("plan shape: one tokenization and two hashes per row, whatever the dim") {
    // the analyzed plan: the optimizer folds a literal relation's expressions away
    for (dim <- dims) {
      val nodes = Seq("a b").toDF("t")
        .select(new Kb.HashingEmbedder(dim).embed(col("t"))).queryExecution.analyzed
        .flatMap(_.expressions.flatMap(_.collect { case e: Expression => e }))
      assert(nodes.count(_.isInstanceOf[StringSplit]) == 1, s"dim $dim: StringSplit")
      assert(nodes.count(_.isInstanceOf[Murmur3Hash]) == 2, s"dim $dim: Murmur3Hash")
    }
  }

  test("non-positive dim is rejected") {
    for (dim <- Seq(0, -1)) {
      intercept[IllegalArgumentException](new Kb.HashingEmbedder(dim))
      intercept[IllegalArgumentException](new Kb.BatchEmbedder.Hashing(dim))
    }
  }

  test("BatchEmbedder.Hashing lowercases independently of the default locale") {
    val model = new Kb.BatchEmbedder.Hashing(64)
    val texts = Seq("ISTANBUL IRIS INDIGO IMAGE IDEA", "Istanbul Iris Indigo Image Idea")
    val expected = model.embedBatch(texts.map(_.toLowerCase(java.util.Locale.ROOT)))
    val saved = java.util.Locale.getDefault
    val got =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
        model.embedBatch(texts)
      } finally java.util.Locale.setDefault(saved)
    for ((g, e) <- got.zip(expected))
      assert(g.map(java.lang.Float.floatToRawIntBits).toSeq ==
        e.map(java.lang.Float.floatToRawIntBits).toSeq)
  }
}
