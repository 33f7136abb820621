package graft.wiki

import org.apache.spark.sql.types._

/** Fixed schemas for the two dump shapes and the engine's Parquet catalog.
  *
  * The Wikidata record shape is implicitly defined by the reference's field
  * accesses (/root/reference/scripts/wiki/wikidata.py:111-202); the Wikipedia
  * page shape by its tag regexes (/root/reference/scripts/wiki/wikipedia.py:
  * 30-37,340-422). Frozen here as explicit StructTypes — never inferSchema at
  * 100 TB (SURVEY.md §1.3).
  */
object Schemas {

  /** One claim statement: only the fields the engine consumes. */
  val claim: StructType = StructType(Seq(
    StructField("mainsnak", StructType(Seq(
      StructField("datavalue", StructType(Seq(
        StructField("value", StructType(Seq(
          StructField("id", StringType)))))))))),
    StructField("rank", StringType)))

  /** Wikidata entity-dump line (JSON object per line). */
  val wikidata: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("id", StringType),
    StructField("claims", MapType(StringType, ArrayType(claim))),
    StructField("sitelinks", MapType(StringType, StructType(Seq(
      StructField("title", StringType))))),
    StructField("labels", MapType(StringType, StructType(Seq(
      StructField("language", StringType), StructField("value", StringType))))),
    StructField("descriptions", MapType(StringType, StructType(Seq(
      StructField("language", StringType), StructField("value", StringType))))),
    StructField("aliases", MapType(StringType, ArrayType(StructType(Seq(
      StructField("language", StringType), StructField("value", StringType))))))))

  /** Wikipedia page as read by the Spark XML source (rowTag = "page").
    * `id` is the page id, NOT the revision/contributor id — the XML source
    * scopes nested tags correctly, unlike line-oriented regex scanning
    * (ref wikipedia.py:340-422 hand-tracks revision scope for this).
    */
  val page: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("ns", LongType),
    StructField("id", LongType),
    StructField("revision", StructType(Seq(
      StructField("id", LongType),
      StructField("text", StringType))))))

  // ---- engine Parquet catalog (SURVEY.md §1.2: 6 SQLite tables -> 4) ----

  val entities: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("claims", StringType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("label", StringType)))

  val articles: StructType = StructType(Seq(
    StructField("entity_id", StringType, nullable = false),
    StructField("article_id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("content", StringType)))

  val aliases: StructType = StructType(Seq(
    StructField("alias", StringType, nullable = false),
    StructField("entity_id", StringType, nullable = false),
    StructField("count", LongType, nullable = false)))

  val annotations: StructType = StructType(Seq(
    StructField("entity_id", StringType, nullable = false),
    StructField("article_id", StringType, nullable = false),
    StructField("mention", StringType),
    StructField("target_entity_id", StringType, nullable = false),
    StructField("start_pos", IntegerType),
    StructField("end_pos", IntegerType)))

  /** The resume bookkeeping table: ids of the pages whose links the
    * alias counts already hold (`AliasesJob.countedPageIds`).
    */
  val aliasPagesSeen: StructType = StructType(Seq(
    StructField("article_id", StringType, nullable = false)))

  val properties: StructType = StructType(Seq(
    StructField("property_id", StringType, nullable = false),
    StructField("from_entity_id", StringType, nullable = false),
    StructField("to_entity_id", StringType, nullable = false)))

  val kbEntities: StructType = StructType(Seq(
    StructField("qid", StringType, nullable = false),
    StructField("freq", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType))))

  val kbAliases: StructType = StructType(Seq(
    StructField("alias", StringType, nullable = false),
    StructField("entities", ArrayType(StringType)),
    StructField("priors", ArrayType(DoubleType))))
}

/** Typed record mirroring the reference's pydantic Entity
  * (/root/reference/scripts/wiki/schemas.py:10-19). `aliases` is a Seq —
  * Spark has no SetType; dedup is enforced by the producing query.
  */
case class Entity(
    qid: String,
    name: String,
    aliases: Seq[String],
    count: Long = 0L,
    description: Option[String] = None,
    articleTitle: Option[String] = None,
    articleText: Option[String] = None)

/** Mention offset record (ref schemas.py:22-28, produced by the link
  * stripper wikipedia.py:641).
  */
case class Annotation(
    entityName: String,
    entityId: Option[String],
    startPos: Int,
    endPos: Int)
