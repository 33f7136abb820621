package graft.wiki

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.{TestSpark, Wikid}

/** The declared warehouse schemas (`Schemas`) that `Wikid.Db` and
  * `Wikid.parse` read with, in place of a schema-inference job per
  * table read, are exactly what Spark infers from the tables `parse`
  * writes — column names, order and types — both for a fresh parse
  * and after a `resume = true` parse appended to it.
  */
class WarehouseSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val fixDir = TestSpark.resource("/fixtures")

  private val declared = Seq(
    "entities" -> Schemas.entities,
    "properties" -> Schemas.properties,
    "aliases" -> Schemas.aliases,
    "articles" -> Schemas.articles,
    "annotations" -> Schemas.annotations,
    "alias_pages_seen" -> Schemas.aliasPagesSeen)

  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def assertDeclared(warehouse: String): Unit =
    declared.foreach { case (table, schema) =>
      val dir = s"$warehouse/en/$table"
      val parts = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSeq
      assert(parts.nonEmpty, s"$table has no files")
      // the default inference reads one footer; every file must agree
      (spark.read.parquet(dir).schema +:
        spark.read.option("mergeSchema", "true").parquet(dir).schema +:
        parts.map(p => spark.read.parquet(s"$dir/$p").schema))
        .foreach { inferred =>
          assert(shape(inferred) == shape(schema),
            s"$table: declared ${shape(schema)}, inferred ${shape(inferred)}")
        }
    }

  test("declared warehouse schemas equal the inferred ones, fresh and resumed") {
    val warehouse = graft.Caches.newTempDir("graft_schema_wh").toString
    def parse(resume: Boolean) = Wikid.parse(spark,
      s"$fixDir/wikidata.json.bz2", s"$fixDir/wikipedia.xml.bz2",
      warehouse, resume = resume)
    val db = parse(resume = false)
    assertDeclared(warehouse)
    val before = db.entities.count()
    parse(resume = true)
    assertDeclared(warehouse)
    assert(db.entities.count() == before)
  }
}
