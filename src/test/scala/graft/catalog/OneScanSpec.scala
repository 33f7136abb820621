package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

/** Every read of a versioned table's data files plans through
  * [[GraftScan]]'s one builder: `src/main` constructs one
  * `HadoopFsRelation`, and the only parquet read of a table's `data/`
  * root is the cold commit-dir schema inference that feeds the
  * dir-schema cache.
  */
class OneScanSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** The one definition allowed to read `data/` with `.parquet(`. */
  private val inference = "dirSchema"

  /** The sources that lay out versioned tables: any parquet read there
    * is a table data read. A deletion-vector sidecar read is an
    * offender wherever it sits: sidecars are decoded on the driver.
    */
  private val tableSources = Set("catalog/VersionedTable.scala",
    "catalog/GraftScan.scala")

  private def sources: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => root.relativize(f).toString.replace('\\', '/') ->
        java.nio.file.Files.readAllLines(f).asScala.toSeq)
  }

  test("src/main constructs one HadoopFsRelation") {
    val sites = for {
      (rel, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains("HadoopFsRelation(")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(sites.size == 1,
      "every relation over a table's files comes from GraftScan's one " +
        "constructor:\n" + sites.mkString("\n"))
  }

  test("no parquet read of a table's data root outside the schema inference") {
    val defLine = "\\bdef\\s+(\\w+)".r
    val offenders = for {
      (rel, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains(".parquet(")
      // the statement this call ends: the line and the few before it
      stmt = lines.slice(math.max(0, i - 3), i + 1).mkString(" ")
      isRead = !stmt.contains(".write") && !stmt.contains("readStream")
      dataRoot = line.contains("$path/data")
      tableRead = tableSources(rel) && isRead
      dvRead = stmt.contains("/_dv/")
      if isRead && (dataRoot || tableRead || dvRead)
      enclosing = lines.take(i + 1).reverse
        .flatMap(l => defLine.findFirstMatchIn(l).map(_.group(1)))
        .headOption
      if !enclosing.contains(inference)
    } yield s"$rel:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail("read a table's files through GraftScan, not spark.read:\n" +
        offenders.mkString("\n"))
  }
}
