package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine takes its settings from `spark.graft.*` session confs
  * only: no library source reads an environment variable or a JVM
  * system property. The harness mains listed below choose their run
  * settings (data dir, core count, master) from the environment; they
  * are entry points, not library code.
  */
class NoHiddenSettingsSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  private val harnessMains = Set("Bench.scala", "Verify.scala", "Plans.scala",
    "wiki/WikidDemo.scala", "tools/Jobs.scala")

  private val knobRead =
    "sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty".r

  test("library sources read no environment variable or system property") {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20)
    val offenders = for {
      f <- sources
      rel = root.relativize(f).toString.replace('\\', '/')
      if !harnessMains(rel)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if knobRead.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    if (offenders.nonEmpty)
      fail("hidden settings read outside the harness mains (make them a " +
        "spark.graft.* conf or a constant):\n" + offenders.mkString("\n"))
  }
}
