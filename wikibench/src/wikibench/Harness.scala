package wikibench

import scala.collection.mutable

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** One timed call into the engine. */
final case class Call(op: String, read: Boolean, ms: Double, ok: Boolean,
                      span: Option[Span]) {
  /** Result rows, for the calls whose cost is judged per result row. */
  var rows: Long = 0L
}

/** Times calls from the benchmark's side and, in the traced run, wraps
  * each in a tracer span. The check runs after the clock stops; an
  * exception or a failed check marks the call failed.
  */
final class Harness(tracer: Option[Tracer], log: String => Unit) {
  val calls = mutable.ArrayBuffer.empty[Call]
  /** CPU time the whole JVM spent during the calls: tasks, planning, JIT, GC. */
  var cpuMs = 0.0
  def attempted: Int = calls.size
  def failed: Int = calls.count(!_.ok)

  def call[T](op: String, read: Boolean = false)(body: => T)
             (check: T => Option[String]): Option[T] = {
    val span = tracer.map(_.open(op))
    val c0 = Harness.processCpuNs()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    cpuMs += (Harness.processCpuNs() - c0) / 1e6
    tracer.zip(span).foreach { case (t, s) => t.close(s, ns) }
    val problem = result match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw $e") }
    }
    problem.foreach(p => log(s"FAILED $op: $p"))
    calls += Call(op, read, ns / 1e6, problem.isEmpty, span)
    result.toOption.filter(_ => problem.isEmpty)
  }

  def noteRows(n: Long): Unit = calls.last.rows = n

  def ms(pred: Call => Boolean): Seq[Double] = calls.filter(c => c.ok && pred(c)).map(_.ms).toSeq
}

object Harness {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Regular files under `path` whose names end with `suffix`, and their
    * total bytes; checksum files excluded.
    */
  def usage(path: String, suffix: String = ""): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      var n = 0L; var bytes = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        val name = f.getFileName.toString
        if (java.nio.file.Files.isRegularFile(f) && !name.endsWith(".crc") && name.endsWith(suffix)) {
          n += 1; bytes += java.nio.file.Files.size(f)
        }
      }
      (n, bytes)
    }
  }
}
