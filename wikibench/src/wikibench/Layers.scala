package wikibench

/** The per-layer metrics of the traced run, named
  * `<layer>.<call>.<counter>`. Each is the median over the run's calls of
  * that name, so a layer a workload never calls reads 0.
  */
object Layers {
  private val bulkOps = Seq("wiki.parse", "wiki.create_kb")
  private val bulkCounters = Seq("ms", "plan_ms", "jobs", "tasks", "cpu_ms",
    "cpu_util", "shuffle_bytes", "input_bytes", "output_bytes")
  private val lookupOps = Seq("wiki.load_entities", "wiki.alias_priors",
    "operators.resolve_aliases")
  private val lookupCounters = Seq("p50_ms", "plan_ms", "jobs", "tasks",
    "rows_read_per_result")
  private val churnWrites = Seq("ext.dedup_probe", "catalog.merge", "catalog.merge_large",
    "catalog.delete_dv", "ext.sig_append", "fts.append", "catalog.mv_refresh")
  private val churnReads = Seq("catalog.read_point", "catalog.read_as_of",
    "catalog.changes", "fts.search", "catalog.mv_read")
  private val churnCounters = Seq("p50_ms", "plan_ms", "jobs", "tasks")
  val commitOps = Seq("catalog.merge", "catalog.merge_large", "catalog.delete_dv")

  /** Per-layer names the workloads add themselves. */
  private val workloadNames: Seq[String] =
    commitOps.map(_ + ".files_written") ++
      Seq("catalog.table_files", "fts.store_files", "ext.sig_store_files",
        "catalog.storage_amp",
        "gen.link_resolution", "gen.near_dup_share", "gen.key_skew")

  val names: Seq[String] =
    (for (o <- bulkOps; c <- bulkCounters) yield s"$o.$c") ++
      (for (o <- lookupOps; c <- lookupCounters) yield s"$o.$c") ++
      (for (o <- churnWrites ++ churnReads; c <- churnCounters) yield s"$o.$c") ++
      churnWrites.map(_ + ".output_bytes") ++
      Seq("catalog.read_point.files_read") ++
      workloadNames ++
      Seq("jvm.gc_ms", "jvm.peak_rss_mb", "host.steal_ticks", "trace.mistagged_jobs")

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") || n == "ms" => "ms"
    case n if n.endsWith("_bytes") => "bytes"
    case "cpu_util" | "storage_amp" | "rows_read_per_result" | "link_resolution" |
         "near_dup_share" | "key_skew" => "ratio"
    case "steal_ticks" => "ticks"
    case "peak_rss_mb" => "MiB"
    case _ => "count"
  }

  def metrics(t: Tracer, h: Harness, cores: Int): Map[String, Double] = {
    val rowsOf = h.calls.flatMap(c => c.span.map(_.id -> c.rows)).toMap
    def med(op: String)(f: Span => Double): Double =
      Stats.median(t.calls(op).map(f)) match { case d if d.isNaN => 0.0; case d => d }
    def counter(s: Span, c: String): Double = c match {
      case "ms" | "p50_ms" => s.durationMs
      case "cpu_util" => s.counters.cpuNs / 1e6 / math.max(1e-9, s.durationMs * cores)
      case "rows_read_per_result" =>
        s.counters.inputRecords.toDouble / math.max(1L, rowsOf.getOrElse(s.id, 0L))
      case other => s.counters.fields.toMap.getOrElse(other, Double.NaN)
    }
    val ops = bulkOps.map(_ -> bulkCounters) ++ lookupOps.map(_ -> lookupCounters) ++
      (churnWrites ++ churnReads).map(_ -> churnCounters)
    val base = for ((op, cs) <- ops; c <- cs) yield s"$op.$c" -> med(op)(counter(_, c))
    base.toMap ++
      churnWrites.map(o => s"$o.output_bytes" -> med(o)(counter(_, "output_bytes"))) ++
      Map("catalog.read_point.files_read" -> med("catalog.read_point")(counter(_, "files_read")))
  }
}
