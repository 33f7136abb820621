package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BoundReference, Cast, Ceil, Divide, EqualNullSafe, EqualTo, Expression, Floor, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Multiply, Predicate, StartsWith, Substring, Subtract, TruncDate, TruncTimestamp, Year}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Transparent data skipping for versioned tables: a manifest-backed
  * Spark [[FileIndex]] planted under every `HadoopFsRelation` a read of
  * a versioned table plans ([[GraftScan]]'s one builder), so ANY
  * Catalyst-pushed predicate — `df.filter`, a SQL WHERE over a view, a
  * join's pushed-down bound — reaches the commit stats sidecars at
  * PLANNING time, without the caller ever naming the explicit
  * [[VersionedTable.readWhere]]/[[VersionedTable.readEquals]] APIs.
  * This is the lakehouse-native shape (Delta's log-backed FileIndex is
  * the published design): the table format owns listing + file-level
  * pruning, Spark's parquet reader owns everything below.
  *
  * Two pruning levels run inside `listFiles`:
  *
  *  1. hive-partition pruning on the pushed `partitionFilters`
  *     (evaluated against path-parsed partition values, each cast by
  *     Spark's own string cast to the partition field's inferred type
  *     — no filesystem listing of pruned partitions ever happens);
  *  2. stats skipping on the pushed `dataFilters`: each conjunct that
  *     fits the skippable algebra (=, <, <=, >, >=, IN, IS NULL,
  *     IS NOT NULL, prefix) is judged against the sidecar-harvested
  *     [min, max]/null-count stats, and a file is listed only if every
  *     judgment admits it. Unsupported shapes keep the file —
  *     skipping is layout, never correctness.
  *
  * At 100 TB: the index is O(files) driver metadata (one `listStatus`
  * per commit dir, not one RPC per file), built once per snapshot and
  * immutable (a version's file list never changes, so `refresh` is a
  * no-op); pruning itself is O(sidecar lines) with one sidecar parse
  * per contributing commit whatever the predicate count.
  */
class GraftFileIndex(
    spark: SparkSession,
    val tablePath: String,
    private val files: Seq[String],
    override val partitionSchema: StructType,
    nameMap: Map[String, String] = Map.empty,
    bucketPrune: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec]
      = None,
    // the snapshot VERSION this index was planned against (−1 when the
    // caller chose the files itself: a verb's explicit entry set, which
    // its caller already pruned, so no stats judgment runs) — the
    // identity seam plan-level rewrites key on (e.g.
    // [[graft.plans.MvRewrite]]'s freshness gate: a view may substitute
    // for a scan only when it reflects EXACTLY this version, head
    // movement notwithstanding)
    val snapshotVersion: Int = -1) extends FileIndex {

  @volatile private var listed: Int = -1

  /** Files returned by the most recent `listFiles` — the in-query
    * observability seam pruning asserts (specs, oracle rows) read.
    */
  def lastListedCount: Int = listed

  def totalFiles: Int = files.size

  private val fsys = VersionedTable.fs(spark, tablePath)

  // one listing per distinct parent dir — O(dirs) namenode calls,
  // amortized across the PROCESS by the write-once dir-listing cache
  // (every read of a snapshot builds a fresh index; without the cache
  // each query re-listed every contributing dir)
  private lazy val statusOf: Map[String, FileStatus] = {
    val byDir = files.groupBy(f => f.take(f.lastIndexOf('/')))
    byDir.toSeq.flatMap { case (dir, names) =>
      val want = names.toSet
      GraftScan.listDirCached(fsys, s"$tablePath/data/$dir")
        .map(st => s"$dir/${st.getPath.getName}" -> st)
        .filter { case (rel, _) => want.contains(rel) }
    }.toMap
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(s"$tablePath/data"))

  // the qualified form a filesystem listing reports
  override def inputFiles: Array[String] = {
    val root = fsys.makeQualified(new HPath(s"$tablePath/data")).toString
    files.map(f => s"$root/$f").toArray
  }

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statusOf.values.map(_.getLen).sum

  private def rawPartValues(f: String): Seq[String] =
    partitionSchema.fields.toSeq.map { fld =>
      f.split("/").collectFirst {
        case seg if seg.startsWith(fld.name + "=") =>
          seg.drop(fld.name.length + 1)
      }.getOrElse(sys.error(s"file $f lacks partition segment ${fld.name}"))
    }

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  /** Path-escaped hive partition value → catalyst value of the
    * partition column's inferred type, by Spark's own string cast
    * (under the session zone, as partition inference typed it).
    */
  private def toCatalyst(raw: String, dt: DataType): Any =
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)), dt,
      Some(zone)).eval()

  private type St = (String, Option[(String, String)], Long, Long)

  /** Translate one pushed conjunct into (physical column, per-file
    * stats judgment); None keeps every file (shape outside the
    * skippable algebra). Strict bounds judge as closed ones —
    * conservative, never wrong.
    */
  private def skipJudgment(e: Expression)
      : Option[(String, Option[St] => Boolean)] = {
    def lit(v: Any, dt: DataType): Option[Any] = dt match {
      case StringType => Some(v.toString)
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | FloatType | DoubleType =>
        Some(v)
      case _: DecimalType =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
      case _ => None
    }
    def range(a: String, lo: Option[Any], hi: Option[Any])
        : Option[(String, Option[St] => Boolean)] =
      Some(a -> (st => VersionedTable.statsAdmit(st,
        lo.orNull, hi.orNull)))
    e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), Some(x)))
      case EqualTo(Literal(v, dt), a: AttributeReference) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), Some(x)))
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), Some(x)))
      case LessThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, None, Some(x)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, None, Some(x)))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), None))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), None))
      // reversed operand order flips the comparison
      case LessThan(Literal(v, dt), a: AttributeReference) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), None))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, Some(x), None))
      case GreaterThan(Literal(v, dt), a: AttributeReference) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, None, Some(x)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) if v != null =>
        lit(v, dt).flatMap(x => range(a.name, None, Some(x)))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val points = vs.collect { case Literal(v, dt) if v != null =>
          lit(v, dt) }
        if (points.exists(_.isEmpty)) None
        else Some(a.name -> (st => points.flatten.exists(x =>
          VersionedTable.statsAdmit(st, x, x))))
      case InSet(a: AttributeReference, vs) =>
        val points = vs.toSeq.filter(_ != null).map(v =>
          lit(if (v.isInstanceOf[UTF8String]) v.toString else v, a.dataType))
        if (points.exists(_.isEmpty) || points.isEmpty) None
        else Some(a.name -> (st => points.flatten.exists(x =>
          VersionedTable.statsAdmit(st, x, x))))
      case IsNull(a: AttributeReference) =>
        // a file with PROVEN zero nulls cannot satisfy IS NULL
        Some(a.name -> {
          case Some((_, _, nulls, _)) => nulls != 0
          case None => true
        })
      case IsNotNull(a: AttributeReference) =>
        // a file whose stats prove the column ALL NULL cannot satisfy
        Some(a.name -> {
          case Some((_, None, nulls, rows)) =>
            !(nulls >= 0 && rows >= 0 && nulls == rows)
          case _ => true
        })
      case StartsWith(a: AttributeReference, Literal(p, StringType))
          if p != null =>
        // judged by PREFIX-TRUNCATED comparison, not a synthetic upper
        // bound: stats strings compare by UTF-8 bytes, and any bound of
        // the form prefix+SENTINEL wrongly prunes files whose min
        // starts with the prefix followed by a char above the sentinel
        // (U+FFFF itself, or supplementary-plane chars whose UTF-8 lead
        // bytes F0-F4 sort above EF BF BF). A value v starts with the
        // prefix iff bytes(prefix) is a byte-prefix of bytes(v); such a
        // v satisfies v >= prefix and trunc(v, |prefix|) == prefix, and
        // byte-truncation is monotone, so the file can hold one only if
        // max >= prefix AND trunc(min) <= prefix.
        val pb = p.toString.getBytes("UTF-8")
        Some(a.name -> {
          case None => true
          case Some((_, None, nulls, rows)) =>
            !(nulls >= 0 && rows >= 0 && nulls == rows)
          case Some(("string", Some((mn, mx)), _, _)) =>
            val mnT = mn.getBytes("UTF-8").take(pb.length)
            !GraftScan.bytesLt(mx.getBytes("UTF-8"), pb) &&
              !GraftScan.bytesLt(pb, mnT)
          case _ => true
        })
      case _ => None
    }
  }

  // ── generated-partition derivation ─────────────────────────────────
  // A filter on the SOURCE column of a generated partition column
  // (`day GENERATED ALWAYS AS (cast(ts as date))`, query `WHERE ts >=
  // X`) derives a partition judgment the user never wrote — the Delta
  // OptimizeGeneratedColumn shape. Point predicates (=, IN) derive for
  // ANY deterministic single-source expression (E(v) is exactly the
  // matching rows' partition value — the auto-installed `col <=>
  // (expr)` CHECK pins every stored row to it); range bounds derive
  // only when the expression is MONOTONE BY SHAPE (below), with strict
  // bounds judged as closed ones. Degrade is always "keep the
  // partition": an unresolvable expression (renamed source, multi-
  // column expr, type drift vs the path-inferred partition type)
  // simply derives nothing. Timezone caveat: temporal expressions
  // evaluate under the READING session's zone, exactly as the ingest
  // fill computed them under the writing session's — one pinned zone
  // across writers and readers (the engine's own mains pin UTC) is
  // the deployment contract, as in the published lakehouse shape.
  private lazy val genExprs: Map[String, String] =
    scala.util.Try(VersionedTable.generatedColumns(spark, tablePath))
      .getOrElse(Map.empty)
      .filter { case (c, _) => partitionSchema.fieldNames.contains(c) }

  // resolution cache: (partition col, source name, source type) →
  // (bound evaluator over one source value, monotone-by-shape)
  private val genResolved = scala.collection.mutable.HashMap
    .empty[(String, String, DataType), Option[(Expression, Boolean)]]

  /** Monotone-by-shape, soundly: attribute; casts between ordered
    * temporal types and LOSSLESS numeric widenings (narrowing wraps);
    * `date_trunc`/`trunc`/`year`; `floor`/`ceil`; division by a
    * positive literal (fractional — Spark promotes, no wrap); +/- of a
    * literal and × a positive literal only in DOUBLE/FLOAT (integral
    * arithmetic can wrap); string prefix. Everything else — including
    * `month`, `day`, hash buckets — is point-derivable only.
    */
  private def monotoneShape(e: Expression): Boolean = {
    def integral(t: DataType) = t == ByteType || t == ShortType ||
      t == IntegerType || t == LongType
    def width(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 4
      case LongType => 8; case _ => 0
    }
    def temporal(t: DataType) = t == DateType || t == TimestampType ||
      t == TimestampNTZType
    def fractional(t: DataType) = t == FloatType || t == DoubleType
    def posLit(l: Expression): Boolean = l match {
      case Literal(v: Number, _) => v.doubleValue > 0
      case Literal(d: Decimal, _) => d.toDouble > 0
      case _ => false
    }
    e match {
      case _: AttributeReference | _: BoundReference => true
      case c: Cast =>
        val (f, t) = (c.child.dataType, c.dataType)
        monotoneShape(c.child) && (
          (temporal(f) && temporal(t)) ||
          (integral(f) && integral(t) && width(t) >= width(f)) ||
          (integral(f) && fractional(t)) ||
          (f == FloatType && t == DoubleType))
      case TruncTimestamp(_: Literal, ts, _) => monotoneShape(ts)
      case TruncDate(d, _: Literal) => monotoneShape(d)
      case Year(c) => monotoneShape(c)
      case Floor(c) => monotoneShape(c)
      case Ceil(c) => monotoneShape(c)
      case Divide(c, l: Literal, _) if posLit(l) => monotoneShape(c)
      case Multiply(c, l: Literal, _)
          if posLit(l) && fractional(e.dataType) => monotoneShape(c)
      case Add(c, _: Literal, _)
          if fractional(e.dataType) => monotoneShape(c)
      case Add(_: Literal, c, _)
          if fractional(e.dataType) => monotoneShape(c)
      case Subtract(c, _: Literal, _)
          if fractional(e.dataType) => monotoneShape(c)
      case Substring(c, Literal(1, IntegerType), _: Literal) =>
        monotoneShape(c)
      case _ => false
    }
  }

  /** The declared expression of generated partition column `partCol`,
    * resolved against a one-column relation typed by the FILTER's
    * attribute. None when it references anything but that column,
    * is nondeterministic, or its type differs from the path-inferred
    * partition type (all of which make derivation unsound).
    */
  private def genFor(partCol: String, attr: AttributeReference)
      : Option[(Expression, Boolean)] = synchronized {
    genResolved.getOrElseUpdate((partCol, attr.name, attr.dataType),
      scala.util.Try {
        import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
        import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project => LProject}
        val parsed = org.apache.spark.sql.graft.SqlBridge
          .sessionParser(spark).parseExpression(genExprs(partCol))
        val ref = AttributeReference(attr.name, attr.dataType)()
        val rel = LocalRelation(Seq(ref))
        val pdt = partitionSchema(partitionSchema.fieldIndex(partCol))
          .dataType
        spark.sessionState.analyzer.execute(
          LProject(Seq(Alias(parsed, "g")()), rel)) match {
          case LProject(Seq(al: Alias), _)
              if al.resolved && al.child.deterministic &&
                al.child.dataType == pdt =>
            Some((BindReferences.bindReference(al.child, rel.output),
              monotoneShape(al.child)))
          case _ => None
        }
      }.toOption.flatten)
  }

  /** Partition judgments derived from the pushed data filters:
    * (partition field index, judgment over the path-parsed catalyst
    * value). Empty whenever nothing derives.
    */
  private def genJudgments(dataFilters: Seq[Expression])
      : Seq[(Int, Any => Boolean)] = {
    if (genExprs.isEmpty || dataFilters.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Any => Boolean)]
    genExprs.keys.foreach { partCol =>
      val pi = partitionSchema.fieldIndex(partCol)
      lazy val ord = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(partitionSchema.fields(pi).dataType)
      def derive(attr: AttributeReference, lo: Option[Any],
                 hi: Option[Any], points: Option[Seq[Any]]): Unit =
        genFor(partCol, attr).foreach { case (ev, mono) =>
          def e(v: Any): Option[Any] =
            Option(ev.eval(InternalRow(v)))
          points match {
            case Some(vs) =>
              val es = vs.map(e)
              // a null image means the matching rows live in the null
              // partition — not modeled, derive nothing
              if (es.forall(_.isDefined)) {
                val set = es.flatten.toSet
                out += pi -> ((p: Any) => set.contains(p))
              }
            case None if mono =>
              val loE = lo.flatMap(e); val hiE = hi.flatMap(e)
              if (loE.isDefined || hiE.isDefined)
                out += pi -> ((p: Any) =>
                  loE.forall(l => ord.compare(p, l) >= 0) &&
                    hiE.forall(h => ord.compare(p, h) <= 0))
            case _ => ()
          }
        }
      dataFilters.foreach {
        case EqualTo(a: AttributeReference, Literal(v, _)) if v != null =>
          derive(a, None, None, Some(Seq(v)))
        case EqualTo(Literal(v, _), a: AttributeReference) if v != null =>
          derive(a, None, None, Some(Seq(v)))
        case EqualNullSafe(a: AttributeReference, Literal(v, _))
            if v != null => derive(a, None, None, Some(Seq(v)))
        case In(a: AttributeReference, vs)
            if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
          val points = vs.collect { case Literal(v, _) if v != null => v }
          if (points.length == vs.length)
            derive(a, None, None, Some(points))
        case InSet(a: AttributeReference, vs)
            if vs.nonEmpty && !vs.contains(null) =>
          derive(a, None, None, Some(vs.toSeq))
        // strict bounds judge as closed ones — conservative, never wrong
        case GreaterThan(a: AttributeReference, Literal(v, _))
            if v != null => derive(a, Some(v), None, None)
        case GreaterThanOrEqual(a: AttributeReference, Literal(v, _))
            if v != null => derive(a, Some(v), None, None)
        case LessThan(a: AttributeReference, Literal(v, _))
            if v != null => derive(a, None, Some(v), None)
        case LessThanOrEqual(a: AttributeReference, Literal(v, _))
            if v != null => derive(a, None, Some(v), None)
        case GreaterThan(Literal(v, _), a: AttributeReference)
            if v != null => derive(a, None, Some(v), None)
        case GreaterThanOrEqual(Literal(v, _), a: AttributeReference)
            if v != null => derive(a, None, Some(v), None)
        case LessThan(Literal(v, _), a: AttributeReference)
            if v != null => derive(a, Some(v), None, None)
        case LessThanOrEqual(Literal(v, _), a: AttributeReference)
            if v != null => derive(a, Some(v), None, None)
        case _ => ()
      }
    }
    out.toSeq
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    // 1. group by partition tuple and prune on the pushed partition
    // predicates — evaluated against path-parsed values, no listing
    val groups = files.groupBy(rawPartValues).toSeq
    val partKept0 =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) groups
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        groups.filter { case (vals, _) =>
          val row = InternalRow.fromSeq(
            vals.zip(partitionSchema.fields).map { case (r, f) =>
              toCatalyst(r, f.dataType) })
          java.lang.Boolean.TRUE == bound.eval(row)
        }
      }
    // 1b. DERIVED partition pruning: pushed bounds on a generated
    // partition column's source column judge the partition value
    // itself (the user filtered on `ts`, the layout key is `day =
    // E(ts)` — see genJudgments). The null partition is always kept:
    // E(null)'s image is not modeled.
    val gj = genJudgments(dataFilters)
    val partKept =
      if (gj.isEmpty) partKept0
      else partKept0.filter { case (vals, _) =>
        gj.forall { case (i, judge) =>
          vals(i) == ExternalCatalogUtils.DEFAULT_PARTITION_NAME ||
            judge(toCatalyst(vals(i), partitionSchema.fields(i).dataType))
        }
      }
    // 2. stats skipping on the pushed data predicates: one sidecar
    // parse per contributing commit judges every conjunct. When the
    // relation surfaces LOGICAL names (the `graft` format on a renamed
    // table), `nameMap` translates each judged attribute to the
    // PHYSICAL name the sidecars record; identity otherwise.
    val judgments = (if (snapshotVersion < 0) Nil else dataFilters)
      .flatMap(skipJudgment)
      .map { case (c, j) => nameMap.getOrElse(c, c) -> j }
    val pruned =
      if (judgments.isEmpty) partKept
      else {
        val survivors = partKept.flatMap(_._2)
        val stats = VersionedTable.fileStatsAll(fsys, tablePath,
          survivors, judgments.map(_._1).toSet)
        partKept.map { case (vals, fsOfPart) =>
          vals -> fsOfPart.filter { f =>
            val byCol = stats.getOrElse(f, Map.empty)
            judgments.forall { case (c, judge) => judge(byCol.get(c)) }
          }
        }.filter(_._2.nonEmpty)
      }
    // 3. composite bucket-key pruning: Spark's own bucket pruning
    // (SelectedBucketsCount) covers single-column specs only, so for a
    // claimed MULTI-column layout a conjunction binding EVERY bucket
    // column to literal point(s) prunes here instead — matching rows
    // can only live in the buckets their tuples hash to. A predicate
    // binding a strict subset of the columns never prunes (the hash
    // needs the whole tuple — pruning on it would be wrong, not just
    // weak). Degrade is always "keep the file".
    val bucketKept = bucketPrune match {
      case Some(spec) if spec.bucketColumnNames.size > 1 =>
        GraftScan.compositeBucketIds(spec, dataFilters) match {
          case Some(ids) =>
            pruned.map { case (vals, fsOfPart) =>
              vals -> fsOfPart.filter { f =>
                val nm = f.drop(f.lastIndexOf('/') + 1)
                org.apache.spark.sql.graft.SqlBridge.bucketIdOf(nm)
                  .forall(ids.contains)
              }
            }.filter(_._2.nonEmpty)
          case None => pruned
        }
      case _ => pruned
    }
    listed = bucketKept.map(_._2.size).sum
    bucketKept.map { case (vals, fsOfPart) =>
      val row = InternalRow.fromSeq(
        vals.zip(partitionSchema.fields).map { case (r, f) =>
          toCatalyst(r, f.dataType) })
      PartitionDirectory(row, fsOfPart.map(statusOf).toArray)
    }
  }
}

/** THE read of a versioned table's data files. Every reader — a
  * snapshot ([[read]], time travel, SQL and the `graft` format through
  * [[servedFrame]]), the deletion-vector write path's tagged scan
  * ([[readTagged]]), and the explicit entry sets of the mutating verbs,
  * the maintenance rewrites, the stats-pruned reads and the change
  * readers ([[VersionedTable]]'s `readEntries`) — plans through one
  * builder ([[plan]]) over one
  * relation constructor, so pruning, deletion vectors, schema evolution
  * and column mapping behave the same on every path.
  */
object GraftScan {

  /** The bucket ids a pushed conjunction confines a composite bucket
    * layout to: Some(ids) when EVERY bucket column is bound to
    * non-null literal point(s) by `=`, `<=>`, IN or an InSet, None
    * otherwise (no prune). The hash is Spark's own
    * `HashPartitioning(cols, n).partitionIdExpression` — byte-identical
    * to what the arranged write shuffled by; literal types equal the
    * attribute's read type by analysis (a coerced comparison arrives
    * as a Cast and simply fails to match), and the bucket claim itself
    * already pinned read types == written types. Point fan-out is
    * capped at 64 tuples — past that the prune declines rather than
    * enumerate.
    */
  private[catalog] def compositeBucketIds(
      spec: org.apache.spark.sql.catalyst.catalog.BucketSpec,
      dataFilters: Seq[Expression]): Option[Set[Int]] = {
    def pointsOf(c: String, e: Expression): Option[Seq[Literal]] = e match {
      case EqualTo(a: AttributeReference, l: Literal)
          if a.name == c && l.value != null => Some(Seq(l))
      case EqualTo(l: Literal, a: AttributeReference)
          if a.name == c && l.value != null => Some(Seq(l))
      case EqualNullSafe(a: AttributeReference, l: Literal)
          if a.name == c && l.value != null => Some(Seq(l))
      case EqualNullSafe(l: Literal, a: AttributeReference)
          if a.name == c && l.value != null => Some(Seq(l))
      case In(a: AttributeReference, vs)
          if a.name == c && vs.nonEmpty && vs.forall {
            case Literal(v, _) => v != null
            case _ => false
          } => Some(vs.map(_.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, vs)
          if a.name == c && vs.nonEmpty && !vs.contains(null) =>
        Some(vs.toSeq.map(v => Literal.create(v, a.dataType)))
      case _ => None
    }
    // one binding per column suffices: rows must satisfy EVERY
    // conjunct, so any single binding yields a superset of the
    // admissible ids — never a wrong prune
    val perCol = spec.bucketColumnNames.map(c =>
      dataFilters.iterator.map(pointsOf(c, _)).collectFirst {
        case Some(ps) => ps
      })
    if (perCol.exists(_.isEmpty)) None
    else {
      val lists = perCol.map(_.get)
      // saturating product: a plain Long product of huge IN-lists can
      // overflow and wrap back under the cap, which would enumerate an
      // astronomical cartesian on the driver instead of declining
      val combos = lists.foldLeft(1L)((a, vs) =>
        math.min(a * math.min(vs.size, 65).toLong, 65L))
      if (combos > 64) None
      else Some(lists
        .foldLeft(Seq(Seq.empty[Literal]))((acc, vs) =>
          acc.flatMap(t => vs.map(t :+ _)))
        .map(t => org.apache.spark.sql.graft.SqlBridge
          .bucketIdOfLiterals(t, spec.numBuckets))
        .toSet)
    }
  }

  /** Process-wide per-DIRECTORY file-status cache for commit-dir
    * listings. A commit dir is WRITE-ONCE (every commit lands under a
    * fresh nonce-named dir, nothing ever adds files to an existing
    * one), so its listing is immutable; vacuum only ever deletes files
    * no retained manifest references, and the index consults the cache
    * only for manifest-referenced names — a stale deleted entry can
    * never be served to a legal read. Bounded LRU.
    */
  private val dirStatusCache =
    new java.util.LinkedHashMap[String, Array[FileStatus]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[FileStatus]]): Boolean =
        size() > 4096
    }

  private[catalog] def listDirCached(
      fsys: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[FileStatus] = {
    // URI-qualified key: two filesystems resolving the same path string
    // (hdfs + local in one JVM) must never cross-serve listings
    val key = s"${fsys.getUri}$dir"
    dirStatusCache.synchronized(Option(dirStatusCache.get(key)))
      .getOrElse(listDirFresh(fsys, dir)).toSeq
  }

  /** Re-list `dir` from the filesystem and REPLACE its cache entry —
    * the miss path of [[listDirCached]], and the double-check a caller
    * must use before concluding from a cached listing that a file is
    * MISSING (the cache can predate an out-of-band sweep; a positive
    * hit is always safe because commit dirs are write-once).
    */
  private[catalog] def listDirFresh(
      fsys: org.apache.hadoop.fs.FileSystem,
      dir: String): Array[FileStatus] = {
    val sts = fsys.listStatus(new HPath(dir))
    dirStatusCache.synchronized(
      dirStatusCache.put(s"${fsys.getUri}$dir", sts): Unit)
    sts
  }

  /** Drop every cached listing under `tablePath` — the table-identity
    * guard: a table DELETED and RE-CREATED at the same path must never
    * be served the old table's listings, so every creation verb (first
    * commit, convert, clone target) purges its path prefix. The
    * write-once key argument covers commit dirs of ONE table identity;
    * this covers the identity change itself.
    */
  private[catalog] def invalidateDirCache(
      fsys: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Unit = {
    val prefix = s"${fsys.getUri}$tablePath/"
    dirStatusCache.synchronized(
      dirStatusCache.keySet.removeIf(_.startsWith(prefix)): Unit)
  }

  /** Unsigned lexicographic byte order — the collation parquet string
    * stats use, so skip judgments compare in the stats' own domain.
    */
  private[catalog] def bytesLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** A snapshot resolved for reading: its version, manifest entries,
    * schema metadata and PHYSICAL fields
    * ([[VersionedTable.snapshotFields]]).
    */
  private case class Snapshot(version: Int, entries: Seq[String],
                              cmap: Seq[(String, String)],
                              drops: Seq[String],
                              fields: Seq[StructField])

  private def snapshot(spark: SparkSession, path: String,
                       version: Int): Snapshot = {
    val fsys = VersionedTable.fs(spark, path)
    val v = if (version >= 0) version else {
      val vs = VersionedTable.manifestNumbers(fsys, path)
      require(vs.nonEmpty, s"no versioned table at $path")
      vs.max
    }
    val entries = VersionedTable.resolveFiles(fsys, path, v)
    val (cmap, drops) = VersionedTable.schemaMetaAt(fsys, path, v)
    Snapshot(v, entries, cmap, drops,
      VersionedTable.snapshotFields(spark, path, entries))
  }

  /** The snapshot's read types by PHYSICAL field name — what the bucket
    * claim's type gate compares the per-dir written types against
    * (DESCRIBE DETAIL's status walk, the compaction convergence check).
    */
  private[catalog] def fieldTypesAt(spark: SparkSession, path: String,
                                    version: Int)
      : Map[String, org.apache.spark.sql.types.DataType] =
    snapshot(spark, path, version).fields
      .map(f => f.name -> f.dataType).toMap

  /** One relation's entries: commit dirs sharing one hive layout (the
    * `k=v` segment names between commit dir and file name) and one
    * PHYSICAL dir schema (partition fields included, typed as the dir's
    * partition inference typed them), so the parquet reader never reads
    * a file under a type it would have to convert.
    */
  private case class Group(layout: Seq[String], schema: StructType,
                           entries: Seq[String]) {
    def partSchema: StructType = StructType(layout.map(n => schema(n)))
  }

  private def groupsOf(spark: SparkSession, path: String,
                       entries: Seq[String]): Seq[Group] = {
    def layoutOf(e: String): Seq[String] = VersionedTable.baseOf(e)
      .split("/").toSeq.drop(1).dropRight(1).map(_.takeWhile(_ != '='))
    val dirs = VersionedTable.dirGroups(spark, path, entries)
      .map { case (sch, es) =>
        (layoutOf(es.head), StructType(sch.map(_.copy(nullable = true)))) -> es
      }
    dirs.map(_._1).distinct.map { k =>
      Group(k._1, k._2, dirs.collect { case (`k`, es) => es }.flatten)
    }
  }

  /** THE relation constructor: one `HadoopFsRelation` over a
    * [[GraftFileIndex]] of `entries` (base files; deletion vectors are
    * the caller's). `live` (logical → physical renames) is empty for a
    * PHYSICAL relation; otherwise `dataSchema` is logical-named and the
    * [[GraftParquetFileFormat]] translates at reader-build time.
    */
  private def relation(spark: SparkSession, path: String, version: Int,
                       entries: Seq[String], partSchema: StructType,
                       dataSchema: StructType,
                       spec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec],
                       live: Seq[(String, String)])
      : (HadoopFsRelation, GraftFileIndex) = {
    val idx = new GraftFileIndex(spark, path,
      entries.map(VersionedTable.baseOf), partSchema, nameMap = live.toMap,
      bucketPrune = spec, snapshotVersion = version)
    val fmt =
      if (live.isEmpty) new ParquetFileFormat
      else new GraftParquetFileFormat(live)
    (HadoopFsRelation(idx, partSchema, dataSchema, spec, fmt,
      Map.empty)(spark), idx)
  }

  /** THE read of an explicit set of a versioned table's manifest entries
    * (distinct base files — a snapshot, or a change window's files):
    *
    *  - the entries split into [[Group]]s, each ONE relation over a
    *    [[GraftFileIndex]] with that group's own partition and data
    *    schema — in the steady state (one layout, one schema) exactly
    *    one relation, and only then, for a snapshot read (`version` >=
    *    0), with the table's bucket claim;
    *  - deletion vectors apply per group through `_metadata`, the one
    *    place a vector is applied to a scan;
    *  - `tag` exposes each row's identity, `__gfile` (the
    *    data-root-relative file path in the scan's encoded form,
    *    [[VersionedTable.scanRel]]) and `__gpos` (the row index within
    *    that file) — the deletion-vector write path's and the change
    *    feed's scan;
    *  - each group is cast to `fields` (PHYSICAL; the snapshot's
    *    [[VersionedTable.snapshotFields]] or a change reader's types)
    *    minus the dropped storage, a group lacking a field reading it
    *    null; a group already in that shape plans with no projection;
    *  - the groups union by name, then renames translate to LOGICAL
    *    names.
    *
    * Catalyst-pushed predicates prune each group's files by hive
    * partition values at planning time, and a snapshot read's also
    * through the stats sidecars (an explicit entry set, `version` -1, is
    * already its caller's pruned choice — [[GraftFileIndex]]). Returns
    * the frame and its indexes (empty for no entries, which read as the
    * empty frame).
    */
  private[catalog] def plan(spark: SparkSession, path: String,
                            entries: Seq[String],
                            cmap: Seq[(String, String)], drops: Seq[String],
                            fields: Seq[StructField], tag: Boolean,
                            version: Int): (DataFrame, Seq[GraftFileIndex]) = {
    import org.apache.spark.sql.functions.{col, lit}
    if (entries.isEmpty) return (spark.emptyDataFrame, Nil)
    val groups = groupsOf(spark, path, entries)
    val target = fields.filterNot(f => drops.contains(f.name))
      .map(f => f.name -> f.dataType)
    lazy val keep = VersionedTable.dvKeep(spark,
      VersionedTable.dvPositions(spark, path, entries))
    def q(n: String) = col("`" + n.replace("`", "``") + "`")
    val tags = if (tag) Seq(col("__gfile"), col("__gpos")) else Nil
    val built = groups.map { g =>
      val dataSchema = StructType(g.schema.filterNot(f =>
        g.layout.contains(f.name) || drops.contains(f.name)))
      // only a whole one-group snapshot claims buckets; an explicit
      // entry set (version -1: a verb's rewrite input, a pre-pruned
      // lookup) plans unclaimed
      val spec =
        if (groups.size > 1 || version < 0) None
        else VersionedTable.bucketSpecFor(spark, path, g.entries,
          Some(fields.map(f => f.name -> f.dataType).toMap))
      val (rel, idx) = relation(spark, path, version, g.entries,
        g.partSchema, dataSchema, spec, Nil)
      val scan = spark.baseRelationToDataFrame(rel)
      val dv = VersionedTable.hasDv(g.entries)
      val kept =
        if (tag) {
          val t = scan
            .withColumn("__gfile",
              VersionedTable.scanRel(col("_metadata.file_path")))
            .withColumn("__gpos", col("_metadata.row_index"))
          if (dv) t.filter(keep(col("__gfile"), col("__gpos"))) else t
        } else if (dv)
          scan.filter(keep(col("_metadata.file_path"),
            col("_metadata.row_index")))
        else scan
      val shaped =
        if ((dataSchema ++ g.partSchema).map(f => f.name -> f.dataType)
            == target) kept
        else kept.select(target.map { case (n, t) =>
          (if (dataSchema.fieldNames.contains(n) ||
               g.layout.contains(n)) q(n).cast(t)
           else lit(null).cast(t)).as(n)
        } ++ tags: _*)
      (shaped, idx)
    }
    (VersionedTable.toLogical(built.map(_._1).reduce(_ unionByName _), cmap),
      built.map(_._2))
  }

  /** The file indexes of one read's relations: the pruning seam,
    * summed over a snapshot that plans as several relations.
    */
  final case class Indexes(all: Seq[GraftFileIndex]) {
    /** Files the relations' most recent `listFiles` returned; -1 before
      * any listed.
      */
    def lastListedCount: Int = all.map(_.lastListedCount).filter(_ >= 0)
      .reduceOption(_ + _).getOrElse(-1)

    def totalFiles: Int = all.map(_.totalFiles).sum

    def inputFiles: Array[String] = all.flatMap(_.inputFiles).toArray
  }

  /** [[read]] plus its planted indexes, for callers that assert pruning
    * (specs, oracle rows) through the `lastListedCount` seam.
    */
  def readWithIndex(spark: SparkSession, path: String,
                    version: Int = -1): (DataFrame, Indexes) = {
    val s = snapshot(spark, path, version)
    require(s.entries.nonEmpty,
      s"version ${s.version} of $path has no files, so no index")
    val (df, idxs) = plan(spark, path, s.entries, s.cmap, s.drops,
      s.fields, tag = false, s.version)
    (df, Indexes(idxs))
  }

  /** The snapshot with each row's `__gfile`/`__gpos` identity ([[plan]]'s
    * tag) — the deletion-vector write path's scan: positions are
    * captured AT the source, before any projection or join could lose
    * `_metadata`, and vectors already on the version apply (an
    * already-deleted row can never re-match). `onlyBases` subsets the
    * entries at PLANNING time (the DV merge branch's touched-file scan);
    * the columns stay the whole snapshot's.
    */
  def readTagged(spark: SparkSession, path: String,
                 version: Int = -1,
                 onlyBases: Option[Set[String]] = None): DataFrame = {
    val s = snapshot(spark, path, version)
    val entries = onlyBases.fold(s.entries)(bs =>
      s.entries.filter(e => bs(VersionedTable.baseOf(e))))
    plan(spark, path, entries, s.cmap, s.drops, s.fields, tag = true,
      s.version)._1
  }

  /** A one-group snapshot as a `BaseRelation` whose OUTPUT schema is
    * already LOGICAL — what `spark.read.format("graft")` hands Spark,
    * since a DSv1 relation cannot wrap itself in the rename `select`
    * that [[read]] applies on top. On a never-renamed table this is the
    * stock parquet relation; with live renames the relation's
    * [[GraftParquetFileFormat]] translates the required schema and
    * pushed filters back to PHYSICAL names at reader-build time
    * (`InternalRow`s are positional, so renaming a field is free), and
    * the file index translates pushed predicates before consulting the
    * stats sidecars — transparent skipping is preserved either way.
    * Deletion vectors are NOT applied: [[servedFrame]] picks this or
    * [[read]].
    */
  private def logicalRelation(spark: SparkSession, path: String,
                              s: Snapshot, g: Group): HadoopFsRelation = {
    val live = s.cmap.filter { case (l, p) => l != p }
    val logicalOf = live.map { case (l, p) => p -> l }.toMap
    val dataSchema = StructType(g.schema
      .filterNot(f => g.layout.contains(f.name) || s.drops.contains(f.name))
      .map(f => f.copy(name = logicalOf.getOrElse(f.name, f.name))))
    // bucket claim only when NO bucket column is renamed (checked on
    // BOTH map sides: the declaration may hold the pre- or post-rename
    // name): the spec must name this relation's (logical) output
    // columns, and the v1 contract is bucket-column renames drop the
    // layout claim; a rename touching only a SORT column drops just
    // the ordering claim
    val spec = VersionedTable.bucketSpecFor(spark, path, s.entries,
        Some(s.fields.map(f => f.name -> f.dataType).toMap))
      .filterNot(b => live.exists(p =>
        b.bucketColumnNames.contains(p._1) ||
          b.bucketColumnNames.contains(p._2)))
      .map(b => if (live.exists(p => b.sortColumnNames.contains(p._1) ||
          b.sortColumnNames.contains(p._2)))
        b.copy(sortColumnNames = Nil) else b)
    relation(spark, path, s.version, g.entries, g.partSchema, dataSchema,
      spec, live)._1
  }

  /** THE read plan SQL and the `graft` format serve for a snapshot: the
    * bare logical relation ([[logicalRelation]]) when the snapshot is
    * one relation without deletion vectors, else [[read]]'s frame.
    */
  private[graft] def servedFrame(spark: SparkSession, path: String,
                                 version: Int = -1): DataFrame = {
    val s = snapshot(spark, path, version)
    groupsOf(spark, path, s.entries) match {
      case Seq(g) if !VersionedTable.hasDv(s.entries) =>
        spark.baseRelationToDataFrame(logicalRelation(spark, path, s, g))
      case _ =>
        plan(spark, path, s.entries, s.cmap, s.drops, s.fields,
          tag = false, s.version)._1
    }
  }

  /** Read a versioned-table snapshot (the latest version, or an exact
    * historical one) through [[plan]]: Catalyst-pushed filters prune
    * files through the stats sidecars and hive partition values at
    * planning time — `readWhere`-grade skipping for free on every
    * downstream `.filter`/WHERE/join bound. Column mapping (rename/drop)
    * and schema evolution resolve by [[VersionedTable.snapshotFields]].
    * An empty snapshot reads as the empty frame.
    */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val s = snapshot(spark, path, version)
    plan(spark, path, s.entries, s.cmap, s.drops, s.fields, tag = false,
      s.version)._1
  }
}
/** [[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]]
  * that resolves a versioned table's LOGICAL column names to the
  * PHYSICAL names its parquet files store (a rename is manifest
  * metadata — the bytes keep their original column name forever, see
  * [[VersionedTable.renameColumn]]). The translation happens once at
  * reader-build time: the required/data schemas and the pushed source
  * filters are rewritten logical→physical before delegating to the
  * stock parquet reader, whose output `InternalRow`s are positional —
  * so the scan's visible attributes stay logical while parquet matches
  * columns by their stored names. This is the published lakehouse
  * column-mapping shape (Delta's DeltaParquetFileFormat does the same
  * prepare-schema translation). Untranslatable filter shapes are
  * DROPPED, not passed through: parquet pushdown only skips row
  * groups — Spark re-evaluates every predicate above the scan, so a
  * dropped filter costs I/O, never correctness.
  */
class GraftParquetFileFormat(cmap: Seq[(String, String)])
    extends ParquetFileFormat {
  import org.apache.spark.sql.{sources => sf}

  private val physOf: Map[String, String] = cmap.toMap

  private def phys(n: String): String = physOf.getOrElse(n, n)

  private def rename(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = phys(f.name))))

  private def trFilter(f: sf.Filter): Option[sf.Filter] = f match {
    case sf.EqualTo(a, v) => Some(sf.EqualTo(phys(a), v))
    case sf.EqualNullSafe(a, v) => Some(sf.EqualNullSafe(phys(a), v))
    case sf.GreaterThan(a, v) => Some(sf.GreaterThan(phys(a), v))
    case sf.GreaterThanOrEqual(a, v) =>
      Some(sf.GreaterThanOrEqual(phys(a), v))
    case sf.LessThan(a, v) => Some(sf.LessThan(phys(a), v))
    case sf.LessThanOrEqual(a, v) => Some(sf.LessThanOrEqual(phys(a), v))
    case sf.In(a, vs) => Some(sf.In(phys(a), vs))
    case sf.IsNull(a) => Some(sf.IsNull(phys(a)))
    case sf.IsNotNull(a) => Some(sf.IsNotNull(phys(a)))
    case sf.StringStartsWith(a, v) => Some(sf.StringStartsWith(phys(a), v))
    case sf.StringEndsWith(a, v) => Some(sf.StringEndsWith(phys(a), v))
    case sf.StringContains(a, v) => Some(sf.StringContains(phys(a), v))
    case sf.And(l, r) =>
      for { lt <- trFilter(l); rt <- trFilter(r) } yield sf.And(lt, rt)
    case sf.Or(l, r) =>
      for { lt <- trFilter(l); rt <- trFilter(r) } yield sf.Or(lt, rt)
    case sf.Not(c) => trFilter(c).map(sf.Not)
    case _ => None
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession,
      rename(dataSchema), partitionSchema, rename(requiredSchema),
      filters.flatMap(trFilter), options, hadoopConf)

  override def toString: String = "GraftParquet"

  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g.cmapForEquals == cmap
    case _ => false
  }

  override def hashCode(): Int = cmap.hashCode()

  private def cmapForEquals: Seq[(String, String)] = cmap
}
