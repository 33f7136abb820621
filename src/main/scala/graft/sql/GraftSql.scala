package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types._

import graft.catalog.VersionedTable

/** SQL surface for the lakehouse maintenance/schema verbs, so the
  * q60/q61-class operations are reachable WITHOUT naming a Scala API —
  * the published connector shape (Delta's `DeltaSqlParser` is a
  * delegating parser exactly like this):
  *
  * {{{
  * OPTIMIZE graft.`/path` [WHERE col IN ('a','b')] [ZORDER BY (c1, c2)]
  * VACUUM graft.`/path` [RETAIN n HOURS] [DRY RUN]   -- bare = RETAIN 168
  * RESTORE [TABLE] graft.`/path` TO VERSION AS OF 3
  * ALTER TABLE graft.`/path` RENAME COLUMN a TO b
  * ALTER TABLE graft.`/path` DROP COLUMN a
  * ALTER TABLE graft.`/path` ADD CONSTRAINT nm CHECK (expr)
  * ALTER TABLE graft.`/path` DROP CONSTRAINT [IF EXISTS] nm
  * ALTER TABLE graft.`/path` CLUSTERED BY (c) INTO 8 BUCKETS
  * DESCRIBE HISTORY graft.`/path`
  * DESCRIBE DETAIL graft.`/path`     -- one metadata row, zero data read
  * SHOW PARTITIONS graft.`/path`     -- tuples from manifest metadata
  * CLONE graft.`/src` TO graft.`/dst` [VERSION AS OF 3]
  * CONVERT TO GRAFT parquet.`/path`   -- zero-copy in-place adoption
  * REORG TABLE graft.`/path` APPLY (PURGE)  -- fold deletion vectors
  * SELECT ... FROM graft.`/path` ...   -- any query; indexed relation
  * SELECT ... FROM graft.`/path` VERSION AS OF 3      -- time travel
  * SELECT ... FROM graft.`/path` TIMESTAMP AS OF '...'
  * SELECT ... FROM table_changes('/path', 2 [, 5])    -- CDC feed TVF
  * INSERT INTO | INSERT OVERWRITE graft.`/path` ...  -- commit protocol
  * DELETE FROM graft.`/path` [WHERE ...]             -- file-pruned
  * UPDATE graft.`/path` SET c = expr [WHERE ...]     -- file-pruned
  * MERGE INTO graft.`/path` t USING src s ON t.k = s.k
  *   [WHEN MATCHED [AND c] THEN UPDATE SET *|c=expr | DELETE]...
  *   [WHEN NOT MATCHED [AND c]                       -- ordered clauses,
  *     THEN INSERT * | (cols) VALUES (exprs)]...     -- first-match-wins
  *   [WHEN NOT MATCHED BY SOURCE [AND c]
  *     THEN UPDATE SET c=expr | DELETE]...           -- sync idiom
  * CREATE TABLE nm USING graft [OPTIONS (path '…')]
  *   [PARTITIONED BY (c1, c2)]                       -- multi-level hive
  *   [CLUSTERED BY (c) INTO n BUCKETS] AS SELECT ... -- bucket layout
  * }}}
  *
  * The maintenance/schema verbs are regex-claimed here; the DML
  * statements are parsed by SPARK'S OWN grammar and their typed plans
  * claimed in [[GraftDml]] — full statement syntax, engine execution.
  *
  * Tables are addressed as `` graft.`/path` `` or by CATALOG NAME
  * (`CREATE TABLE t USING graft ...` tables — the name resolves to its
  * path through the session catalog, and schema-changing verbs sync the
  * catalog's stored schema in the same stroke, since DSv1 resolution
  * replays it against the relation). Statements the grammar does not
  * claim — including ALTER TABLE on non-graft tables — fall through to
  * Spark's own parser untouched.
  *
  * Two entry points, one grammar: register
  * `spark.sql.extensions=graft.sql.GraftExtensions` and the verbs work
  * through plain `spark.sql(...)`; or call [[GraftSql.run]] on an
  * un-extended session.
  *
  * Reference scope: the reference has no maintenance DDL at all (its
  * schema is a frozen `ddl.sql` executed once,
  * /root/reference/scripts/wiki/__init__.py:83-88); this surface is the
  * lakehouse-native restatement of "operate the store with the tools
  * you already have".
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.matchVerb(session, sqlText)
      .getOrElse(GraftSqlParser.serve(session, delegate.parsePlan(sqlText)))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {

  // table reference: graft.`/path` | bare (possibly qualified) name
  private val Ref = "(?:graft\\s*\\.\\s*`([^`]+)`|([A-Za-z_][\\w.]*))"
  private def col = "(?:`([^`]+)`|([A-Za-z_]\\w*))"

  private val OptimizeRe =
    ("(?is)^\\s*OPTIMIZE\\s+" + Ref +
      "(?:\\s+WHERE\\s+(.+?))?" +
      "(?:\\s+ZORDER\\s+BY\\s+\\(?\\s*([\\w`,\\s]+?)\\s*\\)?)?\\s*;?\\s*$").r
  private val VacuumRe =
    ("(?is)^\\s*VACUUM\\s+" + Ref +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?(\\s+DRY\\s+RUN)?\\s*;?\\s*$").r
  private val RestoreVRe =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?" + Ref +
      "\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$").r
  private val RestoreTsRe =
    ("(?is)^\\s*RESTORE\\s+(?:TABLE\\s+)?" + Ref +
      "\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$").r
  private val RenameRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Ref +
      "\\s+RENAME\\s+COLUMN\\s+" + col + "\\s+TO\\s+" + col +
      "\\s*;?\\s*$").r
  private val DropRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Ref +
      "\\s+DROP\\s+COLUMN\\s+" + col + "\\s*;?\\s*$").r
  private val HistoryRe =
    ("(?is)^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+" + Ref + "\\s*;?\\s*$").r
  private val ShowPartitionsRe =
    ("(?is)^\\s*SHOW\\s+PARTITIONS\\s+" + Ref + "\\s*;?\\s*$").r
  private val DetailRe =
    ("(?is)^\\s*DESC(?:RIBE)?\\s+DETAIL\\s+" + Ref + "\\s*;?\\s*$").r
  private val AddConstraintRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Ref +
      "\\s+ADD\\s+CONSTRAINT\\s+([A-Za-z0-9_\\-]+)\\s+CHECK\\s*" +
      "\\((.+)\\)\\s*;?\\s*$").r
  private val DropConstraintRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Ref +
      "\\s+DROP\\s+CONSTRAINT\\s+(?:IF\\s+EXISTS\\s+)?" +
      "([A-Za-z0-9_\\-]+)\\s*;?\\s*$").r
  private val CloneRe =
    ("(?is)^\\s*CLONE\\s+" + Ref + "\\s+TO\\s+graft\\s*\\.\\s*`([^`]+)`" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*;?\\s*$").r
  private val ConvertRe =
    ("(?is)^\\s*CONVERT\\s+TO\\s+GRAFT\\s+" +
      "(?:parquet\\s*\\.\\s*)?`([^`]+)`\\s*;?\\s*$").r
  private val ClusterByRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+" + Ref +
      "\\s+CLUSTERED\\s+BY\\s*\\(\\s*([\\w`.,\\s\\-]+?)\\s*\\)" +
      "(?:\\s+SORTED\\s+BY\\s*\\(\\s*([\\w`.,\\s\\-]+?)\\s*\\))?" +
      "\\s+INTO\\s+(\\d+)\\s+BUCKETS\\s*;?\\s*$").r
  private val ReorgRe =
    ("(?is)^\\s*REORG\\s+TABLE\\s+" + Ref +
      "\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*$").r
  private val CreateViewRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
      "graft\\s*\\.\\s*`([^`]+)`" +
      "(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?" +
      "\\s+AS\\s+(SELECT\\s.+?)\\s*;?\\s*$").r
  private val RefreshViewRe =
    ("(?is)^\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+" +
      "graft\\s*\\.\\s*`([^`]+)`\\s*;?\\s*$").r
  private val AlterViewRewriteRe =
    ("(?is)^\\s*ALTER\\s+MATERIALIZED\\s+VIEW\\s+" +
      "graft\\s*\\.\\s*`([^`]+)`\\s+(ENABLE|DISABLE)\\s+REWRITE" +
      "\\s*;?\\s*$").r
  // WHERE forms the partition-scoped OPTIMIZE accepts
  private val WhereEqRe =
    ("(?is)^\\s*" + col + "\\s*=\\s*'([^']*)'\\s*$").r
  private val WhereInRe =
    ("(?is)^\\s*" + col + "\\s+IN\\s*\\(([^)]+)\\)\\s*$").r

  /** The resolved (path, catalog name parts if the ref was a NAME). */
  private case class Target(path: String, nameParts: Option[Seq[String]])

  /** Resolve a matched ref; None when it is a bare name that is not a
    * graft catalog table (the statement belongs to the delegate).
    */
  private def target(session: SparkSession, pathGroup: String,
                     nameGroup: String): Option[Target] =
    Option(pathGroup) match {
      case Some(p) => Some(Target(p, None))
      case None =>
        val parts = nameGroup.split("\\.").toSeq
        SqlBridge.graftTablePath(session, parts)
          .map(p => Target(p, Some(parts)))
    }

  private def colOf(bq: String, bare: String): String =
    Option(bq).getOrElse(bare)

  /** Serve a freshly delegate-parsed statement: claim graft-targeted
    * DML as engine commands ([[GraftDml.claim]]), guard any remaining
    * write-position graft ref loud, then rewrite the READ-position
    * refs onto the indexed snapshot relation. The claim runs FIRST so
    * a write target is never handed to the read rewrite — an
    * `INSERT INTO graft.`path`` resolved as a read relation would let
    * Spark plan a raw parquet write that bypasses the commit protocol
    * (rows invisible to every read, swept by vacuum as orphans).
    */
  def serve(session: SparkSession, parsed: LogicalPlan): LogicalPlan = {
    val claimed = GraftDml.claim(session, parsed)
    if (!(claimed eq parsed)) claimed
    else {
      GraftDml.guardWrites(session, parsed)
      resolveGraftPaths(session, parsed)
    }
  }

  /** Serve `` FROM graft.`/path` `` refs by rewriting the freshly
    * parsed plan: each `UnresolvedRelation([graft, path])` naming a
    * REAL versioned table becomes the indexed snapshot relation.
    * Parse-time is the one seam that runs BEFORE Spark's
    * ResolveSQLOnFile, which claims the two-part `format`.`path` shape
    * for FileFormat sources only and fails analysis for everything
    * else. Refs that are not live tables stay unresolved for Spark's
    * own rules and error messages. READ positions only — write-position
    * refs are claimed or failed loud in [[serve]] before this runs.
    */
  /** The live graft-table path a READ-position relation names: a
    * `` graft.`path` `` ref with a real table behind it, or a catalog
    * name `USING graft`.
    */
  private def readTarget(session: SparkSession,
                         u: org.apache.spark.sql.catalyst.analysis
                           .UnresolvedRelation): Option[String] = {
    val parts = u.multipartIdentifier
    if (parts.length == 2 && parts.head.equalsIgnoreCase("graft") &&
        scala.util.Try(VersionedTable.versions(session, parts(1)))
          .toOption.exists(_.nonEmpty)) Some(parts(1))
    else None
  }

  /** `TIMESTAMP AS OF` literal → epoch millis: epoch millis, an ISO
    * instant, or a date / datetime read in the session timezone (the
    * same forms the format reader's `timestampAsOf` option takes).
    */
  private def tsMillis(session: SparkSession, s: String): Long = {
    val zone = java.time.ZoneId.of(
      session.conf.get("spark.sql.session.timeZone"))
    val t = s.trim
    t.toLongOption
      .orElse(scala.util.Try(
        java.time.Instant.parse(t).toEpochMilli).toOption)
      .orElse(scala.util.Try(
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli).toOption)
      .orElse(scala.util.Try(
        java.time.LocalDate.parse(t).atStartOfDay(zone)
          .toInstant.toEpochMilli).toOption)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse TIMESTAMP AS OF '$s' — epoch millis, ISO " +
          "instant, or yyyy-MM-dd[ HH:mm:ss] in the session timezone"))
  }

  /** A snapshot's read plan ([[graft.catalog.GraftScan.servedFrame]]). */
  private def snapshotPlan(session: SparkSession, path: String,
                           v: Int = -1): LogicalPlan =
    graft.catalog.GraftScan.servedFrame(session, path, v)
      .queryExecution.logical

  def resolveGraftPaths(session: SparkSession,
                        plan: LogicalPlan): LogicalPlan =
    // TOP-DOWN: a RelationTimeTravel must be claimed as a whole before
    // its child ref would be rewritten to the LATEST snapshot
    plan.transformDown {
      // SQL time travel: SELECT ... FROM graft.`path` VERSION AS OF n
      // | TIMESTAMP AS OF '...' — Spark's parser wraps the ref in
      // RelationTimeTravel; serve the exact historical snapshot (still
      // the indexed relation: time travel costs no pruning)
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation,
          ts, ver) if readTarget(session, u).isDefined =>
        val path = readTarget(session, u).get
        val v = ver match {
          case Some(n) => n.toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"graft VERSION AS OF takes a version number, got '$n'"))
          case None =>
            val lit = ts.get match {
              case org.apache.spark.sql.catalyst.expressions
                .Literal(s, _) => s.toString
              case other => throw new IllegalArgumentException(
                "graft TIMESTAMP AS OF takes a literal, got: " +
                  other.sql)
            }
            VersionedTable.versionAt(session, path,
              tsMillis(session, lit))
        }
        snapshotPlan(session, path, v)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if readTarget(session, u).isDefined =>
        snapshotPlan(session, readTarget(session, u).get)
      // the CDC table-valued function (Delta's table_changes shape):
      //   SELECT * FROM table_changes('/path', startV [, endV])
      // served straight from the change feed — exact per-version
      // replay, O(epochs) plan width, fully composable as a relation
      case tvf: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction
          if tvf.name.length == 1 &&
            tvf.name.head.equalsIgnoreCase("table_changes") =>
        val args = tvf.functionArgs.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v
          case other => throw new IllegalArgumentException(
            s"table_changes takes literal arguments, got: ${other.sql}")
        }
        require(args.length == 2 || args.length == 3,
          "table_changes(path, startingVersion [, endingVersion]) — " +
            "bounds are version numbers or timestamps (a START " +
            "timestamp resolves to the first commit at-or-after it, " +
            "an END timestamp to the last commit at-or-before it — " +
            "the Delta contract: changes strictly before the start " +
            "instant are never replayed; oracle-gated by " +
            "q77_changes_ts with bounds strictly inside commit " +
            "intervals)")
        val path = args.head.toString
        // an epoch-millis value arrives as a Long literal past Int
        // range — a timestamp, never a version number
        def verOf(a: Any, start: Boolean): Int = {
          def ofMillis(ms: Long): Int =
            if (start) VersionedTable.versionAtOrAfter(session, path, ms)
            else VersionedTable.versionAt(session, path, ms)
          a match {
            case n: Number if n.longValue > Int.MaxValue =>
              ofMillis(n.longValue)
            case n: Number => n.intValue
            case s =>
              val str = s.toString
              str.toIntOption.getOrElse(
                ofMillis(tsMillis(session, str)))
          }
        }
        VersionedTable.changeFeed(session, path,
          verOf(args(1), start = true),
          if (args.length == 3) verOf(args(2), start = false) else -1)
          .queryExecution.logical
    }

  /** Parse `sqlText` against the verb grammar: Some(command plan) when
    * claimed, None when the statement belongs to the delegate parser.
    */
  def matchVerb(session: SparkSession, sqlText: String)
      : Option[LogicalPlan] = sqlText match {
    case OptimizeRe(p, n, where, zorder) =>
      target(session, p, n).map { t =>
        // WHERE = a conjunction of partition-level terms, each
        // col = 'v' or col IN ('a','b') — AND of levels scopes the
        // maintenance to exact leaf dirs on a multi-level layout
        val specs: Seq[(String, Seq[String])] =
          Option(where).toSeq.flatMap(_.split("(?i)\\s+AND\\s+").toSeq)
            .map {
              case WhereEqRe(bq, bare, v) => (colOf(bq, bare), Seq(v))
              case WhereInRe(bq, bare, list) =>
                (colOf(bq, bare),
                  list.split(",").toSeq.map(_.trim.stripPrefix("'")
                    .stripSuffix("'")))
              case other => throw new IllegalArgumentException(
                "OPTIMIZE WHERE accepts AND-ed col = 'v' / col IN " +
                  s"('a','b') terms — got: $other")
            }
        val zcols = Option(zorder).toSeq.flatMap(_.split(",").toSeq)
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)
        GraftOptimizeCommand(t.path, specs, zcols)
      }
    case VacuumRe(p, n, hours, dry) =>
      target(session, p, n).map(t =>
        GraftVacuumCommand(t.path, Option(hours).map(_.toLong),
          dryRun = dry != null))
    case RestoreVRe(p, n, v) =>
      target(session, p, n).map(t =>
        GraftRestoreCommand(t.path, Some(v.toInt), None,
          t.nameParts))
    case RestoreTsRe(p, n, ts) =>
      target(session, p, n).map(t =>
        GraftRestoreCommand(t.path, None, Some(ts), t.nameParts))
    case RenameRe(p, n, bqa, a, bqb, b) =>
      target(session, p, n).map(t =>
        GraftRenameColumnCommand(t.path, colOf(bqa, a), colOf(bqb, b),
          t.nameParts))
    case DropRe(p, n, bq, bare) =>
      target(session, p, n).map(t =>
        GraftDropColumnCommand(t.path, colOf(bq, bare), t.nameParts))
    case HistoryRe(p, n) =>
      target(session, p, n).map(t => GraftHistoryCommand(t.path))
    case ShowPartitionsRe(p, n) =>
      target(session, p, n).map(t => GraftShowPartitionsCommand(t.path))
    case DetailRe(p, n) =>
      target(session, p, n).map(t => GraftDetailCommand(t.path))
    case AddConstraintRe(p, n, name, check) =>
      target(session, p, n).map(t =>
        GraftAddConstraintCommand(t.path, name, check.trim))
    case DropConstraintRe(p, n, name) =>
      target(session, p, n).map(t =>
        GraftDropConstraintCommand(t.path, name))
    case CloneRe(p, n, dst, v) =>
      target(session, p, n).map(t =>
        GraftCloneCommand(t.path, dst, Option(v).map(_.toInt)))
    case ClusterByRe(p, n, colsList, sortedList, nb) =>
      def names(s: String): Seq[String] =
        s.split(",").toSeq.map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty)
      target(session, p, n).map(t =>
        GraftClusterByCommand(t.path, names(colsList), nb.toInt,
          Option(sortedList).map(names).getOrElse(Nil)))
    case ConvertRe(p) => Some(GraftConvertCommand(p))
    case ReorgRe(p, n) =>
      target(session, p, n).map(t => GraftReorgCommand(t.path))
    case CreateViewRe(view, parts, select) =>
      Some(GraftCreateViewCommand(view,
        Option(parts).toSeq.flatMap(_.split(",").toSeq)
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty),
        select))
    case RefreshViewRe(view) => Some(GraftRefreshViewCommand(view))
    case AlterViewRewriteRe(view, verb) =>
      Some(GraftViewRewriteCommand(view, verb.equalsIgnoreCase("ENABLE")))
    case _ => None
  }
}

/** Run one statement against the verb grammar, falling back to
  * `spark.sql` — the entry point for sessions built WITHOUT the
  * extension.
  */
object GraftSql {
  def run(spark: SparkSession, sqlText: String): DataFrame =
    GraftSqlParser.matchVerb(spark, sqlText) match {
      case Some(cmd) => SqlBridge.ofRows(spark, cmd)
      case None =>
        // same pipeline as the injected parser: parse with the
        // session's own parser, then serve graft DML and table refs
        val parsed = SqlBridge.sessionParser(spark).parsePlan(sqlText)
        val served = GraftSqlParser.serve(spark, parsed)
        if (served eq parsed) spark.sql(sqlText)
        else SqlBridge.ofRows(spark, served)
    }
}

/** `spark.sql.extensions=graft.sql.GraftExtensions` — injects the verb
  * parser in front of the session's own, plus the MV aggregate-rewrite
  * rule (a no-op until some view is opted in through
  * `ALTER MATERIALIZED VIEW ... ENABLE REWRITE` /
  * [[graft.catalog.MaterializedView.enableRewrite]] — which also
  * installs the rule per-session for un-extended sessions). The parser
  * also serves `` FROM graft.`/path` `` table refs (see
  * [[GraftSqlParser.resolveGraftPaths]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser { case (session, delegate) =>
      new GraftSqlParser(session, delegate)
    }
    e.injectOptimizerRule(_ => graft.catalog.MvRewrite)
  }
}

private object GraftCommands {
  val versionOut: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  /** Schema-changing verbs on a NAMED table sync the catalog's stored
    * schema (DSv1 resolution replays it against the relation — a stale
    * catalog schema fails every later SELECT loud).
    */
  def syncCatalog(spark: SparkSession, path: String,
                  nameParts: Option[Seq[String]]): Unit =
    nameParts.foreach { parts =>
      SqlBridge.syncCatalogSchema(spark, parts,
        VersionedTable.logicalSchema(spark, path))
    }
}

case class GraftOptimizeCommand(path: String,
                                specs: Seq[(String, Seq[String])],
                                zorderCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut

  override def run(spark: SparkSession): Seq[Row] = {
    val v =
      if (specs.nonEmpty)
        VersionedTable.optimizePartitionsMulti(spark, path, specs,
          zorderCols = zorderCols)
      else
        // a full OPTIMIZE must PRESERVE the table's hive partition
        // layout — a statement-level verb silently flattening a
        // partitioned table would destroy partition pruning (and mix
        // layouts under the indexed scan). The inference anchors on
        // MANIFEST-RELATIVE paths ([[VersionedTable.layoutPartitionCols]]),
        // so an ancestor dir that happens to look like a commit dir
        // (/srv/c-store/...) can never fake a partition column.
        VersionedTable.optimize(spark, path,
          partitionCols = VersionedTable.layoutPartitionCols(spark, path),
          zorderCols = zorderCols)
    Seq(Row(v))
  }
}

/** Bare `VACUUM` retains 168 h of wall-clock history (Delta's default —
  * a zero default would sweep files out from under any reader planned
  * on an in-window older snapshot); the aggressive sweep is an explicit
  * `RETAIN 0 HOURS`.
  */
case class GraftVacuumCommand(path: String, retainHours: Option[Long],
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val retainMs = retainHours.map(_ * 3600 * 1000L)
      .getOrElse(VersionedTable.defaultRetainMs)
    if (dryRun)
      VersionedTable.vacuumDryRun(spark, path, retainAtLeastMs = retainMs)
        .collect().toSeq
    else {
      VersionedTable.vacuum(spark, path, retainAtLeastMs = retainMs)
      Seq.empty
    }
  }
}

case class GraftRestoreCommand(path: String, version: Option[Int],
                               timestamp: Option[String],
                               nameParts: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] = {
    val toV = version.getOrElse {
      val ts = timestamp.get
      val millis = ts.toLongOption.getOrElse(
        java.time.Instant.parse(ts).toEpochMilli)
      VersionedTable.versionAt(spark, path, millis)
    }
    val v = VersionedTable.restore(spark, path, toV)
    // restore can revert a rename/drop — keep a named table's catalog
    // schema in step
    GraftCommands.syncCatalog(spark, path, nameParts)
    Seq(Row(v))
  }
}

case class GraftRenameColumnCommand(path: String, from: String, to: String,
                                    nameParts: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] = {
    val v = VersionedTable.renameColumn(spark, path, from, to)
    GraftCommands.syncCatalog(spark, path, nameParts)
    Seq(Row(v))
  }
}

case class GraftDropColumnCommand(path: String, name: String,
                                  nameParts: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] = {
    val v = VersionedTable.dropColumn(spark, path, name)
    GraftCommands.syncCatalog(spark, path, nameParts)
    Seq(Row(v))
  }
}

case class GraftCloneCommand(src: String, dst: String,
                             version: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.cloneTable(spark, src, dst,
      version.getOrElse(-1))))
}

/** `CONVERT TO GRAFT parquet.`/path`` →
  * [[VersionedTable.convertToGraft]] (in-place zero-copy adoption of a
  * plain parquet tree as version 0).
  */
case class GraftConvertCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.convertToGraft(spark, path)))
}

/** `REORG TABLE graft.`path` APPLY (PURGE)` →
  * [[VersionedTable.purgeDeletionVectors]]: rewrite ONLY the
  * vector-carrying files (their survivors), folding every deletion
  * vector away in O(DV'd files) — the maintenance verb that reclaims
  * merge-on-read debt without a full-table OPTIMIZE.
  */
case class GraftReorgCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(VersionedTable.purgeDeletionVectors(spark, path)))
}

/** `CREATE MATERIALIZED VIEW graft.`view` [PARTITIONED BY (c,...)]
  * AS SELECT <groups and aggregates> FROM graft.`src` GROUP BY <groups>`
  * → [[graft.catalog.MaterializedView.create]]. The SELECT is parsed
  * by Spark's own grammar and must be EXACTLY the maintainable shape —
  * a single grouped aggregate of count( * )/count(c)/sum/avg/min/max
  * over one graft table, every select item a bare grouping column or
  * an aliased aggregate; anything else (expressions, WHERE, joins,
  * DISTINCT aggregates, HAVING) fails loud naming the offending item,
  * because a view the engine cannot maintain incrementally must never
  * be created silently as one it can.
  */
case class GraftCreateViewCommand(viewPath: String,
                                  partitionCols: Seq[String],
                                  selectSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW needs SELECT <grouping cols, " +
          "aliased count(*)/count(c)/sum/avg/min/max/var_pop/var_samp/" +
          "stddev_pop/stddev_samp/approx_count_distinct aggregates> " +
          s"FROM graft.`src` GROUP BY <grouping cols> — $what")
    SqlBridge.sessionParser(spark).parsePlan(selectSql) match {
      case Aggregate(gs, as, child, _) =>
        // a row-level WHERE is exactly maintainable (it filters the
        // feed before the deltas) — peel it off the source ref
        val (rel, where) = child match {
          case org.apache.spark.sql.catalyst.plans.logical
            .Filter(cond, c) => (c, Some(cond.sql))
          case c => (c, None)
        }
        val src = rel match {
          case u: UnresolvedRelation
              if u.multipartIdentifier.length == 2 &&
                u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
            u.multipartIdentifier(1)
          case other => fail(s"the source must be a bare graft.`path` " +
            s"ref (optionally WHERE-filtered), got: ${other.nodeName}")
        }
        val groupCols = gs.map {
          case a: UnresolvedAttribute if a.nameParts.length == 1 =>
            a.nameParts.head
          case other => fail(s"GROUP BY must name bare columns, got: " +
            other.sql)
        }
        val aggs = as.flatMap {
          case a: UnresolvedAttribute if a.nameParts.length == 1 &&
              groupCols.contains(a.nameParts.head) =>
            None // grouping-column passthrough
          case Alias(f: UnresolvedFunction, name) =>
            if (f.isDistinct) fail(s"DISTINCT aggregates are not " +
              s"incrementally maintainable: $name — use " +
              "approx_count_distinct(c) for the sketch-maintained form")
            val fn = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
            val arg = f.arguments match {
              case Seq(_: UnresolvedStar) => "*"
              // Spark's parser rewrites count(*) to count(1)
              case Seq(org.apache.spark.sql.catalyst.expressions
                .Literal(1, _)) if fn == "count" => "*"
              case Seq(c: UnresolvedAttribute)
                  if c.nameParts.length == 1 => c.nameParts.head
              case other => fail(s"aggregate arguments must be a bare " +
                s"column or *, got: ${other.map(_.sql).mkString(",")}")
            }
            Some(graft.catalog.MaterializedView.AggDef(fn, arg, name))
          case other => fail(s"select item must be a grouping column " +
            s"or an aliased aggregate, got: ${other.sql}")
        }
        Seq(Row(graft.catalog.MaterializedView.create(spark, src,
          viewPath, groupCols, aggs, partitionCols, where)))
      case other =>
        fail(s"got a ${other.nodeName} plan (WHERE/joins/subqueries " +
          "are not maintainable view shapes)")
    }
  }
}

/** `REFRESH MATERIALIZED VIEW graft.`view`` →
  * [[graft.catalog.MaterializedView.refresh]] (replay the source
  * change feed since the last refresh — O(changes), exactly-once).
  */
case class GraftRefreshViewCommand(viewPath: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftCommands.versionOut
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.catalog.MaterializedView.refresh(spark, viewPath)))
}

/** `ALTER MATERIALIZED VIEW graft.`view` ENABLE|DISABLE REWRITE` →
  * [[graft.catalog.MaterializedView.enableRewrite]] /
  * `disableRewrite` — the Hive-shaped opt-in for automatic aggregate
  * rewrite ([[graft.catalog.MvRewrite]]): matching rollups over the
  * view's source are answered from the view while it reflects the
  * scanned snapshot exactly.
  */
case class GraftViewRewriteCommand(viewPath: String, enable: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    if (enable) graft.catalog.MaterializedView.enableRewrite(spark, viewPath)
    else graft.catalog.MaterializedView.disableRewrite(spark, viewPath)
    Seq.empty
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` →
  * [[VersionedTable.setConstraint]] (existing rows validated first,
  * loud on violation — the Delta shape).
  */
case class GraftAddConstraintCommand(path: String, name: String,
                                     check: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.setConstraint(spark, path, name, check)
    Seq.empty
  }
}

/** `ALTER TABLE ... DROP CONSTRAINT [IF EXISTS] name` →
  * [[VersionedTable.dropConstraint]] (no-op when absent).
  */
case class GraftDropConstraintCommand(path: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.dropConstraint(spark, path, name)
    Seq.empty
  }
}

/** `ALTER TABLE ... CLUSTERED BY (cols…) [SORTED BY (cols…)] INTO n
  * BUCKETS` → [[VersionedTable.setBucketing]] (the co-located-join
  * layout: see the declaration's scaladoc for the
  * write/degrade/restore contract). The declaration takes effect on
  * the NEXT full-table write — an OPTIMIZE right after is the usual
  * second step.
  */
case class GraftClusterByCommand(path: String, columns: Seq[String],
                                 numBuckets: Int,
                                 sortColumns: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.setBucketing(spark, path, columns, numBuckets,
      sortColumns)
    Seq.empty
  }
}

/** `DESCRIBE DETAIL graft.`path`` — one operational-metadata row for
  * the head snapshot (the Delta verb shape): current version, live
  * file count and bytes, partition layout, number of partition tuples,
  * named CHECK constraints, and the version-0 / head commit
  * timestamps. Manifest + sidecar metadata only — zero data read.
  */
case class GraftDetailCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("num_partitions", LongType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("created_ts_millis", LongType, nullable = true)(),
    AttributeReference("last_commit_ts_millis", LongType, nullable = true)(),
    AttributeReference("num_deletion_vectors", LongType, nullable = false)(),
    AttributeReference("mv_source", StringType, nullable = true)(),
    AttributeReference("mv_refreshed_version", IntegerType,
      nullable = true)(),
    AttributeReference("mv_last_refresh_mode", StringType,
      nullable = true)(),
    AttributeReference("mv_rewrite_enabled", BooleanType,
      nullable = true)(),
    AttributeReference("bucket_spec", StringType, nullable = true)(),
    AttributeReference("bucket_status", StringType, nullable = true)(),
    AttributeReference("sort_status", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val vs = VersionedTable.versions(spark, path)
    require(vs.nonEmpty, s"no versioned table at $path")
    val head = vs.max
    // materialized view? surface its source + watermark (the "is my
    // rollup stale" probe) — null columns for ordinary tables
    val mv = scala.util.Try(
      graft.catalog.MaterializedView.sourcePath(spark, path)).toOption
    val mvV = mv.map(_ =>
      graft.catalog.MaterializedView.refreshedVersion(spark, path))
    // sizes through the Hadoop FS abstraction (java.io.File would read
    // 0 for every file on hdfs:// or s3a://), manifest metadata only —
    // no relation is even built
    val (nFiles, bytes) = VersionedTable.snapshotSize(spark, path, head)
    val layout = VersionedTable.layoutPartitionCols(spark, path)
    val nParts =
      if (layout.isEmpty) 0L
      else VersionedTable.partitions(spark, path).size.toLong
    val checks = VersionedTable.constraints(spark, path)
      .map { case (n, c) => s"$n CHECK ($c)" }.toSeq.sorted.mkString("; ")
    val hist = VersionedTable.history(spark, path)
      .select("version", "ts_millis").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Seq(Row(path, head, nFiles, bytes,
      layout.mkString(", "), nParts, checks,
      hist.get(vs.min).map(java.lang.Long.valueOf).orNull,
      hist.get(head).map(java.lang.Long.valueOf).orNull,
      VersionedTable.deletionVectorCount(spark, path, head),
      mv.orNull,
      mvV.map(java.lang.Integer.valueOf).orNull,
      // the maintenance-path seam is JVM-local observability: null
      // until some refresh in THIS process recorded a mode
      mv.map(_ => graft.catalog.MaterializedView.lastRefreshModeFor(path))
        .filter(_.nonEmpty).orNull,
      // JVM-local like the refresh mode: is this view opted into
      // automatic aggregate rewrite right now (null for non-views)
      mv.map(_ => java.lang.Boolean.valueOf(
        graft.catalog.MaterializedView.rewriteEnabledFor(path))).orNull,
      VersionedTable.bucketDecl(spark, path)
        .map { d =>
          s"${d.cols.mkString(",")}" +
            (if (d.sortCols.isEmpty) ""
             else s" SORTED BY (${d.sortCols.mkString(",")})") +
            s" INTO ${d.n} BUCKETS"
        }.orNull,
      VersionedTable.bucketClaimStatus(spark, path).orNull,
      // null when no SORTED BY is declared; independent of the bucket
      // claim — "a dropped sort is visible without reading plans"
      VersionedTable.sortClaimStatus(spark, path).orNull))
  }
}

/** `SHOW PARTITIONS graft.`path`` — the distinct partition tuples of
  * the head snapshot in hive path form (`lang=en/bucket=1`), straight
  * from manifest metadata (zero data bytes read). Fails loud on an
  * unpartitioned table, Spark's own contract for the statement.
  */
case class GraftShowPartitionsCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val parts = VersionedTable.partitions(spark, path)
    require(parts.nonEmpty,
      s"SHOW PARTITIONS: table at $path is not partitioned")
    parts.map(Row(_))
  }
}

case class GraftHistoryCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("ts_millis", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.history(spark, path).collect().toSeq
}
