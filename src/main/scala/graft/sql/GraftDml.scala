package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.types.IntegerType

import graft.catalog.VersionedTable

/** SQL DML on versioned tables: `INSERT INTO` / `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` served as engine commands.
  *
  * Spark's OWN parser already produces typed plans for all four
  * statements (`InsertIntoStatement`, `DeleteFromTable`, `UpdateTable`,
  * `MergeIntoTable` — the DSv2 shapes); this layer claims those plans
  * when the target is a graft table (a `` graft.`/path` `` ref or a
  * catalog table `USING graft`) and rewrites them onto the engine's
  * commit verbs, so the full statement grammar (quoting, subqueries,
  * expression syntax) comes from Spark and only the execution is ours —
  * the published connector shape (Delta's DeltaAnalysis claims exactly
  * these nodes).
  *
  * This layer is also the WRITE-POSITION GUARD: without it, the
  * parser's read-path rewrite of `` graft.`path` `` refs would let
  * Spark plan `INSERT INTO graft.`path`` as a direct parquet write
  * into the snapshot relation's root — bypassing the manifest commit
  * protocol, invisible to every read, and swept by vacuum as orphans.
  * A graft target in a write position is therefore either claimed here
  * or failed loud ([[GraftDml.guardWrites]]); it is never left for the
  * generic relation rewrite.
  *
  * Reference scope: the reference's entire mutation surface is SQL
  * strings handed to its store
  * (/root/reference/scripts/wiki/__init__.py:149-216) — a user coming
  * from it expects `INSERT`/`UPDATE`/`DELETE`/`MERGE` to be
  * statements, not Scala calls.
  */
object GraftDml {

  /** The graft table a DML node targets: (path, statement alias,
    * catalog name parts when the ref was a NAME). None when the target
    * is not a graft table (the statement belongs to Spark).
    */
  private def graftTarget(session: SparkSession, table: LogicalPlan)
      : Option[(String, Option[String], Option[Seq[String]])] = {
    val (alias, rel) = table match {
      case SubqueryAlias(id, u: UnresolvedRelation) => (Some(id.name), u)
      case u: UnresolvedRelation => (None, u)
      case _ => return None
    }
    val parts = rel.multipartIdentifier
    if (parts.length == 2 && parts.head.equalsIgnoreCase("graft"))
      Some((parts(1), alias, None))
    else
      SqlBridge.graftTablePath(session, parts)
        .map(p => (p, alias, Some(parts)))
  }

  /** Canonicalize an expression's alias qualifiers to the `t`/`s`
    * aliases [[VersionedTable.mergeWhen]] binds, then render it back to
    * SQL (the engine verbs take SQL-string conditions so the surface
    * and the Scala API share one contract).
    */
  private def toTs(e: Expression, tgt: Option[String],
                   src: Option[String]): String =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          tgt.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute("t" +: a.nameParts.tail)
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          src.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute("s" +: a.nameParts.tail)
    }.sql

  /** Drop the statement's table alias from a single-table condition
    * (DELETE / UPDATE run against the bare table frame).
    */
  private def unqualify(e: Expression, alias: Option[String]): String =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length >= 2 &&
          alias.exists(_.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(a.nameParts.tail)
    }.sql

  private def isTrueLiteral(e: Expression): Boolean = e match {
    case Literal(true, _) => true
    case _ => false
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft DML: $msg")

  /** Claim a delegate-parsed statement whose target is a graft table.
    * Returns the engine command plan, the ORIGINAL plan when the
    * statement does not target a graft table, or fails loud for a
    * graft-targeted shape the engine cannot honor (never falls through
    * — a fallen-through graft write would bypass the commit protocol).
    */
  def claim(session: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan match {
      case i: InsertIntoStatement =>
        graftTarget(session, i.table).map { case (path, _, _) =>
          if (i.partitionSpec.values.exists(_.isEmpty))
            fail("dynamic PARTITION specs are not supported on graft " +
              "tables — partitioning is the table's own layout; " +
              "INSERT the partition column as data, or use " +
              "INSERT OVERWRITE ... PARTITION (c='v') for a scoped " +
              "replace")
          GraftInsertCommand(path,
            GraftSqlParser.resolveGraftPaths(session, i.query),
            overwrite = i.overwrite, byName = i.byName,
            userCols = i.userSpecifiedCols,
            staticSpec = i.partitionSpec.toSeq.map {
              case (c, v) => (c, v.get) })
        }.getOrElse(plan)
      case d: DeleteFromTable =>
        graftTarget(session, d.table).map { case (path, alias, _) =>
          val where =
            if (isTrueLiteral(d.condition)) None
            else Some(unqualify(d.condition, alias))
          GraftDeleteCommand(path, where)
        }.getOrElse(plan)
      case u: UpdateTable =>
        graftTarget(session, u.table).map { case (path, alias, _) =>
          val set = u.assignments.map { a =>
            val k = a.key match {
              case att: UnresolvedAttribute => att.nameParts.last
              case other => fail(s"unsupported UPDATE assignment " +
                s"target: ${other.sql}")
            }
            (k, unqualify(a.value, alias))
          }
          GraftUpdateCommand(path, set,
            u.condition.filterNot(isTrueLiteral)
              .map(unqualify(_, alias)))
        }.getOrElse(plan)
      case m: MergeIntoTable =>
        graftTarget(session, m.targetTable).map { case (path, tAlias, _) =>
          claimMerge(session, m, path, tAlias)
        }.getOrElse(plan)
      case ctas: CreateTableAsSelect => claimCtas(session, ctas)
      case _ => plan
    }

  /** `CREATE TABLE ... USING graft PARTITIONED BY (c1, c2)
    * [CLUSTERED BY (c) INTO n BUCKETS] AS SELECT`: Spark's DSv1 CTAS
    * path hands a CreatableRelationProvider the query and options but
    * SILENTLY DROPS the partitioning and bucketing — the created table
    * would lose its hive layout (and its partition pruning) and its
    * bucket declaration with no error. Claim the shape instead: strip
    * the transforms and carry them as the `partitionCols` /
    * `bucketSpec` writer options the engine write path honors, so the
    * CTAS lands the declared layout (hive dirs, bucket-arranged files,
    * per-dir layout sidecar — multi-column CLUSTERED BY and SORTED BY
    * included) in one statement. Other transforms (days(), hours(),
    * ...) fail loud.
    */
  private def claimCtas(session: SparkSession,
                        ctas: CreateTableAsSelect): LogicalPlan =
    ctas.tableSpec match {
      case spec: UnresolvedTableSpec
          if spec.provider.exists(_.equalsIgnoreCase("graft")) &&
            ctas.partitioning.nonEmpty =>
        val (bucketTs, identTs) = ctas.partitioning.partition(t =>
          Set("bucket", "sorted_bucket").contains(t.name))
        val cols = identTs.map { t =>
          if (t.name != "identity" || t.references.length != 1 ||
              t.references.head.fieldNames.length != 1)
            fail("graft CTAS supports PARTITIONED BY on plain columns " +
              s"only — got transform: $t")
          t.references.head.fieldNames.head
        }
        val bucketOpt = bucketTs match {
          case Seq() => None
          case Seq(t) =>
            val (n, bcols, scols) = org.apache.spark.sql.graft.SqlBridge
              .bucketTransformOf(t).getOrElse(fail(
                "graft CTAS supports CLUSTERED BY (cols…) [SORTED BY " +
                  s"(cols…)] on plain columns only — got: $t"))
            Some(s"cols=${bcols.mkString(",")};n=$n" +
              (if (scols.isEmpty) "" else s";sorted=${scols.mkString(",")}"))
          case many =>
            fail(s"one CLUSTERED BY clause allowed — got: $many")
        }
        ctas.copy(
          partitioning = Nil,
          query = GraftSqlParser.resolveGraftPaths(session, ctas.query),
          tableSpec = spec.copy(optionExpression = OptionList(
            spec.optionExpression.options ++
              (if (cols.isEmpty) Nil
               else Seq("partitionCols" -> Literal(cols.mkString(",")))) ++
              bucketOpt.map(b => "bucketSpec" -> Literal(b)))))
      case _ => ctas
    }

  private def claimMerge(session: SparkSession, m: MergeIntoTable,
                         path: String, tAlias: Option[String])
      : LogicalPlan = {
    import graft.catalog.VersionedTable._
    val (sAlias, sourcePlan) = m.sourceTable match {
      case sa @ SubqueryAlias(id, _) => (Some(id.name), sa: LogicalPlan)
      case other => (None, other)
    }
    // the engine merge is KEYED: the ON condition must be one equality
    // on the same-named column of both sides
    val keyCol = m.mergeCondition match {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
        l.nameParts.last
      case other => fail("MERGE ON must be a single same-column " +
        s"equality (t.key = s.key) — got: ${other.sql}")
    }
    def assignTarget(a: Assignment): String = a.key match {
      case att: UnresolvedAttribute => att.nameParts.last
      case other => fail(s"unsupported SET/INSERT target: ${other.sql}")
    }
    // ordered clause lists, first-match-wins per row — the engine
    // honors the statement's own clause order
    val matched: Seq[MergeMatched] = m.matchedActions.map {
      case DeleteAction(cond) =>
        MatchedDelete(cond.map(toTs(_, tAlias, sAlias)))
      case ua: UpdateAction =>
        MatchedUpdate(ua.condition.map(toTs(_, tAlias, sAlias)),
          Some(ua.assignments.map(a =>
            (assignTarget(a), toTs(a.value, tAlias, sAlias)))))
      case u: UpdateStarAction =>
        MatchedUpdate(u.condition.map(toTs(_, tAlias, sAlias)), None)
      case other => fail(s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched: Seq[MergeInsert] = m.notMatchedActions.map {
      case InsertStarAction(cond) =>
        MergeInsert(cond.map(toTs(_, tAlias, sAlias)), None)
      case ia: InsertAction =>
        MergeInsert(ia.condition.map(toTs(_, tAlias, sAlias)),
          Some(ia.assignments.map(a =>
            (assignTarget(a), toTs(a.value, tAlias, sAlias)))))
      case other => fail(s"unsupported WHEN NOT MATCHED action: $other")
    }
    // BY SOURCE clauses see no source row: a source reference is a
    // statement bug — fail it loud here, where the alias is still known
    def noSourceRefs(e: Expression, what: String): Expression = {
      val bad = e.exists {
        case a: UnresolvedAttribute => a.nameParts.length >= 2 &&
          sAlias.exists(_.equalsIgnoreCase(a.nameParts.head))
        case _ => false
      }
      if (bad) fail("WHEN NOT MATCHED BY SOURCE " + what +
        s" cannot reference the source: ${e.sql}")
      e
    }
    val bySource: Seq[MergeBySource] = m.notMatchedBySourceActions.map {
      case DeleteAction(cond) =>
        BySourceDelete(cond.map(c =>
          unqualify(noSourceRefs(c, "condition"), tAlias)))
      case ua: UpdateAction =>
        BySourceUpdate(
          ua.condition.map(c =>
            unqualify(noSourceRefs(c, "condition"), tAlias)),
          ua.assignments.map(a => (assignTarget(a),
            unqualify(noSourceRefs(a.value, "value"), tAlias))))
      case other =>
        fail(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    GraftMergeCommand(path,
      GraftSqlParser.resolveGraftPaths(session, sourcePlan), keyCol,
      matched, notMatched, bySource, evolve = m.withSchemaEvolution)
  }

  /** Fail loud on any graft ref left in a WRITE position after
    * [[claim]] — a nested/exotic shape the claim did not take must
    * never reach the generic read rewrite (it would plan a raw file
    * write that bypasses the commit protocol).
    */
  def guardWrites(session: SparkSession, plan: LogicalPlan): Unit = {
    def check(table: LogicalPlan, stmt: String): Unit =
      if (graftTarget(session, table).isDefined)
        fail(s"$stmt on a graft table is only supported as a top-level " +
          "statement (or write through df.write.format(\"graft\"))")
    plan.foreach {
      case i: InsertIntoStatement => check(i.table, "INSERT")
      case d: DeleteFromTable => check(d.table, "DELETE")
      case u: UpdateTable => check(u.table, "UPDATE")
      case m: MergeIntoTable => check(m.targetTable, "MERGE")
      case _ => ()
    }
  }
}

/** `INSERT INTO | INSERT OVERWRITE` through the manifest commit
  * protocol: append (or snapshot-replace) the query's rows, aligned to
  * the table schema — by position (SQL default; arity-checked, in the
  * table's `SELECT *` column order, where a hive partition column
  * reads LAST — so `INSERT INTO t SELECT * FROM t` always
  * round-trips), by name (`BY NAME` / an explicit column list, order-
  * free), missing listed-insert
  * columns null-filled and every value cast to the table column's type
  * (store assignment). The table's hive partition layout is preserved
  * ([[VersionedTable.layoutPartitionCols]]). On a path with no table
  * yet, INSERT creates version 0 (CTAS-by-INSERT).
  *
  * A STATIC `PARTITION (c='v', ...)` spec injects the named values as
  * literal columns (the query provides the remaining columns, SQL
  * standard); on `INSERT OVERWRITE` the spec additionally SCOPES the
  * replace to exactly those partitions
  * ([[VersionedTable.replaceWhere]] — untouched partitions carry
  * forward by manifest reference, the idempotent-backfill verb),
  * where a bare `INSERT OVERWRITE` replaces the whole table. Returns
  * the committed version.
  */
case class GraftInsertCommand(path: String, query: LogicalPlan,
                              overwrite: Boolean, byName: Boolean,
                              userCols: Seq[String],
                              staticSpec: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    var df = SqlBridge.ofRows(spark, query)
    if (userCols.nonEmpty) {
      require(userCols.size == df.columns.length,
        s"INSERT column list names ${userCols.size} column(s) but the " +
          s"query produces ${df.columns.length}")
      require(!staticSpec.exists(s => userCols.exists(
        _.equalsIgnoreCase(s._1))),
        "a column appears in both the INSERT list and the PARTITION spec")
      df = df.toDF(userCols: _*)
    }
    // a query already producing a spec-named column would be silently
    // REPLACED in place by the literal injection below — and the
    // positional rename would then bind values to the wrong columns.
    // Fail loud instead (the userCols path has its own overlap check).
    if (userCols.isEmpty)
      staticSpec.foreach { case (c, _) =>
        require(!df.columns.exists(_.equalsIgnoreCase(c)),
          s"the INSERT query already produces column '$c' named in " +
            "the PARTITION spec — drop it from the query (the spec " +
            "provides its value) or insert it as data without a spec")
      }
    // static partition values become literal columns BEFORE alignment,
    // so the positional arity check counts only the query's columns
    staticSpec.foreach { case (c, v) => df = df.withColumn(c, lit(v)) }
    val exists = scala.util.Try(VersionedTable.versions(spark, path))
      .toOption.exists(_.nonEmpty)
    if (exists) {
      val table = VersionedTable.logicalSchema(spark, path)
      // IDENTITY/GENERATED columns are DERIVED by the append path — a
      // positional INSERT doesn't count them, and an unlisted derived
      // column is left ABSENT (never null-filled) so the commit
      // assigns/computes values; supply explicit values through a
      // column list / BY NAME (generated values are then validated by
      // the auto CHECK)
      val idCols = VersionedTable.identityColumns(spark, path).keySet ++
        VersionedTable.generatedColumns(spark, path).keySet
      val named =
        if (byName || userCols.nonEmpty) df
        else {
          // positional: the query provides the non-spec columns in the
          // table's SELECT * order; spec columns were appended above
          val specNames = staticSpec.map(_._1)
          val positional = table.fieldNames.toSeq.filterNot(n =>
            specNames.exists(_.equalsIgnoreCase(n)) || idCols.contains(n))
          require(df.columns.length - specNames.length ==
            positional.length,
            s"INSERT by position needs ${positional.length} column(s) " +
              s"(${positional.mkString(", ")}), got " +
              (df.columns.length - specNames.length))
          df.toDF(positional ++ specNames: _*)
        }
      val extra = named.columns.filterNot(c =>
        table.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(extra.isEmpty,
        s"INSERT column(s) not in the table: ${extra.mkString(", ")}")
      df = named.select(table.fields.toSeq.flatMap { f =>
        named.columns.find(_.equalsIgnoreCase(f.name)) match {
          case Some(c) => Some(col(c).cast(f.dataType).as(f.name))
          case None if idCols.contains(f.name) => None // minted on commit
          case None =>
            require(userCols.nonEmpty || byName,
              s"positional INSERT is missing column ${f.name}")
            Some(lit(null).cast(f.dataType).as(f.name))
        }
      }: _*)
    }
    // CTAS-by-INSERT with a PARTITION spec: the statement's own spec
    // declares the layout of the table it creates
    val pcols =
      if (exists) VersionedTable.layoutPartitionCols(spark, path)
      else staticSpec.map(_._1)
    val v =
      if (overwrite && exists && staticSpec.nonEmpty)
        // scoped replace: exactly the named partitions swap, the rest
        // of the table travels by manifest reference
        VersionedTable.replaceWhere(df, path,
          staticSpec.map { case (c, v0) =>
            s"`$c` = '${v0.replace("'", "''")}'" }.mkString(" AND "))
      else if (overwrite || !exists) VersionedTable.commit(df, path, pcols)
      else VersionedTable.append(df, path, pcols)
    Seq(Row(v))
  }
}

/** `DELETE FROM` → [[VersionedTable.deleteWhere]] (file-pruned
  * predicate delete; bare DELETE is a metadata-only truncate). With
  * session conf `spark.graft.deletionVectors = true`, a predicate
  * delete commits a DELETION VECTOR instead of rewriting the touched
  * files — merge-on-read, zero data files written (the 100 TB
  * point-delete shape; OPTIMIZE folds the vectors back into plain
  * files). Returns the committed version.
  */
case class GraftDeleteCommand(path: String, where: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dv = spark.conf
      .getOption("spark.graft.deletionVectors").exists(_.toBoolean)
    Seq(Row(VersionedTable.deleteWhere(spark, path, where,
      partitionCols = VersionedTable.layoutPartitionCols(spark, path),
      dv = dv)))
  }
}

/** `UPDATE ... SET ... [WHERE ...]` → [[VersionedTable.updateWhere]]
  * (file-pruned predicate update). With session conf
  * `spark.graft.deletionVectors = true` and a WHERE clause, the update
  * is MERGE-ON-READ: matched positions commit as a deletion vector and
  * only the updated rows are written. Returns the committed version.
  */
case class GraftUpdateCommand(path: String, set: Seq[(String, String)],
                              where: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dv = spark.conf
      .getOption("spark.graft.deletionVectors").exists(_.toBoolean)
    Seq(Row(VersionedTable.updateWhere(spark, path, set, where,
      partitionCols = VersionedTable.layoutPartitionCols(spark, path),
      dv = dv)))
  }
}

/** `MERGE INTO` → [[VersionedTable.mergeClauses]] (keyed, file-pruned
  * two-phase rewrite; ordered first-match-wins clause lists — the full
  * statement surface including `WHEN NOT MATCHED BY SOURCE`, multiple
  * `WHEN MATCHED` clauses and conditional column-list inserts).
  * Matched/insert conditions and values arrive canonicalized to the
  * engine's `t`/`s` aliases; BY SOURCE clauses arrive in bare target
  * names. Returns the committed version.
  */
case class GraftMergeCommand(path: String, source: LogicalPlan,
                             keyCol: String,
                             matched: Seq[VersionedTable.MergeMatched],
                             notMatched: Seq[VersionedTable.MergeInsert],
                             bySource: Seq[VersionedTable.MergeBySource],
                             evolve: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = SqlBridge.ofRows(spark, source)
    // same session gate as DELETE/UPDATE: merge-on-read when
    // deletion vectors are enabled (bulk merges past the vector cap
    // still fall back to the file-pruned rewrite inside the verb)
    val dv = spark.conf
      .getOption("spark.graft.deletionVectors").exists(_.toBoolean)
    Seq(Row(VersionedTable.mergeClauses(src, path, keyCol,
      matched, notMatched, bySource,
      partitionCols = VersionedTable.layoutPartitionCols(spark, path),
      evolveSchema = evolve, dv = dv)))
  }
}
