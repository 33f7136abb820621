package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Seeded property sweep for the change-consumer walk: random commit
  * histories mixing appends, predicate deletes, DV deletes, updates,
  * OPTIMIZE and small-file compaction — then, over random windows,
  *
  *  1. the per-version feed REPLAYS: state(since) + inserts − deletes
  *     must equal state(to) as multisets, with maintenance versions
  *     contributing nothing;
  *  2. whenever `changeRemovals` reports an append-only window (zero —
  *     including windows whose only rewrites are maintenance),
  *     `changes()` must deliver exactly the window's new rows;
  *  3. the netted `tableChanges(since, to)` nets to state(to) −
  *     state(since): state(since) − deletes + inserts = state(to).
  *
  * Each seed runs twice: over flat histories, and over histories whose
  * rows carry a partition column `p` drawn from {"a", "new york"} — a
  * value the scan reports URI-encoded (`new%20york`) beside one it does
  * not — with every verb naming that partition column.
  *
  * The row-level oracle is an in-memory multiset model maintained
  * beside the table — the walk's equivalence threading can't drift
  * from it without failing here.
  */
class ChangeWalkSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (id, v, p); p is null in a flat history. */
  private type RowT = (Long, Long, String)

  test("random histories: feed replays exactly; clean windows deliver only new rows") {
    sweep(partitioned = false)
  }

  test("random partitioned histories: feed replays exactly; clean windows deliver only new rows") {
    sweep(partitioned = true)
  }

  // a flat OPTIMIZE of a partitioned table leaves a mixed layout once a
  // partitioned append follows; the predicate verbs find their files
  // through the same scan as read, one relation per layout
  test("a predicate delete after a flat OPTIMIZE and a partitioned append") {
    val t = graft.Caches.newTempDir("walk_mixed").toString + "/t"
    VersionedTable.commit(Seq((1L, "a"), (2L, "new york")).toDF("id", "p"),
      t, Seq("p"))
    VersionedTable.optimize(spark, t)
    VersionedTable.append(Seq((3L, "a")).toDF("id", "p"), t, Seq("p"))
    VersionedTable.deleteWhere(spark, t, Some("id = 1"))
    assert(VersionedTable.read(spark, t).select("id", "p")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "new york"), (3L, "a")))
  }

  private def sweep(partitioned: Boolean): Unit =
    for (seed <- Seq(11, 47)) {
      val rng = new scala.util.Random(seed)
      val layout = if (partitioned) "p" else "flat"
      val t = graft.Caches.newTempDir(s"walk_sweep_${layout}_$seed")
        .toString + "/t"
      val parts = if (partitioned) Seq("p") else Nil
      val cols = Seq("id", "v") ++ parts
      var nextId = 0L
      def fresh(k: Int): Seq[RowT] = {
        val rs = (0 until k).map(i => (nextId + i, (nextId + i) * 10,
          if (!partitioned) null
          else if (rng.nextBoolean()) "a" else "new york"))
        nextId += k
        rs
      }
      def frame(rows: Seq[RowT]) =
        rows.toDF("id", "v", "p").select(cols.map(col): _*)
      def rowsOf(df: org.apache.spark.sql.DataFrame): Set[RowT] =
        df.select(cols.map(col): _*).collect().map(r => (r.getLong(0),
          r.getLong(1), if (partitioned) r.getString(2) else null)).toSet
      // state(v) = the table's row multiset at version v
      val states = scala.collection.mutable.ArrayBuffer.empty[Set[RowT]]
      def commitState(rows: Set[RowT]): Unit = {
        val head = VersionedTable.versions(spark, t).max
        // maintenance verbs may skip committing (nothing to fold):
        // record one state per ACTUAL version
        while (states.size <= head) states += rows
      }
      VersionedTable.commit(frame(fresh(6)).repartition(2, col("id")), t,
        parts)
      states += rowsOf(VersionedTable.read(spark, t))
      (1 to 12).foreach { _ =>
        val cur = states.last
        rng.nextInt(6) match {
          case 0 | 1 =>
            val rows = fresh(1 + rng.nextInt(3))
            VersionedTable.append(frame(rows), t, parts)
            commitState(cur ++ rows)
          case 2 =>
            if (cur.nonEmpty) {
              val victim = cur.toSeq(rng.nextInt(cur.size))._1
              VersionedTable.deleteWhere(spark, t,
                Some(s"id = $victim"), parts, dv = rng.nextBoolean())
              commitState(cur.filterNot(_._1 == victim))
            }
          case 3 =>
            if (cur.nonEmpty) {
              val victim = cur.toSeq(rng.nextInt(cur.size))._1
              VersionedTable.updateWhere(spark, t,
                Seq("v" -> "v + 1"), Some(s"id = $victim"), parts,
                dv = rng.nextBoolean())
              commitState(cur.map { case (i, v, p) =>
                if (i == victim) (i, v + 1, p) else (i, v, p) })
            }
          case 4 =>
            VersionedTable.optimize(spark, t, parts)
            commitState(cur)
          case 5 =>
            VersionedTable.compactSmallFiles(spark, t,
              targetFileBytes = 1024L * 1024)
            commitState(cur)
        }
      }
      val head = VersionedTable.versions(spark, t).max
      assert(states.size == head + 1,
        s"model drifted from the version ladder: ${states.size} vs $head")
      // random windows: replay + clean-window delivery
      (1 to 8).foreach { _ =>
        val since = rng.nextInt(head)
        val to = since + 1 + rng.nextInt(head - since)
        val feed = VersionedTable.changeFeed(spark, t, since + 1, to)
          .select((cols ++ Seq("_change_type", "_commit_version")).map(col): _*)
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1),
            if (partitioned) r.getString(2) else null),
            r.getString(cols.size), r.getInt(cols.size + 1)))
        // replay IN COMMIT ORDER, deletes before inserts within a
        // version (a file rewrite emits both for its surviving rows)
        val replayed = feed.groupBy(_._3).toSeq.sortBy(_._1)
          .foldLeft(states(since)) { case (st, (_, evs)) =>
            val dels = evs.filter(_._2 == "delete").map(_._1)
            val inss = evs.filter(_._2 == "insert").map(_._1)
            dels.foreach(d => assert(st(d),
              s"[$seed] delete of absent row $d in window ($since,$to]"))
            st -- dels ++ inss
          }
        if (replayed != states(to)) {
          VersionedTable.history(spark, t).orderBy("version").collect()
            .foreach(r => System.err.println(s"[sweep] $r"))
          feed.sortBy(f => (f._3, f._1._1)).foreach(f =>
            System.err.println(s"[sweep] feed $f"))
          System.err.println(s"[sweep] state($since)=${states(since).toSeq.sortBy(_._1)}")
          System.err.println(s"[sweep] state($to)=${states(to).toSeq.sortBy(_._1)}")
        }
        assert(replayed == states(to),
          s"[$seed] feed replay diverged on window ($since,$to]")
        if (VersionedTable.changeRemovals(spark, t, since, to) == 0) {
          val ch = VersionedTable.changes(spark, t, since, to)
          val delivered =
            if (ch.columns.isEmpty) Set.empty[RowT]
            else rowsOf(ch)
          assert(delivered == states(to) -- states(since),
            s"[$seed] clean window ($since,$to] delivered $delivered " +
              s"but the new rows are ${states(to) -- states(since)}")
        }
        // the netted diff: a rewrite's unchanged rows cancel out
        val bag = scala.collection.mutable.Map.empty[RowT, Int]
          .withDefaultValue(0)
        states(since).foreach(r => bag(r) += 1)
        val net = VersionedTable.tableChanges(spark, t, since, to)
        if (net.columns.nonEmpty)
          net.select((cols :+ "_change_type").map(col): _*).collect()
            .foreach { r =>
              bag((r.getLong(0), r.getLong(1),
                if (partitioned) r.getString(2) else null)) +=
                (if (r.getString(cols.size) == "insert") 1 else -1)
            }
        assert(bag.filter(_._2 != 0).toMap == states(to).map(_ -> 1).toMap,
          s"[$seed] tableChanges($since, $to) does not net to state($to)")
      }
    }
}
