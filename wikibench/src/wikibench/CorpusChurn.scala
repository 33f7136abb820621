package wikibench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.{MaterializedView, VersionedTable}
import graft.ext.Dedup
import graft.fts.FtsStore

/** corpus_churn: incremental LLM-corpus ingest. Set-up creates a
  * partitioned `VersionedTable` of documents, an `FtsStore`, a dedup
  * signature store and a count/sum `MaterializedView` over the table.
  * Each round is one batch of generated documents, with the same calls in
  * every round: a dedup probe, a merge of the survivors plus updates, a
  * deletion-vector delete, a whole-partition merge, the signature and
  * text appends and the view refresh; then the five reads, three times
  * over with fresh keys.
  * Every read is compared with an in-memory model of the table, version
  * by version.
  */
final class CorpusChurn(spark: SparkSession, seed: Long, work: String) extends Workload {
  import spark.implicits._

  private val initialDocs = 400
  private val batchDocs = 16
  private val plantedDups = 4
  private val updates = 6
  private val readRepeats = 3 // rounds of the five reads: the first pays first-call costs
  private val parts = 4
  // store sizing for a corpus of a few thousand documents: the signature
  // store's partition count and the text index's bucket count follow the
  // engine's guidance of scaling them with the corpus
  private val sigParts = 4
  private val bands = 8
  private val hashes = 32
  private val ftsBuckets = 8

  private final case class Doc(part: Int, score: Long, rev: Int, text: String)

  private var dir: String = _
  private def table = s"$dir/table"
  private def fts = s"$dir/fts"
  private def sigs = s"$dir/sigs"
  private def view = s"$dir/view"

  private var rnd: SplittableRandom = _
  private var docs: Gen.Docs = _
  // the model: table snapshots by version, commit times, and the stores
  private val versions = mutable.HashMap.empty[Int, Map[Long, Doc]]
  private val committedAt = mutable.HashMap.empty[Int, Long]
  private val commitOp = mutable.HashMap.empty[Int, String]
  private var head = 0
  private var ftsTexts = Map.empty[Long, String]
  private var sigIds = Vector.empty[Long]
  private var nextId = 1L
  private var planted = 0L
  private var newDocs = 0L
  private var round = 0

  private def frame(rows: Seq[(Long, Doc)]): DataFrame =
    rows.map { case (id, d) => (id, d.part, d.score, d.rev, d.text) }
      .toDF("doc_id", "part", "score", "rev", "text")

  def setup(d: String): Unit = {
    dir = d
    rnd = new SplittableRandom(seed)
    docs = new Gen.Docs(seed)
    versions.clear(); committedAt.clear(); commitOp.clear()
    val init = (1L to initialDocs).map(id =>
      id -> Doc((id % parts).toInt, rnd.nextInt(1000).toLong, 0, docs.text(rnd)))
    nextId = initialDocs + 1L
    val df = frame(init)
    head = VersionedTable.commit(df, table, Seq("part"))
    versions(head) = init.toMap
    committedAt(head) = System.currentTimeMillis()
    FtsStore.create(df, "doc_id", Seq("text"), fts, ftsBuckets)
    Dedup.appendSignatureStore(df, "doc_id", "text", sigs, numHashes = hashes,
      bands = bands, storeParts = sigParts)
    MaterializedView.create(spark, table, view, Seq("part"),
      Seq(MaterializedView.AggDef("count", "*", "n"),
        MaterializedView.AggDef("sum", "score", "total")))
    ftsTexts = init.map { case (id, d) => id -> d.text }.toMap
    sigIds = init.map(_._1).toVector
    planted = 0; newDocs = 0; round = 0
  }

  def tracedRounds: Int = 1

  private def commit(h: Harness, op: String)(body: => Int)(next: Map[Long, Doc]): Unit =
    h.call(op)(body) { v =>
      if (v == head + 1) None else Some(s"committed version $v after $head")
    }.foreach { v =>
      committedAt(v) = System.currentTimeMillis()
      commitOp(v) = op
      versions(v) = next
      head = v
    }

  private def pickLive(n: Int): Seq[Long] = {
    val live = versions(head).keys.toVector.sorted
    Seq.fill(n)(live(rnd.nextInt(live.size))).distinct
  }

  def step(h: Harness): Unit = {
    val start = head
    // the batch: fresh documents, some planted near-duplicates of stored ones
    val originals = Seq.fill(plantedDups)(sigIds(rnd.nextInt(sigIds.size))).distinct
    val batch = (originals.map(o => docs.nearDuplicate(ftsTexts(o), rnd)) ++
      Seq.fill(batchDocs - originals.size)(docs.text(rnd))).map { t =>
      val id = nextId; nextId += 1
      id -> Doc((id % parts).toInt, rnd.nextInt(1000).toLong, 0, t)
    }
    val dupIds = batch.take(originals.size).map(_._1).toSet
    planted += dupIds.size; newDocs += batch.size
    val batchDf = frame(batch)

    val flagged = h.call("ext.dedup_probe")(
      Dedup.dedupAgainstStore(spark, sigs, batchDf, "doc_id", "text",
        numHashes = hashes, bands = bands, storeParts = sigParts).collect()) { rows =>
      val got = rows.map(_.getAs[Long]("batch_id")).toSet
      val weak = rows.filter(r =>
        Gen.jaccard(ftsTexts.getOrElse(r.getAs[Long]("store_id"), ""),
          batch.toMap.get(r.getAs[Long]("batch_id")).map(_.text).getOrElse("")) < 0.5)
      if (got != dupIds) Some(s"flagged ${got.size} documents, planted ${dupIds.size}")
      else if (weak.nonEmpty) Some(s"${weak.length} flagged pairs are not near-duplicates")
      else None
    }.map(_.map(_.getAs[Long]("batch_id")).toSet).getOrElse(dupIds)
    val survivors = batch.filterNot { case (id, _) => flagged(id) }

    // the merge of the survivors plus updates to a few live documents
    val cur = versions(head)
    val ups = pickLive(updates).map { id =>
      val d = cur(id); id -> d.copy(score = d.score + 1, rev = d.rev + 1) }
    val rows = survivors ++ ups
    commit(h, "catalog.merge")(
      VersionedTable.merge(frame(rows), table, "doc_id", Seq("part")))(cur ++ rows)

    // a deletion-vector delete of a few live documents
    val dels = pickLive(updates)
    commit(h, "catalog.delete_dv")(VersionedTable.deleteWhere(spark, table,
      Some(s"doc_id IN (${dels.mkString(",")})"), Seq("part"), dv = true))(
      versions(head) -- dels)

    // a whole-partition merge: every live document of one partition changes
    val p = round % parts
    round += 1
    val whole = versions(head).collect { case (id, d) if d.part == p =>
      id -> d.copy(score = d.score + 1, rev = d.rev + 1) }.toSeq.sortBy(_._1)
    commit(h, "catalog.merge_large")(
      VersionedTable.merge(frame(whole), table, "doc_id", Seq("part")))(versions(head) ++ whole)

    val survivorDf = frame(survivors)
    h.call("ext.sig_append")(
      Dedup.appendSignatureStore(survivorDf, "doc_id", "text", sigs,
        numHashes = hashes, bands = bands, storeParts = sigParts))(_ => None)
      .foreach(_ => sigIds ++= survivors.map(_._1))
    h.call("fts.append")(
      FtsStore.append(survivorDf.select("doc_id", "text"), "doc_id", Seq("text"), fts))(_ => None)
      .foreach(_ => ftsTexts ++= survivors.map { case (id, d) => id -> d.text })
    h.call("catalog.mv_refresh")(MaterializedView.refresh(spark, view))(_ => None)

    for (_ <- 1 to readRepeats) reads(h, start)
    graft.Caches.releaseAll(spark)
  }

  private def rowsOf(rows: Array[Row]): Seq[(Long, Long, Int)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"), r.getAs[Int]("rev")))
      .toSeq.sorted

  private def modelRows(snapshot: Map[Long, Doc], p: Int): Seq[(Long, Long, Int)] =
    snapshot.collect { case (id, d) if d.part == p => (id, d.score, d.rev) }.toSeq.sorted

  private def reads(h: Harness, batchStart: Int): Unit = {
    val snapshot = versions(head)
    val id = 1L + rnd.nextInt((nextId - 1).toInt)
    h.call("catalog.read_point", read = true)(
      VersionedTable.read(spark, table).filter(col("doc_id") === id)
        .select("doc_id", "score", "rev").collect()) { rows =>
      val expected = snapshot.get(id).map(d => (id, d.score, d.rev)).toSeq
      if (rowsOf(rows) == expected) None else Some(s"doc $id reads ${rowsOf(rows)}, expected $expected")
    }

    val past = committedAt.keys.toSeq.sorted.apply(rnd.nextInt(committedAt.size))
    val p = rnd.nextInt(parts)
    h.call("catalog.read_as_of", read = true)(
      VersionedTable.readAsOf(spark, table, committedAt(past)).filter(col("part") === p)
        .select("doc_id", "score", "rev").collect()) { rows =>
      if (rowsOf(rows) == modelRows(versions(past), p)) None
      else Some(s"version $past partition $p differs from the model")
    }

    h.call("catalog.changes", read = true)(
      VersionedTable.tableChanges(spark, table, batchStart, head)
        .select("doc_id", "score", "rev", "_change_type").collect()) { rows =>
      // file-granular feed: base minus deleted rows plus inserted rows is the head
      def key(d: (Long, Doc)) = (d._1, d._2.score, d._2.rev)
      val bag = mutable.HashMap.empty[(Long, Long, Int), Int].withDefaultValue(0)
      versions(batchStart).foreach(d => bag(key(d)) += 1)
      rows.foreach { r =>
        val k = (r.getAs[Long]("doc_id"), r.getAs[Long]("score"), r.getAs[Int]("rev"))
        bag(k) += (if (r.getAs[String]("_change_type") == "insert") 1 else -1)
      }
      val after = bag.filter(_._2 != 0)
      val expected = snapshot.map(key).map(_ -> 1).toMap
      if (after == expected) None else Some(s"changes $batchStart..$head do not replay to the head")
    }

    val stored = ftsTexts.keys.toVector.sorted
    val words = ftsTexts(stored(rnd.nextInt(stored.size))).split(" ")
    val terms = Seq.fill(2)(words(rnd.nextInt(words.length))).distinct
    h.call("fts.search", read = true)(
      FtsStore.searchAll(spark, fts, terms).select("doc_id").as[Long].collect()) { got =>
      val expected = ftsTexts.collect { case (i, t) if terms.forall(t.split(" ").contains) => i }.toSet
      if (got.toSet == expected && got.length == expected.size) None
      else Some(s"search ${terms.mkString(" ")}: ${got.length} docs, expected ${expected.size}")
    }

    h.call("catalog.mv_read", read = true)(MaterializedView.read(spark, view).collect()) { rows =>
      val got = rows.map(r => (r.getAs[Int]("part"), r.getAs[Long]("n"), r.getAs[Long]("total"))).toSet
      val expected = snapshot.values.groupBy(_.part)
        .map { case (pp, ds) => (pp, ds.size.toLong, ds.map(_.score).sum) }.toSet
      if (got == expected) None else Some("view differs from the model")
    }
  }

  override def layerMetrics(h: Harness): Map[String, Double] = {
    val history = VersionedTable.history(spark, table).select("version", "files").as[(Int, Long)]
      .collect().toMap
    val filesWritten = Layers.commitOps.map { op =>
      val fs = commitOp.collect { case (v, o) if o == op => history(v).toDouble }.toSeq
      s"$op.files_written" -> (if (fs.isEmpty) 0.0 else Stats.median(fs))
    }
    val tableFiles = Files.usage(s"$table/data")._1
    // parquet data files only, so the ratio repeats exactly: metadata
    // files carry commit times, and deletion-vector sidecars hold the
    // randomly named data files they point into
    val stores = Seq(s"$table/data", fts, sigs, s"$view/data")
      .map(p => Files.usage(p, ".parquet")._2).sum
    val plain = s"$dir/plain"
    VersionedTable.read(spark, table).coalesce(1).write.parquet(plain)
    val plainBytes = Files.usage(plain, ".parquet")._2
    Files.delete(plain)
    filesWritten.toMap ++ Map(
      "catalog.table_files" -> tableFiles.toDouble,
      "fts.store_files" -> Files.usage(fts)._1.toDouble,
      "ext.sig_store_files" -> Files.usage(sigs)._1.toDouble,
      "catalog.storage_amp" -> stores.toDouble / plainBytes)
  }

  def inputProperties: Map[String, Double] =
    Map("near_dup_share" -> planted.toDouble / math.max(1L, newDocs))
}
