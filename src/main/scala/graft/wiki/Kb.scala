package graft.wiki

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KB assembly (SURVEY.md §2.10, §3.2): the spaCy `InMemoryLookupKB` of the
  * reference (ref /root/reference/scripts/create_kb.py:20-96) becomes two
  * Parquet tables — `kb_entities(qid, freq, vector)` and
  * `kb_aliases(alias, entities, priors)` — candidate lookup is a broadcast
  * join on alias instead of an in-process hash map.
  */
object Kb {

  /** T8 — description fallback: description, else first 200 chars of the
    * article text, else name. Python truthiness (empty string falls
    * through, ref create_kb.py:35-44) — hence the length guards, not
    * plain coalesce.
    */
  def descriptionFallback(description: Column, articleText: Column, name: Column): Column =
    when(description.isNotNull && length(description) > 0, description)
      .when(articleText.isNotNull && length(articleText) > 0, substring(articleText, 1, 200))
      .otherwise(name)

  /** Pluggable embedder contract (V1): text column in, ArrayType(FloatType)
    * column out. The reference calls spaCy `nlp.pipe` multiprocess
    * (ref create_kb.py:47-62); any model stage satisfying this signature
    * slots in (mapInPandas/ONNX/…).
    */
  trait Embedder extends Serializable {
    def dim: Int
    def embed(text: Column): Column
  }

  /** Batch-model embedder contract: the model is initialized once per
    * partition-batch and applied to a batch of texts at a time — the exact
    * shape of an ONNX/spaCy/`mapInPandas` inference stage, so a real model
    * drops in by implementing `embedBatch` (the container ships no model;
    * see BatchEmbedder.Hashing for the deterministic stand-in).
    */
  trait BatchModel extends Serializable {
    def dim: Int
    def embedBatch(texts: Seq[String]): Seq[Array[Float]]
  }

  /** mapPartitions-based embedder running a BatchModel. Narrow stage, no
    * shuffle; batch size bounds peak memory per task.
    */
  final class BatchEmbedder(model: BatchModel, batchSize: Int = 64) extends Serializable {
    def embed(df: DataFrame, textCol: String, idCol: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val pairs = df.select(col(idCol).cast("string"), col(textCol)).as[(String, String)]
      pairs.mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val vecs = model.embedBatch(batch.map(_._2))
          batch.map(_._1).zip(vecs)
        }
      }.toDF(idCol, "vector")
    }
  }

  object BatchEmbedder {
    /** Deterministic stand-in model: hashed bag-of-words, L2-normalized. */
    final class Hashing(val dim: Int = 64) extends BatchModel {
      require(dim > 0, s"embedding dim must be positive, got $dim")
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
        val v = new Array[Float](dim)
        if (t != null) {
          // Locale.ROOT: Python's str.lower() is locale-free; the default
          // locale would map I to dotless ı on a Turkish-locale host
          for (tok <- t.toLowerCase(java.util.Locale.ROOT).split("\\W+") if tok.nonEmpty) {
            val h = tok.hashCode
            val idx = math.floorMod(h, dim)
            v(idx) += (if (math.floorMod(h >> 16, 2) == 0) 1.0f else -1.0f)
          }
        }
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (n > 0) v.map(x => (x / n).toFloat) else v
      }
    }
  }

  /** Deterministic, model-free default: hashed bag-of-words embedding.
    * Each token's Spark `hash` picks a dimension and a sign; the vector is
    * L2-normalized. Column expressions only — no UDF, no model — so the KB
    * plumbing is testable and benchmarkable without spaCy.
    *
    * Cost model: the higher-order functions used here (`transform`,
    * `aggregate`, `filter`) are interpreted (`CodegenFallback`) and do no
    * common-subexpression elimination inside a lambda, so every column
    * referenced from a lambda body is re-evaluated per element. The
    * expression is therefore shaped so that each row is tokenized once and
    * each token hashed once: the (dim, sign) pairs are scatter-added into
    * one `dim`-length float array, whose sum of squares is taken once. That
    * is O(tokens·dim) interpreted lambda steps per row.
    */
  final class HashingEmbedder(val dim: Int = 64) extends Embedder {
    require(dim > 0, s"embedding dim must be positive, got $dim")
    def embed(text: Column): Column = {
      val tokens = filter(split(lower(coalesce(text, lit(""))), "\\W+"), t => length(t) > 0)
      val pairs = transform(tokens, t => struct(
        pmod(hash(t), lit(dim)).as("i"),
        when(pmod(hash(t, lit(7)), lit(2)) === 0, 1.0f).otherwise(-1.0f).as("s")))
      // float sums in token order, then a double sqrt and divide cast back
      // to float: KbEmbedderSpec pins the resulting vectors bit for bit
      aggregate(pairs, array_repeat(lit(0.0f), dim),
        (acc, p) => transform(acc, (v, i) =>
          when(i === p.getField("i"), v + p.getField("s")).otherwise(v)),
        raw => aggregate(raw, lit(0.0f), (acc, x) => acc + x * x, { ss =>
          val norm = sqrt(ss.cast("double"))
          transform(raw, x => (x / when(norm > 0, norm).otherwise(lit(1.0))).cast("float"))
        }))
    }
  }

  /** V2 — kb_entities: one row per loaded entity with its frequency and
    * description-embedding vector (ref create_kb.py:63-66).
    */
  def kbEntities(loaded: DataFrame, embedder: Embedder = new HashingEmbedder()): DataFrame =
    loaded.select(
      col("qid"),
      col("count").as("freq"),
      embedder.embed(
        descriptionFallback(col("description"), col("article_text"), col("name")))
        .as("vector"))

  /** V2 + T7 — kb_aliases: alias -> candidate entities + priors, plus the
    * pseudo-alias `_qid_` with prior 1.0 per entity for direct lookup
    * (ref create_kb.py:67-81).
    */
  def kbAliases(aliases: DataFrame, loaded: DataFrame): DataFrame = {
    val real = Queries.aliasPriors(aliases)
    val pseudo = loaded.select(
      concat(lit("_"), col("qid"), lit("_")).as("alias"),
      array(col("qid")).as("entities"),
      array(lit(1.0)).as("priors"))
    real.unionByName(pseudo)
  }

  /** S7 — (qid, description) CSV sink with minimal quoting
    * (ref create_kb.py:90-95).
    */
  def writeDescriptions(loaded: DataFrame, path: String): Unit =
    loaded.select(col("qid"),
        descriptionFallback(col("description"), col("article_text"), col("name"))
          .as("description"))
      .write.mode("overwrite").option("quoteAll", "false").csv(path)
}
