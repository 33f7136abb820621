package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Curation, Dedup, Graph, MinHashAggregator, Multimodal, Similarity, TextStats}
import graft.fts.{Fts, FtsStore}

/** Driver-harness entries for the training-data-pipeline operators
  * (dedup, ANN similarity, text analysis, multimodal, FTS). Queries whose
  * math is engine-portable carry DuckDB oracles; hash-seeded ones
  * (xxhash64 signatures, stub codecs) are rows-only by design.
  */
object ExtQueries {

  import CoreQueries.Q

  // ---- dedup ----

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy("canonical_id")

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
      |  count(*) AS n_docs
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** Exact n-gram Jaccard pairs on the 'de' slice — fully SQL-expressible,
    * so the whole shingle->join->jaccard dataflow is oracle-checked.
    */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(
      Tables.documents(s, d).filter(col("lang") === "de"),
      "doc_id", "text", n = 3, threshold = 0.15, maxShingleFreq = 100000)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")

  val dedupNgramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents WHERE lang = 'de'),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) >= 3 THEN
      |      array_to_string(list_slice(w, i, i + 2), ' ')
      |    ELSE array_to_string(w, ' ') END AS shingle
      |  FROM toks, UNNEST(range(1, CASE WHEN len(w) >= 3 THEN len(w) - 1 ELSE 2 END)) AS t(i)),
      |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / (sa.set_size + sb.set_size - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / (sa.set_size + sb.set_size - i) >= 0.15
      |ORDER BY id_a, id_b""".stripMargin

  /** Asymmetric containment on the 'de' slice plus PLANTED excerpts:
    * each of the 10 LOWEST-id 'de' docs contributes a prefix-excerpt doc
    * (its first ~15 tokens under id+500000) — a genuine contained-in
    * relation whose
    * Jaccard is far below any dedup threshold but whose containment is
    * ~1.0. Fully SQL-expressible, so the whole dataflow (shingles,
    * candidate join, both ratios, either-direction gate) is hash-checked.
    * The Spark side's maxShingleFreq=100000 cap is deliberately far above
    * any shingle's doc frequency at driver scales, so the uncapped oracle
    * restates the identical dataflow (same convention as
    * dedup_ngram_jaccard).
    */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val de = Tables.documents(s, d).filter(col("lang") === "de")
      .select("doc_id", "text")
    val excerpts = de.orderBy("doc_id").limit(10)
      .select((col("doc_id") + 500000L).as("doc_id"),
        array_join(slice(TextStats.wsTokens(col("text")), 1, 15), " ").as("text"))
    Dedup.containmentPairs(de.unionByName(excerpts), "doc_id", "text",
      n = 3, threshold = 0.9, maxShingleFreq = 100000)
      .select(col("id_a"), col("id_b"),
        round(col("containment_ab"), 6).as("containment_ab"),
        round(col("containment_ba"), 6).as("containment_ba"))
      .orderBy("id_a", "id_b")
  }

  val dedupContainmentSql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE lang = 'de'),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 500000,
      |    array_to_string(list_slice(
      |      list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0),
      |      1, 15), ' ')
      |  FROM (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 10)),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS w
      |  FROM corpus),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) >= 3 THEN array_to_string(list_slice(w, i, i + 2), ' ')
      |         ELSE array_to_string(w, ' ') END AS shingle
      |  FROM toks, UNNEST(range(1, CASE WHEN len(w) >= 3 THEN len(w) - 1 ELSE 2 END)) AS t(i)
      |  WHERE len(w) > 0),
      |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CAST(i AS DOUBLE) / sa.set_size, 6) AS containment_ab,
      |  round(CAST(i AS DOUBLE) / sb.set_size, 6) AS containment_ba
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / sa.set_size >= 0.9
      |   OR CAST(i AS DOUBLE) / sb.set_size >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Corpus with planted duplicates: docs with doc_id < 50 duplicated
    * under doc_id + 1000000 — guarantees the near-dup detectors have
    * something to find on any scale factor.
    */
  private def withPlantedDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  /** MinHash LSH near-dup detection, gated on the planted ground truth:
    * the full operator runs over the planted corpus (all candidates
    * generated and verified), and the result projects the planted pairs —
    * exact duplicates have identical signatures, so the expected output is
    * deterministic and engine-portable: every (id, id+1e6) pair at
    * est_jaccard exactly 1.0. Natural xxhash-seeded near-dup pairs (not
    * SQL-reproducible) stay covered by dedup_ngram_jaccard's full oracle
    * and DedupSpec.
    */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashDupPairs(withPlantedDups(s, d), "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("id_a", "id_b")

  val dedupMinhashSql: String =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS est_jaccard
      |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup detection, planted-pair gate (same rationale as
    * dedupMinhash): identical text ⇒ identical 64-bit signature ⇒ hamming
    * distance exactly 0 for every planted pair.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDupPairs(withPlantedDups(s, d), "doc_id", "text", maxDist = 3)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .orderBy("id_a", "id_b")

  val dedupSimhashSql: String =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS dist
      |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin

  /** 128-bit SimHash near-dup detection over the same planted corpus —
    * the >10⁶-doc scale path (4 × 32-bit pigeonhole chunks push the
    * uniform birthday floor from n²/2¹⁴ to n²/2³⁰). Identical text ⇒
    * identical 128-bit signature ⇒ distance exactly 0, so the oracle is
    * the same planted-pair restatement as the 64-bit gate.
    */
  def dedupSimhash128(s: SparkSession, d: String): DataFrame =
    Dedup.simhash128DupPairs(withPlantedDups(s, d), "doc_id", "text", maxDist = 3)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .orderBy("id_a", "id_b")

  val dedupSimhash128Sql: String =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS dist
      |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-dup detection, planted-pair gate: an identical
    * vector is its own nearest neighbor at cosine exactly 1.0 and shares
    * every hyperplane sign bucket.
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.unionByName(
      emb.filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.embeddingDupPairs(planted, "vec_id", "embedding",
      threshold = 0.999, planes = 8)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Fuzzy (Levenshtein) near-dup pairs over part names, blocked on
    * (first token, length band) — fully engine-portable (both engines
    * implement classic edit distance), so the whole blocked dataflow is
    * hash-checked.
    */
  def dedupFuzzy(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyPairs(
      // fixed 2k-part slice: TPC-H names draw 5 words from ~92 colors, so
      // near-dup pair count grows quadratically with scale factor — the
      // slice keeps the gate measuring the operator, not the output size
      Tables.part(s, d).filter(col("p_partkey") <= 2000)
        .select(col("p_partkey").as("doc_id"), col("p_name")),
      "doc_id", "p_name", maxDist = 2)
      .orderBy("id_a", "id_b")

  val dedupFuzzySql: String =
    """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON string_split_regex(a.p_name, '\s+')[1] = string_split_regex(b.p_name, '\s+')[1]
      | AND a.p_partkey < b.p_partkey
      |WHERE a.p_partkey <= 2000 AND b.p_partkey <= 2000
      |  AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  val dedupEmbeddingSql: String =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 50 ORDER BY id_a, id_b""".stripMargin

  /** Connected components over the (fully deterministic, itself oracled)
    * fuzzy dup pairs: the "pairs → canonical groups" end step. The oracle
    * restates min-reachable-id as a DuckDB recursive transitive closure —
    * so the whole chain edge-generation → undirected propagation →
    * fixpoint is hash-checked.
    */
  def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d).filter(col("p_partkey") <= 2000)
      .select(col("p_partkey").as("doc_id"), col("p_name"))
    val edges = Dedup.fuzzyPairs(parts, "doc_id", "p_name", maxDist = 2)
    Dedup.connectedComponents(parts.select("doc_id"), edges, maxIters = 50)
      .orderBy("doc_id")
  }

  val dedupComponentsSql: String =
    """WITH RECURSIVE
      |edges AS (
      |  SELECT a.p_partkey AS src, b.p_partkey AS dst
      |  FROM part a JOIN part b
      |    ON string_split_regex(a.p_name, '\s+')[1] = string_split_regex(b.p_name, '\s+')[1]
      |   AND a.p_partkey <> b.p_partkey
      |  WHERE a.p_partkey <= 2000 AND b.p_partkey <= 2000
      |    AND levenshtein(a.p_name, b.p_name) <= 2),
      |nodes AS (SELECT p_partkey AS id FROM part WHERE p_partkey <= 2000),
      |reach(a, b) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
      |SELECT a AS doc_id, min(b) AS component_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** End-to-end near-dup GROUPING — the full "corpus in, deduped corpus
    * out" story in one row: minhash LSH pairs → connected components →
    * canonical keep flag. TWO identical copies are planted per doc_id<50
    * (offsets +1e6, +2e6) so each group is a genuine triangle, not just a
    * pair; the edge gate keeps the planted relation only (equal
    * doc_id mod 1e6 — natural xxhash-seeded near-dups are not
    * SQL-reproducible, and dedup_minhash/dedup_components already cover
    * the ungated paths), so the oracle states the expected groups
    * EXACTLY: every trio collapses to its original id (kept), copies are
    * dropped, every other doc is a kept singleton.
    */
  def dedupMinhashGroups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val dups = docs.filter(col("doc_id") < 50)
    val planted = docs
      .unionByName(dups.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(dups.withColumn("doc_id", col("doc_id") + 2000000L))
    val edges = Dedup.minhashDupPairs(planted, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .filter(pmod(col("id_a"), lit(1000000L)) === pmod(col("id_b"), lit(1000000L)))
    Dedup.connectedComponents(planted.select("doc_id"), edges, maxIters = 20)
      .select(col("doc_id"),
        col("component_id").as("group_id"),
        (col("doc_id") === col("component_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val dedupMinhashGroupsSql: String =
    """SELECT doc_id, doc_id % 1000000 AS group_id,
      |  CAST(doc_id < 1000000 AS INTEGER) AS keep
      |FROM (SELECT doc_id FROM documents
      |      UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id < 50
      |      UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id""".stripMargin

  /** Exact substring-span dedup (Lee et al. 2022 shape): every w-token
    * window occurring >1 time keeps only its global-min (doc_id, pos)
    * occurrence; other occurrences' token ranges are cut and the docs
    * reassembled. The oracle restates the full chain (windows, canonical
    * pick, range union, reassembly) in closed-form SQL — the clean_text
    * strings themselves are hash-compared.
    */
  def dedupSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Dedup.removeDuplicatedSpans(docs, "doc_id", "text", w = 8)
      .orderBy("doc_id")
  }

  val dedupSpansSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS toks
      |  FROM documents),
      |win0 AS (
      |  SELECT doc_id, toks, unnest(range(greatest(len(toks) - 7, 0))) AS pos FROM t),
      |win AS (
      |  SELECT doc_id, pos, array_to_string(toks[pos+1:pos+8], ' ') AS g FROM win0),
      |marked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
      |    count(*) OVER (PARTITION BY g) AS cnt
      |  FROM win),
      |removals AS (
      |  SELECT DISTINCT m.doc_id, m.pos + r.i AS tpos
      |  FROM marked m, range(8) r(i)
      |  WHERE m.cnt >= 2 AND m.rn > 1),
      |tok AS (
      |  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS tpos FROM t),
      |kept AS (
      |  SELECT k.doc_id, k.tpos, k.tok
      |  FROM tok k LEFT JOIN removals r ON r.doc_id = k.doc_id AND r.tpos = k.tpos
      |  WHERE r.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
      |  coalesce(a.clean_text, '') AS clean_text
      |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** SemDeDup semantic dedup, planted-pair gate (same rationale as
    * dedup_embedding): an identical planted vector lands in the same
    * k-means cluster as its original (identical centroid-sim arrays ⇒
    * identical argmax) and verifies at cosine exactly 1.0, whatever the
    * Lloyd refinement did — so the expected planted relation is
    * deterministic and engine-portable while the full cluster-bucketed
    * dataflow (quantizer train, assignment, capped self-join, verify)
    * executes end to end.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.unionByName(
      emb.filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 1000000L))
    Dedup.semanticDupPairs(planted, "vec_id", "embedding",
      nClusters = 16, kmeansIters = 1, threshold = 0.999)
      .filter(col("id_b") === col("id_a") + 1000000L)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  val dedupSemanticSql: String =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 50 ORDER BY id_a, id_b""".stripMargin

  /** Incremental dedup against a persisted signature store, planted-pair
    * gate (dedup_minhash's rationale): the store holds the corpus'
    * signatures; the "new batch" is exact copies of doc_id < 50 under
    * +1e6 ids, so every (orig, copy) pair must surface at est_jaccard
    * exactly 1.0 — while the historical text is never re-read (the store
    * carries only signatures). Store build + append + probe all execute.
    *
    * Constant analysis (r18 statement-level profile at sf0.1, warm): store build
    * ~4.8 s (minhash of the full corpus + the partitioned sigs/buckets
    * writes — the FIXTURE, measured by design), probe ~2.6-3.1 s
    * (a fixed ~6-job chain: batch minhash, touched-keys collect, pruned
    * bucket read, degenerate-cap join, candidate join, sig
    * re-attach — each O(batch), the count is the floor). The store
    * never touches GraftScan's dir-listing cache, so the r17 "+8% LRU
    * thrash" suspicion is structurally impossible; the wobble was
    * fixture noise. Shrinking the row further means removing whole
    * probe stages, not constants.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val store = graft.Caches.newTempDir("graft_sigstore").toString
    // storeParts 4, not the 16 default: the measured row includes BUILDING
    // the store fixture, and partitioned-write file creation dominates at
    // oracle scale (the partition-granularity contract itself is stressed
    // separately in Bench.incrementalStress with storeParts scaled 10x)
    Dedup.appendSignatureStore(docs, "doc_id", "text", store, storeParts = 4)
    val batch = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Dedup.dedupAgainstStore(s, store, batch, "doc_id", "text", threshold = 0.8,
      storeParts = 4)
      .filter(col("batch_id") === col("store_id") + 1000000L)
      .select(col("store_id"), col("batch_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("store_id")
  }

  val dedupIncrementalSql: String =
    """SELECT doc_id AS store_id, doc_id + 1000000 AS batch_id,
      |  CAST(1.0 AS DOUBLE) AS est_jaccard
      |FROM documents WHERE doc_id < 50 ORDER BY store_id""".stripMargin

  // ---- similarity search ----

  /** Brute-force cosine top-k, double-precision on both sides so the
    * scores hash-match.
    */
  def annBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("query_id"), col("corpus_id"), round(col("cosine"), 4).as("cosine"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  val annBruteForceSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
      |scored AS (
      |  SELECT query_id, c.vec_id AS corpus_id,
      |    list_cosine_similarity(qv, c.v) AS cos
      |  FROM c CROSS JOIN q WHERE c.vec_id <> query_id),
      |ranked AS (
      |  SELECT query_id, corpus_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rank
      |  FROM scored)
      |SELECT query_id, corpus_id, round(cos, 4) AS cosine, rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** LSH ANN, recall-gated against the exact baseline: the approximate
    * top-k is compared per query with the (separately hash-verified)
    * brute-force top-k, and the result asserts recall@5 ≥ 0.8. The oracle
    * can then state the expected outcome exactly (`true` per query) even
    * though the bucketing is xxhash/hyperplane-seeded. Top-k contents are
    * additionally asserted in SimilaritySpec.
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val approx = Similarity.lshTopK(emb, queries, k = 5,
      planes = 8, probeBits = 2, tables = 6)
    Similarity.recallAtK(exact, approx, k = 5)
      .select(col("query_id"), (col("recall") >= 0.8).as("recall_pass"))
      .orderBy("query_id")
  }

  val annLshSql: String =
    """SELECT vec_id AS query_id, true AS recall_pass
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  /** IVF ANN (k-means-refined coarse quantizer), recall-gated like annLsh.
    * Gated on AVERAGE recall@5 across the query set, not per query: the
    * synthetic embeddings are near-isotropic (real corpora cluster far
    * harder), so an individual query's neighbors can legitimately scatter
    * across low-ranked lists — a per-query bar at honest seeding is a
    * coin flip, and r6's per-query pass turned out to be rigged by the
    * old lowest-id seeding placing the QUERY vectors among the k-means
    * seeds (privileging exactly their lists). avg ≥ 0.65 at nprobe=8/16
    * (measured 0.80) is what the quantizer honestly provides here. A
    * per-query FLOOR (min recall > 0) rides alongside: an average-only
    * gate could pass with one query fully missed, and a zero-recall
    * query is pathological list selection, not seed luck.
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val approx = Similarity.ivfTopK(emb, queries, k = 5, nlist = 16, nprobe = 8,
      kmeansIters = 1)
    Similarity.recallAtK(exact, approx, k = 5)
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (avg(col("recall")) >= 0.65).as("recall_pass"),
        (min(col("recall")) > 0.0).as("min_recall_pass"))
  }

  val annIvfSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass,
      |  true AS min_recall_pass
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** PQ ANN (8×32 product codebook ≈ 32× corpus compression) with the
    * FAISS-style refine stage (ADC shortlist → exact re-rank), recall-
    * gated like annLsh/annIvf: the oracle states `true` per query, the
    * query computes recall@5 vs the (hash-verified) brute force.
    */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val cb = Similarity.trainPq(emb, m = 8, ksub = 32, iters = 2)
    val approx = Similarity.pqTopK(emb, queries, k = 5, cb, rerank = 100)
    Similarity.recallAtK(exact, approx, k = 5)
      .select(col("query_id"), (col("recall") >= 0.6).as("recall_pass"))
      .orderBy("query_id")
  }

  val annPqSql: String =
    """SELECT vec_id AS query_id, true AS recall_pass
      |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin

  /** Group-level MinHash (the typed mergeable Aggregator): a planted
    * clone of one source's ENTIRE document set must produce an identical
    * group signature — the MinHash set-union property — so the estimated
    * group-vs-group Jaccard is exactly 1.0, which the oracle pins. Gated
    * to the planted pair (natural source-vs-source similarity depends on
    * xxhash-seeded signatures, not SQL-reproducible).
    */
  def dedupGroupMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    val planted = docs.unionByName(
      docs.filter(col("source") === "src0")
        .withColumn("source", lit("src_clone")))
    val sigs = Dedup.withMinhashSignature(planted, "text", "sig")
      .groupBy("source")
      .agg(MinHashAggregator.minhash_agg(col("sig"), 64).as("gsig"))
    sigs.as("a").join(sigs.as("b"),
        col("a.source") === lit("src0") && col("b.source") === lit("src_clone"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        round(MinHashAggregator.estJaccard(col("a.gsig"), col("b.gsig")), 4)
          .as("est_jaccard"))
  }

  val dedupGroupMinhashSql: String =
    """SELECT 'src0' AS src_a, 'src_clone' AS src_b,
      |  CAST(1.0 AS DOUBLE) AS est_jaccard""".stripMargin

  /** The COMPOSED persisted IVF+PQ index — the actual 100 TB ANN layout:
    * coarse-quantizer partition pruning picks nprobe lists, ADC over the
    * lists' 8-byte codes builds the shortlist (vectors never read), exact
    * refine re-ranks the shortlist (pruned to the same lists). Gated on
    * AVERAGE recall@5 (avg ≥ 0.7 at nprobe=10, measured 0.84) for the
    * same reason as annIvf — per-query bars on near-isotropic synthetic
    * vectors measure seed luck, not the operator — plus the same
    * per-query floor (min recall > 0: a fully-missed query is
    * pathological, whatever the average says). ScaleSpec proves the
    * pruning and codes-not-vectors claims on the physical plan.
    *
    * BENCH-ROW CONSTANT (r19 triage of the r18 "+86% on flat code"
    * watch item): the row is fixture-lifecycle dominated — brute-force
    * truth pass + full index BUILD (k-means train, PQ codebook train,
    * encode, 16-list partitioned write) + the probe, ~25 short jobs
    * whose wall is dominated by per-job scheduling constants, which
    * makes it the suite's most host-jitter-sensitive row. Same-HEAD
    * same-host windows minutes apart measured 2.08 s at canary 0.85
    * and 2.62 s at canary 0.98 (append leg 2.66→3.18) — a 26% swing
    * with ZERO code delta, bracketing the r17-clean 1.93 s from a
    * window that read canary ~0.6. The r18 round-final 3.59 s came
    * from a 0.815-canary window; in any ≤0.85 window the row sits
    * ≤2.5 s. Nothing grew; the variance tracks the canary, not the
    * code.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val dir = graft.Caches.newTempDir("graft_ivfpq").toString
    val idx = Similarity.writeIvfPqIndex(emb, dir, nlist = 16, kmeansIters = 1,
      m = 8, ksub = 32, pqIters = 2)
    val approx = Similarity.ivfPqTopKFromIndex(s, dir, idx, queries, k = 5,
      nprobe = 10, rerank = 100)
    Similarity.recallAtK(exact, approx, k = 5)
      .agg(count(lit(1)).cast("long").as("n_queries"),
        (avg(col("recall")) >= 0.7).as("recall_pass"),
        (min(col("recall")) > 0.0).as("min_recall_pass"))
  }

  val annIvfPqSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_pass,
      |  true AS min_recall_pass
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  /** Incremental IVF+PQ append, planted-truth gate: 20 corpus vectors are
    * re-appended under vec_id + 1000000 through the FROZEN quantizer and
    * codebook ([[graft.ext.Similarity.appendIvfPqIndex]] — no retrain, no
    * rewrite, only the touched list partitions gain a file). Each copy
    * lands in its original's inverted list with identical PQ codes, so
    * probing with the copies must surface every original at exact cosine
    * 1.0 through the full ADC-shortlist + refine path — proving appended
    * rows are immediately probe-visible. (Natural neighbors in the top-k
    * are estimate-ranked and engine-specific; the gate filters to the
    * planted relation, the dedup_minhash pattern.) The measured row is
    * dominated by BUILDING the full index fixture (train + encode +
    * partitioned write — the dedup_incremental caveat); the append
    * itself is O(batch) by the partition-local spec.
    */
  def annIvfPqAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val dir = graft.Caches.newTempDir("graft_ivfpq_app").toString
    val idx = Similarity.writeIvfPqIndex(emb, dir, nlist = 16, kmeansIters = 1,
      m = 8, ksub = 32, pqIters = 2)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendIvfPqIndex(planted, dir, idx)
    Similarity.ivfPqTopKFromIndex(s, dir, idx, planted, k = 5,
        nprobe = 6, rerank = 100)
      .filter(col("corpus_id") === col("query_id") - 1000000L)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id")
  }

  val annIvfPqAppendSql: String =
    """SELECT vec_id + 1000000 AS query_id, vec_id AS corpus_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin

  /** The offline RETRAIN+REWRITE maintenance job
    * ([[graft.ext.Similarity.reindexIvfPq]] — the drift cure
    * [[annIvfPqAppend]]'s frozen-quantizer caveat names), planted-truth
    * gated: build the index, append a genuinely DRIFTED batch (negated
    * copies of 10 corpus vectors — a region the training corpus never
    * saw — planted as identical pairs under +1e6/+2e6 id offsets), then
    * reindex and probe with the pair's first halves. The reindex
    * retrains quantizer and codebook from the CURRENT corpus read back
    * out of the live index (vectors ride beside the codes precisely for
    * this) and cuts over via the version pointer. Each probe must
    * surface its planted twin at exact cosine 1.0 through the full
    * ADC-shortlist + refine path against the NEW index handles — proving
    * in one row that appended rows survive the rewrite, the retrained
    * quantizer co-locates identical vectors, and post-reindex probing
    * works end-to-end. (Natural-neighbor ranks are estimate-ranked and
    * engine-specific; the gate filters to the planted relation — the
    * annIvfPqAppend pattern. The row's cost is dominated by the two full
    * index builds, by design: reindex is O(corpus), the amortized
    * offline job.)
    */
  def annIvfPqReindex(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val dir = graft.Caches.newTempDir("graft_ivfpq_re").toString
    val idx0 = Similarity.writeIvfPqIndex(emb, dir, nlist = 16, kmeansIters = 1,
      m = 8, ksub = 32, pqIters = 2)
    // drifted batch: negated vectors live in the antipodal region the
    // frozen quantizer never trained on; two identical copies per base
    // vector plant an exact-cosine-1.0 twin relation the gate can pin
    val drifted = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
    Similarity.appendIvfPqIndex(
      drifted.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      dir, idx0)
    Similarity.appendIvfPqIndex(
      drifted.select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")),
      dir, idx0)
    // the maintenance job under test; probes MUST use the returned
    // handles — the old centroids no longer match the partition layout
    val idx1 = Similarity.reindexIvfPq(s, dir, nlist = 16, kmeansIters = 1,
      m = 8, ksub = 32, pqIters = 2)
    val queries = drifted.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    Similarity.ivfPqTopKFromIndex(s, dir, idx1, queries, k = 5,
        nprobe = 6, rerank = 100)
      .filter(col("corpus_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy("query_id")
  }

  val annIvfPqReindexSql: String =
    """SELECT vec_id + 1000000 AS query_id, vec_id + 2000000 AS corpus_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin

  // ---- graph analytics ----

  /** Damped PageRank (5 power iterations) over the part↔supplier bipartite
    * graph from lineitem (node space disjoint by a +1e6 offset on parts;
    * symmetric edges, so the no-dangling precondition holds by
    * construction). Fully oracled: DuckDB runs the identical recurrence as
    * unrolled CTEs — iteration math, damping, degree normalization and the
    * in-plan N all hash-checked (doubles rounded to 6).
    */
  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    // fixed 2k-part slice (the dedup_fuzzy rationale): the edge count
    // grows with scale factor, and the gate should measure the operator's
    // correctness, not pay 5 iterations over an ever-larger graph
    val fwd = Tables.lineitem(s, d).filter(col("l_partkey") <= 2000)
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      .distinct()
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(edges, "src", "dst", damping = 0.85, iters = 5)
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy("id")
  }

  val graphPagerankSql: String = {
    val rounds = (0 until 5).map { i =>
      s"""r${i + 1} AS (
         |  SELECT nd.id, (1 - 0.85) / nn.cnt + 0.85 * coalesce(c.s, 0) AS r
         |  FROM nodes nd CROSS JOIN n nn LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.r / d.od) AS s
         |    FROM edges e JOIN r$i r ON r.id = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH fwd AS (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
       |  FROM lineitem WHERE l_partkey <= 2000),
       |edges AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
       |r0 AS (SELECT id, 1.0 / nn.cnt AS r FROM nodes CROSS JOIN n nn),
       |$rounds
       |SELECT id, round(r, 6) AS rank FROM r5 ORDER BY id""".stripMargin
  }

  /** PageRank over a genuinely DIRECTED graph with sinks: supplier →
    * part edges only (no reverse), so every part node is dangling. Gates
    * the in-plan dangling-mass redistribution — without it these ranks
    * leak mass and nothing sums to 1; the oracle restates the exact
    * per-round redistribution, so the whole term is hash-checked.
    */
  def graphPagerankDangling(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d).filter(col("l_partkey") <= 2000)
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      .distinct()
    Graph.pageRank(edges, "src", "dst", damping = 0.85, iters = 5)
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy("id")
  }

  val graphPagerankDanglingSql: String = {
    val rounds = (0 until 5).map { i =>
      s"""r${i + 1} AS (
         |  SELECT nd.id,
         |    (1 - 0.85) / nn.cnt + 0.85 * (coalesce(c.s, 0) + dm.m / nn.cnt) AS r
         |  FROM nodes nd CROSS JOIN n nn
         |  CROSS JOIN (
         |    SELECT coalesce(sum(r.r), 0) AS m
         |    FROM r$i r LEFT JOIN deg d ON d.src = r.id
         |    WHERE d.src IS NULL) dm
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.r / d.od) AS s
         |    FROM edges e JOIN r$i r ON r.id = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
       |  FROM lineitem WHERE l_partkey <= 2000),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
       |r0 AS (SELECT id, 1.0 / nn.cnt AS r FROM nodes CROSS JOIN n nn),
       |$rounds
       |SELECT id, round(r, 6) AS rank FROM r5 ORDER BY id""".stripMargin
  }

  /** Personalized PageRank over the directed (dangling-heavy) supplier →
    * part graph, teleporting to the suppliers with id ≤ 10 — relevance
    * from the sources' point of view, the entity-relatedness shape. The
    * oracle restates r = d·in + (1−d+d·D)·p with p = 1/|S| on the source
    * set, unrolled five rounds — teleport vector, dangling return to
    * sources, and reachability zeros all hash-checked.
    */
  def graphPagerankPersonalized(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d).filter(col("l_partkey") <= 2000)
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      .distinct()
    val sources = edges.filter(col("src") <= 10).select(col("src").as("id"))
    Graph.personalizedPageRank(edges, sources, "src", "dst",
        damping = 0.85, iters = 5)
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy("id")
  }

  val graphPagerankPersonalizedSql: String = {
    val rounds = (0 until 5).map { i =>
      s"""r${i + 1} AS (
         |  SELECT p.id, 0.85 * coalesce(c.s, 0) + (0.15 + 0.85 * dm.m) * p.p AS r
         |  FROM p CROSS JOIN (
         |    SELECT coalesce(sum(r.r), 0) AS m
         |    FROM r$i r LEFT JOIN deg d ON d.src = r.id
         |    WHERE d.src IS NULL) dm
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.r / d.od) AS s
         |    FROM edges e JOIN r$i r ON r.id = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
       |  FROM lineitem WHERE l_partkey <= 2000),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |srcs AS (SELECT DISTINCT src AS id FROM edges WHERE src <= 10),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM srcs),
       |p AS (
       |  SELECT nd.id,
       |    CASE WHEN s.id IS NOT NULL THEN 1.0 / ns.cnt ELSE 0.0 END AS p
       |  FROM nodes nd CROSS JOIN ns LEFT JOIN srcs s ON s.id = nd.id),
       |r0 AS (SELECT id, p AS r FROM p),
       |$rounds
       |SELECT id, round(r, 6) AS rank FROM r5 ORDER BY id""".stripMargin
  }

  // ---- text analysis ----

  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("n_tokens"),
        round(TextStats.avgWordLen(col("text")), 4).as("avg_word_len"),
        round(TextStats.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextStats.stopwordRatio(col("text")), 4).as("stopword_ratio"))
      .orderBy("doc_id")

  val textQualitySql: String = {
    val sw = TextStats.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS wsl,
       |    regexp_replace(text, '\\s+', '', 'g') AS nospace
       |  FROM documents)
       |SELECT doc_id,
       |  len(ws) AS n_tokens,
       |  round(CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END, 4) AS avg_word_len,
       |  round(CASE WHEN length(nospace) > 0 THEN CAST(length(regexp_replace(nospace, '[\\p{L}\\p{N}]+', '', 'g')) AS DOUBLE) / length(nospace) ELSE 0.0 END, 4) AS punct_ratio,
       |  round(CASE WHEN len(wsl) > 0 THEN CAST(len(list_filter(wsl, x -> list_contains($sw, x))) AS DOUBLE) / len(wsl) ELSE 0.0 END, 4) AS stopword_ratio
       |FROM t ORDER BY doc_id""".stripMargin
  }

  def textLangid(s: SparkSession, d: String): DataFrame =
    TextStats.withLangId(
        Tables.documents(s, d).select("doc_id", "lang", "text"),
        "text", "lang_pred")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")

  /** The langId argmax re-stated in SQL: per-language marker hit-rate,
    * best language wins, score ties break to the lexicographically larger
    * code (Spark's greatest-of-structs ordering), zero hits ⇒ 'und'.
    */
  val textLangidSql: String = {
    def lst(lang: String) =
      TextStats.langMarkers(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    def score(lang: String) =
      s"CAST(len(list_filter(toks, x -> list_contains(${lst(lang)}, x))) AS DOUBLE) / greatest(len(toks), 1) AS s_$lang"
    s"""WITH t AS (
       |  SELECT lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS toks
       |  FROM documents),
       |s AS (
       |  SELECT lang, ${score("de")}, ${score("en")}, ${score("es")}, ${score("fr")}
       |  FROM t),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0.0 THEN 'und'
       |         WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |         WHEN s_en >= s_de THEN 'en'
       |         ELSE 'de' END AS lang_pred
       |  FROM s)
       |SELECT lang, lang_pred, count(*) AS n
       |FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
  }

  /** Gopher-style repetition quality signals, fully oracled. */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    TextStats.repetitionStats(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_2gram_frac"), 6).as("top_2gram_frac"),
        round(col("dup_3gram_frac"), 6).as("dup_3gram_frac"))
      .orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS w
      |  FROM documents),
      |b AS (SELECT doc_id, w, len(w) AS n FROM t),
      |c2 AS (
      |  SELECT doc_id, max(cnt) AS m2 FROM (
      |    SELECT doc_id, w[i] || ' ' || w[i+1] AS g, count(*) AS cnt
      |    FROM b, UNNEST(range(1, n)) AS r(i) WHERE n >= 2
      |    GROUP BY 1, 2)
      |  GROUP BY 1),
      |c3 AS (
      |  SELECT doc_id, sum(cnt * 3) AS dup3 FROM (
      |    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g,
      |           count(*) AS cnt
      |    FROM b, UNNEST(range(1, n - 1)) AS r(i) WHERE n >= 3
      |    GROUP BY 1, 2)
      |  WHERE cnt > 1 GROUP BY 1)
      |SELECT b.doc_id, CAST(n AS INT) AS n_tokens,
      |  round(CASE WHEN n > 0 THEN coalesce(m2, 0) * 2.0 / n ELSE 0.0 END, 6) AS top_2gram_frac,
      |  round(CASE WHEN n > 0 THEN CAST(coalesce(dup3, 0) AS DOUBLE) / n ELSE 0.0 END, 6) AS dup_3gram_frac
      |FROM b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Cross-document repeated 5-gram fraction (boilerplate signal), fully
    * oracled: window counts, shared-gram doc frequencies and the per-doc
    * ratio all restate in DuckDB.
    */
  def textCrossRepetition(s: SparkSession, d: String): DataFrame =
    TextStats.crossDocRepetition(Tables.documents(s, d), "doc_id", "text",
      n = 5, minDocs = 2)
      .select(col("doc_id"), col("n_windows"),
        round(col("cross_frac"), 6).as("cross_frac"))
      .orderBy("doc_id")

  val textCrossRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS w
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS g
      |  FROM t, UNNEST(range(1, len(w) - 3)) AS r(i)
      |  WHERE len(w) >= 5),
      |pdg AS (SELECT doc_id, g, count(*) AS cnt FROM wins GROUP BY 1, 2),
      |dfq AS (SELECT g FROM pdg GROUP BY g HAVING count(*) >= 2),
      |rep AS (
      |  SELECT doc_id, sum(cnt) AS rep_wins
      |  FROM pdg JOIN dfq USING (g) GROUP BY doc_id),
      |tot AS (SELECT doc_id, greatest(len(w) - 4, 0) AS n_windows FROM t)
      |SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
      |  round(CASE WHEN n_windows > 0
      |    THEN coalesce(rep_wins, 0) / CAST(n_windows AS DOUBLE)
      |    ELSE 0.0 END, 6) AS cross_frac
      |FROM tot LEFT JOIN rep USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Unigram-LM quality scoring (perplexity proxy), fully oracled: token
    * counts, smoothing arithmetic and the per-doc mean NLL restate in
    * DuckDB.
    */
  def textLmScore(s: SparkSession, d: String): DataFrame =
    TextStats.lmScore(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll_per_token"), 4).as("nll_per_token"))
      .orderBy("doc_id")

  val textLmScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> length(x) > 0)) AS tok
      |  FROM documents),
      |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |nv AS (SELECT sum(c) AS N, count(*) AS V FROM counts),
      |scored AS (
      |  SELECT doc_id, -ln((c + 1.0) / (N + 1.0 * V)) AS nll
      |  FROM toks JOIN counts USING (tok) CROSS JOIN nv)
      |SELECT d.doc_id,
      |  coalesce(s.n_tokens, 0) AS n_tokens,
      |  coalesce(s.nll_per_token, 0.0) AS nll_per_token
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    round(avg(nll), 4) AS nll_per_token
      |  FROM scored GROUP BY doc_id) s USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Character-entropy gibberish signal, fully oracled (histogram +
    * single-pass entropy identity restated in DuckDB).
    */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    TextStats.charEntropy(Tables.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_chars_counted"),
        round(col("char_entropy"), 6).as("char_entropy"))
      .orderBy("doc_id")

  val textEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, length(text) + 1),
      |      i -> substr(text, CAST(i AS INT), 1))) AS ch
      |  FROM documents),
      |hist AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
      |ent AS (
      |  SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS clog
      |  FROM hist GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n_chars_counted,
      |  round(coalesce(log2(n) - clog / n, 0.0), 6) AS char_entropy
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN ent USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .orderBy("canonical_id")

  val textFingerprintSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(
      |      list_filter(regexp_extract_all(lower(text),
      |        '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]'), x -> length(x) > 0))), ' ')) AS fp
      |  FROM documents)
      |SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_docs
      |FROM f GROUP BY fp ORDER BY canonical_id""".stripMargin

  // ---- curation (sampling / packing) ----

  /** Deterministic stratified sampling by language — the corpus-mix
    * operator. The md5 bucket arithmetic is engine-portable, so the
    * EXACT sampled row set is the oracle (not just counts).
    */
  def curationSample(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.stratifiedSample(
      Tables.documents(s, d), "doc_id", "lang",
      fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1),
      defaultFrac = 0.05)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val curationSampleSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#0')), 1, 15)) AS BIGINT) % 10000 AS bucket,
      |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
      |              WHEN 'fr' THEN 1000 ELSE 500 END AS threshold
      |  FROM documents)
      |WHERE bucket < threshold ORDER BY doc_id""".stripMargin

  /** Token-budget sequence packing (pretraining concat-and-chunk): every
    * document's global token offset and bin span under a 4096-token
    * budget. The Spark side computes the cumsum with the distributed
    * two-phase prefix sum (no single-task window); the oracle restates it
    * as a plain window cumsum — identical numbers, different physics.
    */
  def curationPack(s: SparkSession, d: String): DataFrame =
    graft.ext.Curation.packTokenBins(
      Tables.documents(s, d)
        .select(col("doc_id"), TextStats.wsTokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", budget = 4096L)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("start_offset"), col("start_bin"), col("end_bin"))
      .orderBy("doc_id")

  val curationPackSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  cum - n_tokens AS start_offset,
      |  (cum - n_tokens) // 4096 AS start_bin,
      |  greatest((cum - n_tokens) // 4096, (cum - 1) // 4096) AS end_bin
      |FROM c ORDER BY doc_id""".stripMargin

  /** The FULL curation pipeline as one row — corpus in, packed training
    * shard out: plant copies + PII → redact → quality gate → exact dedup
    * (copies collapse to originals) → per-domain cap → token count →
    * global token-budget packing. Every stage is engine-portable, so the
    * DuckDB oracle restates the entire chain and the hash check proves
    * the COMPOSITION, not just the pieces.
    */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    // suffix keyed on doc_id mod 1e6 so planted copies stay EXACT dups
    val mid = pmod(col("doc_id"), lit(1000000L))
    val planted = corpus.select(col("doc_id"), col("source"),
      concat(col("text"),
        lit(" contact user"), mid, lit("@example.com"),
        lit(" or +1 (555) 010-"), mid,
        lit(" from 192.168."), pmod(mid, lit(256)), lit(".17")).as("text"))
    val clean = planted.withColumn("text", Curation.redactPii(col("text")))
    // staged: exactDedup consumes its input twice (groups side + semi
    // join probe), and the regex/gate chain above is the expensive part
    val quality = graft.Caches.stage(
      clean.filter(TextStats.qualityKeep(col("text"))))
    val deduped = Dedup.exactDedup(quality, "doc_id", "text")
    val capped = Curation.capPerKey(deduped, "source", n = 20, orderCol = "doc_id")
    // stage the survivors: packTokenBins' distributed cumsum takes two
    // passes (partition totals, then offsets) plus the join back — an
    // unstaged plan would re-run the regex/gate/dedup/window upstream
    // for each (measured 14s -> ~2s on this row)
    val withTokens = graft.Caches.stage(
      capped.select(col("doc_id"), col("source"),
        TextStats.wsTokenCount(col("text")).cast("long").as("n_tokens")))
    Curation.packTokenBins(withTokens, "doc_id", "n_tokens", budget = 4096L)
      .join(withTokens.select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "n_tokens", "start_bin")
      .orderBy("doc_id")
  }

  val curationPipelineSql: String = {
    val sw = TextStats.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id < 50),
       |planted AS (
       |  SELECT doc_id, source,
       |    text || ' contact user' || (doc_id % 1000000) || '@example.com' ||
       |    ' or +1 (555) 010-' || (doc_id % 1000000) ||
       |    ' from 192.168.' || ((doc_id % 1000000) % 256) || '.17' AS text
       |  FROM corpus),
       |clean AS (
       |  SELECT doc_id, source,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text,
       |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
       |      '\\+?\\d[\\d() .-]{7,}\\d', '<PHONE>', 'g') AS text
       |  FROM planted),
       |m AS (
       |  SELECT doc_id, source, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS wsl,
       |    regexp_replace(text, '\\s+', '', 'g') AS nospace
       |  FROM clean),
       |quality AS (
       |  SELECT doc_id, source, text, len(ws) AS n_tokens FROM m
       |  WHERE len(ws) BETWEEN 5 AND 100000
       |    AND (CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END) > 3.017
       |    AND (CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END) < 9.983
       |    AND (CASE WHEN length(nospace) > 0 THEN CAST(length(regexp_replace(nospace, '[\\p{L}\\p{N}]+', '', 'g')) AS DOUBLE) / length(nospace) ELSE 0.0 END) < 0.1937
       |    AND (CASE WHEN len(wsl) > 0 THEN CAST(len(list_filter(wsl, x -> list_contains($sw, x))) AS DOUBLE) / len(wsl) ELSE 0.0 END) > 0.0213),
       |deduped AS (
       |  SELECT doc_id, source, n_tokens FROM (
       |    SELECT doc_id, source, n_tokens,
       |      min(doc_id) OVER (PARTITION BY md5(text)) AS winner
       |    FROM quality) WHERE doc_id = winner),
       |capped AS (
       |  SELECT doc_id, source, n_tokens FROM (
       |    SELECT doc_id, source, n_tokens,
       |      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
       |    FROM deduped) WHERE rk <= 20),
       |packed AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM capped)
       |SELECT doc_id, source, n_tokens,
       |  (cum - n_tokens) // 4096 AS start_bin
       |FROM packed ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style hard quality gate over the corpus: every doc labeled
    * keep/drop by the composite rule; the oracle restates each component
    * unrounded (the components hash-match in text_quality, and the gate
    * thresholds avoid exact-ratio boundaries).
    */
  def curationQualityGate(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextStats.qualityKeep(col("text")).cast("int").as("keep"))
      .orderBy("doc_id")

  val curationQualityGateSql: String = {
    val sw = TextStats.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS wsl,
       |    regexp_replace(text, '\\s+', '', 'g') AS nospace
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, len(ws) AS n_tokens,
       |    CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) ELSE 0.0 END AS awl,
       |    CASE WHEN length(nospace) > 0 THEN CAST(length(regexp_replace(nospace, '[\\p{L}\\p{N}]+', '', 'g')) AS DOUBLE) / length(nospace) ELSE 0.0 END AS pr,
       |    CASE WHEN len(wsl) > 0 THEN CAST(len(list_filter(wsl, x -> list_contains($sw, x))) AS DOUBLE) / len(wsl) ELSE 0.0 END AS swr
       |  FROM t)
       |SELECT doc_id,
       |  CAST(n_tokens BETWEEN 5 AND 100000
       |    AND awl > 3.017 AND awl < 9.983
       |    AND pr < 0.1937 AND swr > 0.0213 AS INTEGER) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Per-row weighted deterministic sample: weight grows with doc
    * length band (long docs kept more often — a quality-proportional
    * mix); the oracle pins the exact drawn set via the same md5 buckets.
    */
  def curationSampleWeighted(s: SparkSession, d: String): DataFrame =
    Curation.weightedSample(
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (least(col("n_chars"), lit(400)) / lit(800.0)).as("w")),
      "doc_id", "w")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  val curationSampleWeightedSql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#0')), 1, 15)) AS BIGINT) % 10000 AS bucket,
      |    round(least(n_chars, 400) / 800.0 * 10000) AS threshold
      |  FROM documents)
      |WHERE bucket < threshold ORDER BY doc_id""".stripMargin

  /** Deterministic exact-k sample — the oracle pins the EXACT drawn row
    * set (both engines order by the same md5 key).
    */
  def curationSampleK(s: SparkSession, d: String): DataFrame =
    Curation.sampleExactK(
      Tables.documents(s, d).select("doc_id", "source"), "doc_id", k = 100)
      .orderBy("doc_id")

  val curationSampleKSql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source FROM documents
      |  ORDER BY md5('s0:' || doc_id), doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  /** PII scrub pass over planted PII (the synthetic corpus carries none,
    * so emails/phones/IPs are appended deterministically and the full
    * redaction chain is hash-checked — both engines run the identical
    * alternation-free patterns, DuckDB with the 'g' flag to match
    * Spark's replace-all).
    */
  def curationPii(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" or +1 (555) 010-"), col("doc_id"),
          lit(" from 192.168."), pmod(col("doc_id"), lit(256)), lit(".17")
        ).as("text"))
    planted.select(col("doc_id"), Curation.redactPii(col("text")).as("clean"))
      .orderBy("doc_id")
  }

  val curationPiiSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com' ||
      |    ' or +1 (555) 010-' || doc_id ||
      |    ' from 192.168.' || (doc_id % 256) || '.17' AS text
      |  FROM documents WHERE doc_id < 300)
      |SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(text,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\+?\d[\d() .-]{7,}\d', '<PHONE>', 'g') AS clean
      |FROM planted ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: the "eval set" is the text of docs
    * doc_id < 20 (planted contamination — those docs trivially collide
    * with themselves, and any other doc sharing a 5-gram is flagged too),
    * the corpus is the whole documents table. Fully engine-portable: the
    * oracle regenerates both shingle sides and the distinct-hit counts.
    */
  def curationDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Curation.contaminationHits(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 20).select("text"), "text", n = 5)
      .orderBy("doc_id")
  }

  val curationDecontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) >= 5 THEN array_to_string(list_slice(w, i, i + 4), ' ')
      |         ELSE array_to_string(w, ' ') END AS gram
      |  FROM toks, UNNEST(range(1, CASE WHEN len(w) >= 5 THEN len(w) - 3 ELSE 2 END)) AS t(i)
      |  WHERE len(w) > 0),
      |bench AS (SELECT DISTINCT gram FROM sh WHERE doc_id < 20)
      |SELECT doc_id, count(*) AS n_hits
      |FROM sh JOIN bench USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** FUZZY decontamination, planted-truth gate (the dedup_minhash
    * pattern): every bench doc (< 20) is re-planted into the training
    * side under id + 1000000 with byte-identical text, so its MinHash
    * signature equals the bench doc's and est_jaccard is exactly 1.0 —
    * the oracle pins the full planted set. The gate filters to the
    * planted ids because NATURAL near-matches (train docs at 0.8-0.99 of
    * a bench doc) are signature-estimate-specific and not restatable in
    * portable SQL; the operator itself returns them all.
    */
  def curationDecontaminateFuzzy(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 20).select("text")
    val planted = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Curation.contaminationHitsFuzzy(docs.unionByName(planted),
        "doc_id", "text", bench, "text")
      .filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), round(col("max_est"), 4).as("max_est"))
      .orderBy("doc_id")
  }

  val curationDecontaminateFuzzySql: String =
    """SELECT doc_id + 1000000 AS doc_id, CAST(1.0 AS DOUBLE) AS max_est
      |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin

  /** Temperature-flattened corpus mixture (alpha = 0.5, the integer-exact
    * portable path): per-language keep rate sqrt(n_min / n_lang) — large
    * languages are cut toward the smallest one (post-sample counts
    * ∝ sqrt(n_lang)), computed in-plan and drawn with the same md5
    * buckets as every sampler here — the oracle restates the thresholds
    * AND the exact drawn row set.
    */
  def curationMixture(s: SparkSession, d: String): DataFrame =
    Curation.temperatureSample(Tables.documents(s, d), "doc_id", "lang",
      alpha = 0.5)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val curationMixtureSql: String =
    """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |m AS (SELECT min(n) AS nmin FROM counts),
      |thr AS (
      |  SELECT lang, CAST(floor(sqrt((100000000 * nmin) // n)) AS BIGINT) AS thr
      |  FROM counts, m)
      |SELECT doc_id, lang FROM documents JOIN thr USING (lang)
      |WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#0')), 1, 15)) AS BIGINT) % 10000 < thr
      |ORDER BY doc_id""".stripMargin

  /** Sliding-window token chunking (40-token windows, 10-token overlap):
    * the full chunk relation — indices, window text, window sizes — is
    * engine-portable list arithmetic, so the whole explode is
    * hash-checked.
    */
  def curationChunk(s: SparkSession, d: String): DataFrame =
    Curation.chunkTokens(
      Tables.documents(s, d).filter(col("doc_id") < 200).select("doc_id", "text"),
      "doc_id", "text", chunkSize = 40, overlap = 10)
      .orderBy("doc_id", "chunk_idx")

  val curationChunkSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS w
      |  FROM documents WHERE doc_id < 200),
      |c AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    CASE WHEN len(w) <= 40 THEN 1
      |         ELSE CAST(ceil((len(w) - 10) / 30.0) AS BIGINT) END AS k
      |  FROM t)
      |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |  array_to_string(list_slice(w, i * 30 + 1, i * 30 + 40), ' ') AS chunk_text,
      |  CAST(greatest(least(40, n - i * 30), 0) AS INT) AS n_chunk_tokens
      |FROM c, UNNEST(range(0, k)) AS r(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Accent folding over planted diacritics (the corpus is ASCII, so the
    * Latin-diacritic suffix is appended deterministically — and BOTH
    * sides ASCII-gate the base text so a non-ASCII row at a future SF is
    * excluded identically rather than probing the engines' disagreeing
    * edge cases like ß/œ). Java NFC+NFD+strip-marks vs DuckDB
    * nfc_normalize+strip_accents, full chain hash-checked.
    */
  def curationNormalize(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .filter(col("text").rlike("^[\\x00-\\x7F]*$"))
      .select(col("doc_id"), concat(col("text"),
        lit(" Café München façade naïve àèêîôû ÉÜÑ no"),
        col("doc_id")).as("text"))
    planted.select(col("doc_id"),
      Curation.foldAccents(Curation.normalizeUnicode(col("text"))).as("clean"))
      .orderBy("doc_id")
  }

  val curationNormalizeSql: String =
    """SELECT doc_id,
      |  strip_accents(nfc_normalize(
      |    text || ' Café München façade naïve àèêîôû ÉÜÑ no' || doc_id)) AS clean
      |FROM documents
      |WHERE doc_id < 300 AND regexp_matches(text, '^[\x00-\x7F]*$')
      |ORDER BY doc_id""".stripMargin

  /** Sentence segmentation explode, fully oracled (the split pattern is
    * lookaround-free so Java regex and RE2 agree; empty fragments are
    * filtered on both sides).
    */
  def curationSentences(s: SparkSession, d: String): DataFrame =
    Curation.sentences(
        Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text")
      .withColumn("n_sent_tokens", TextStats.wsTokenCount(col("sentence")))
      .orderBy("doc_id", "sent_idx")

  val curationSentencesSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(
      |      list_transform(string_split_regex(text, '[.!?]\s+'), x -> trim(x)),
      |      x -> length(x) > 0) AS sents
      |  FROM documents WHERE doc_id < 200)
      |SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, sents[i] AS sentence,
      |  CAST(len(list_filter(string_split_regex(sents[i], '\s+'),
      |    x -> length(x) > 0)) AS INT) AS n_sent_tokens
      |FROM t, UNNEST(range(1, len(sents) + 1)) AS r(i)
      |ORDER BY doc_id, sent_idx""".stripMargin

  /** C4/CC-style per-domain cap: at most 20 docs per source, lowest
    * doc_id first — deterministic, reproducible curation cut.
    */
  def curationDomainCap(s: SparkSession, d: String): DataFrame =
    Curation.capPerKey(
      Tables.documents(s, d).select("doc_id", "source"),
      "source", n = 20, orderCol = "doc_id")
      .orderBy("doc_id")

  val curationDomainCapSql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 20 ORDER BY doc_id""".stripMargin

  // ---- FTS ----

  def ftsSearch(s: SparkSession, d: String): DataFrame = {
    val idx = Fts.buildIndex(Tables.documents(s, d), "doc_id", Seq("text"))
    Fts.search(idx, "spark").orderBy("doc_id").select("doc_id", "tf")
  }

  val ftsSearchSql: String =
    """SELECT doc_id, count(*) AS tf FROM (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |  FROM documents)
      |WHERE term = 'spark' GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def ftsRank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = Fts.buildIndex(docs, "doc_id", Seq("text"))
    Fts.searchAllFrom(idx, docs, Seq("spark", "window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  /** tf-idf AND-ranking in SQL: idf = ln((N+1)/(df+1)), score = Σ tf·idf,
    * docs containing both terms, top 50 (ties broken by doc_id on both
    * sides, so the cut is deterministic).
    */
  val ftsRankSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT count(*) AS nd FROM documents),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term IN ('spark', 'window') GROUP BY term),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    sum(tf * ln((nd + 1.0) / (df + 1.0))) AS score
      |  FROM idx JOIN dfq USING (term) CROSS JOIN n
      |  GROUP BY doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg WHERE n_terms = 2
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** OR query (FTS5 `spark OR window`): any-term membership, Σ tf·idf
    * over the terms present — fts_rank minus the all-terms gate.
    */
  def ftsOr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = Fts.buildIndex(docs, "doc_id", Seq("text"))
    Fts.searchAnyFrom(idx, docs, Seq("spark", "window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val ftsOrSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT count(*) AS nd FROM documents),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term IN ('spark', 'window') GROUP BY term),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    sum(tf * ln((nd + 1.0) / (df + 1.0))) AS score
      |  FROM idx JOIN dfq USING (term) CROSS JOIN n
      |  GROUP BY doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** BM25(1.2, 0.75) AND-ranking (FTS5's own `bm25()` rank function):
    * doc length from the index (Σ tf), avgdl and N as in-plan scalars,
    * the non-negative ln(1 + (N−df+0.5)/(df+0.5)) idf — all restated
    * closed-form in the oracle, so the full scoring chain is hash-checked.
    */
  def ftsBm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = Fts.buildIndex(docs, "doc_id", Seq("text"))
    Fts.searchBm25From(idx, docs, Seq("spark", "window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val ftsBm25Sql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM idx GROUP BY doc_id),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term IN ('spark', 'window') GROUP BY term),
      |agg AS (
      |  SELECT i.doc_id, count(*) AS n_terms,
      |    sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
      |        / (tf + 1.2 * (0.25 + 0.75 * l.dl / ad.avgdl))) AS score
      |  FROM idx i JOIN dfq USING (term) JOIN dl l ON l.doc_id = i.doc_id
      |  CROSS JOIN n CROSS JOIN ad
      |  GROUP BY i.doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg WHERE n_terms = 2
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** More-like-this sparse similarity: top-10 docs by tf-idf cosine to
    * doc 0, computed through the inverted index (term-keyed join, no
    * dense vectors, no pair scan). Oracle restates the full chain — idf,
    * weights, norms, maxDf stopword drop, dot, cosine — closed-form.
    */
  def ftsSimilarDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = graft.Caches.stage(Fts.buildIndex(docs, "doc_id", Seq("text")))
    // maxDf = 0.9 FOR THIS GATE (the operator's 0.5 default stands): the
    // sf documents are template-generated and doc 0's rarest term appears
    // in ~75% of docs, so a 0.5 cutoff empties the query vector and both
    // engines returned 0 rows — a vacuous hash match. 0.9 keeps the
    // moderately-common terms, so the oracle pins a NONEMPTY top-10
    // through the real dot/norm/cosine path. k = 0: take the FULL ranking
    // and cut the top-10 on the ROUNDED cosine with doc_id tiebreak — the
    // exact ordering the oracle uses, so raw-cosine ties that round equal
    // at the rank boundary cannot select different sets on the two sides.
    Fts.similarDocs(idx, docs, queryDocId = 0L, k = 0, maxDf = 0.9)
      .select(col("doc_id"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(10)
  }

  val ftsSimilarDocsSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |idf AS (
      |  SELECT term, ln((nd + 1.0) / (count(*) + 1.0)) AS idf,
      |    count(*) / nd AS df_frac
      |  FROM idx CROSS JOIN n GROUP BY term, nd),
      |w AS (
      |  SELECT i.doc_id, i.term, i.tf * f.idf AS w, f.df_frac
      |  FROM idx i JOIN idf f USING (term)),
      |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
      |q AS (SELECT term, w AS qw FROM w WHERE doc_id = 0 AND df_frac <= 0.9),
      |dots AS (
      |  SELECT w.doc_id, sum(w.w * q.qw) AS dot
      |  FROM w JOIN q USING (term)
      |  WHERE w.doc_id <> 0 AND w.df_frac <= 0.9
      |  GROUP BY w.doc_id)
      |SELECT d.doc_id, round(d.dot / (nm.norm * qn.norm), 4) AS cosine
      |FROM dots d JOIN norms nm USING (doc_id)
      |CROSS JOIN (SELECT norm FROM norms WHERE doc_id = 0) qn(norm)
      |ORDER BY cosine DESC, d.doc_id LIMIT 10""".stripMargin

  /** Incremental FTS store lifecycle, end-to-end under the hash gate:
    * create on 80% of the corpus, append the other 20%, re-append every
    * 20th doc with extra terms (an UPDATE — latest segment must win),
    * tombstone every 97th ([[graft.fts.FtsStore.delete]]) — then tf-idf
    * AND-rank over the store's CURRENT state through the bucket-pruned
    * probe path. The oracle restates the final corpus directly (CASE for
    * the update, WHERE for the delete): supersession, tombstones and the
    * churn anti-join must reproduce exactly the index a fresh build over
    * that corpus would give. doc_id 0 is updated AND deleted — delete
    * lands in a later segment, so it must win on both sides.
    */
  def ftsIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val store = graft.Caches.newTempDir("graft_ftsstore").toString
    FtsStore.create(docs.filter(col("doc_id") % 10 < 8), "doc_id",
      Seq("text"), store, numBuckets = 8)
    FtsStore.append(docs.filter(col("doc_id") % 10 >= 8), "doc_id",
      Seq("text"), store)
    FtsStore.append(
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" spark refreshed")).as("text")),
      "doc_id", Seq("text"), store)
    FtsStore.delete(docs.filter(col("doc_id") % 97 === 0).select("doc_id"),
      "doc_id", store)
    FtsStore.searchAll(s, store, Seq("spark", "window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val ftsIncrementalSql: String =
    """WITH cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 20 = 0 THEN text || ' spark refreshed'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 97 <> 0),
      |idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM cur)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT count(*) AS nd FROM cur),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term IN ('spark', 'window') GROUP BY term),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    sum(tf * ln((nd + 1.0) / (df + 1.0))) AS score
      |  FROM idx JOIN dfq USING (term) CROSS JOIN n
      |  GROUP BY doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg WHERE n_terms = 2
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** Prefix query over the INCREMENTAL store: the probe reads only the
    * buckets whose termrange sidecar admits `wind*` in each segment —
    * the bucket-level zone map that hash partitioning lacks
    * ([[graft.fts.FtsStore.postingsForPrefix]]) — yet must answer
    * byte-identically to the build-once prefix scan, across appended,
    * updated, AND tombstoned docs. The oracle is the same closed-form
    * LIKE query over the logically-current corpus.
    */
  def ftsPrefixStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val store = graft.Caches.newTempDir("graft_ftsstore").toString
    FtsStore.create(docs.filter(col("doc_id") % 10 < 8), "doc_id",
      Seq("text"), store, numBuckets = 8)
    FtsStore.append(docs.filter(col("doc_id") % 10 >= 8), "doc_id",
      Seq("text"), store)
    FtsStore.delete(docs.filter(col("doc_id") % 97 === 0).select("doc_id"),
      "doc_id", store)
    FtsStore.searchPrefix(s, store, "wind")
      .select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(100)
  }

  val ftsPrefixStoreSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents WHERE doc_id % 97 <> 0)
      |  WHERE term <> '' GROUP BY doc_id, term)
      |SELECT doc_id, count(DISTINCT term) AS n_terms,
      |  CAST(sum(tf) AS BIGINT) AS score
      |FROM idx WHERE term LIKE 'wind%' GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  /** BM25 over the incremental store AFTER compaction, scored from the
    * PERSISTED doc-stats side table ([[graft.fts.FtsStore.liveDocs]]) —
    * |D|, avgdl and N never recomputed from the corpus (the side table
    * [[Fts.searchBm25From]]'s scaladoc promises for scale). Same churn
    * fixture as fts_incremental plus a [[graft.fts.FtsStore.compact]],
    * so the maintenance path itself sits under the driver's hash gate:
    * compaction must preserve every posting, stat and score bit-exactly.
    *
    * Constant analysis (r18 statement-level profile at sf0.1, warm): the row is the
    * full store LIFECYCLE — create ~2.4 s (tokenize 80% of the corpus +
    * bucket-partitioned postings write), two appends ~1.5-2.5 s each
    * (tokenize + 3 jobs: empty-probe, postings, doc-stats), delete
    * ~0.4 s, compact ~2.5 s (the deliberate O(store) rewrite), and the
    * actual ranked probe only ~0.9-1.1 s (term-bucket-pruned postings +
    * persisted stats). Per-statement job counts are already minimal
    * (postings staged once; the doc-stats pass re-reads only the
    * column-pruned id; the empty-probe guards streaming replays whose
    * empty write would break segment schema inference) — the row's
    * weight is the measured maintenance fixture, not a probe constant.
    */
  def ftsBm25Store(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val store = graft.Caches.newTempDir("graft_ftsstore").toString
    FtsStore.create(docs.filter(col("doc_id") % 10 < 8), "doc_id",
      Seq("text"), store, numBuckets = 8)
    FtsStore.append(docs.filter(col("doc_id") % 10 >= 8), "doc_id",
      Seq("text"), store)
    FtsStore.append(
      docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" spark refreshed")).as("text")),
      "doc_id", Seq("text"), store)
    FtsStore.delete(docs.filter(col("doc_id") % 97 === 0).select("doc_id"),
      "doc_id", store)
    FtsStore.compact(s, store)
    FtsStore.searchBm25(s, store, Seq("spark", "window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val ftsBm25StoreSql: String =
    """WITH cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 20 = 0 THEN text || ' spark refreshed'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 97 <> 0),
      |idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM cur)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM cur),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM idx GROUP BY doc_id),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term IN ('spark', 'window') GROUP BY term),
      |agg AS (
      |  SELECT i.doc_id, count(*) AS n_terms,
      |    sum(ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
      |        / (tf + 1.2 * (0.25 + 0.75 * l.dl / ad.avgdl))) AS score
      |  FROM idx i JOIN dfq USING (term) JOIN dl l ON l.doc_id = i.doc_id
      |  CROSS JOIN n CROSS JOIN ad
      |  GROUP BY i.doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg WHERE n_terms = 2
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** Prefix query (FTS5 `wind*`): every index term with the prefix OR'd,
    * scored by plain Σ tf (FTS5 treats the expansion as one token).
    */
  def ftsPrefix(s: SparkSession, d: String): DataFrame = {
    val idx = Fts.buildIndex(Tables.documents(s, d), "doc_id", Seq("text"))
    Fts.searchPrefix(idx, "wind")
      .select(col("doc_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(100)
  }

  val ftsPrefixSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term)
      |SELECT doc_id, count(DISTINCT term) AS n_terms,
      |  CAST(sum(tf) AS BIGINT) AS score
      |FROM idx WHERE term LIKE 'wind%' GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  /** Phrase query (FTS5 `"table hash"`) over the positional index; the
    * oracle restates the position-alignment semantics (overlap-correct)
    * with a DuckDB list comprehension over token subscripts.
    */
  def ftsPhrase(s: SparkSession, d: String): DataFrame = {
    val idx = Fts.buildPositionalIndex(Tables.documents(s, d), "doc_id", Seq("text"))
    Fts.searchPhrase(idx, "table hash")
      .orderBy(col("occurrences").desc, col("doc_id"))
  }

  val ftsPhraseSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    len(list_filter(range(1, greatest(len(toks), 1)),
      |        i -> toks[i] = 'table' AND toks[i+1] = 'hash')) AS occurrences
      |  FROM t)
      |SELECT doc_id, occurrences FROM occ WHERE occurrences > 0
      |ORDER BY occurrences DESC, doc_id""".stripMargin

  /** Phrase query over the INCREMENTAL store with churn (append +
    * delete): the probe reads only the phrase terms' buckets per live
    * segment ([[graft.fts.FtsStore.searchPhrase]]) yet must align
    * positions identically to the build-once scan over the logically
    * current corpus, which the oracle restates with a DuckDB list
    * comprehension.
    */
  def ftsPhraseStore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val store = graft.Caches.newTempDir("graft_ftsstore").toString
    FtsStore.create(docs.filter(col("doc_id") % 10 < 8), "doc_id",
      Seq("text"), store, numBuckets = 8)
    FtsStore.append(docs.filter(col("doc_id") % 10 >= 8), "doc_id",
      Seq("text"), store)
    FtsStore.delete(docs.filter(col("doc_id") % 97 === 0).select("doc_id"),
      "doc_id", store)
    FtsStore.searchPhrase(s, store, "table hash")
      .orderBy(col("occurrences").desc, col("doc_id"))
  }

  val ftsPhraseStoreSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents WHERE doc_id % 97 <> 0),
      |occ AS (
      |  SELECT doc_id,
      |    len(list_filter(range(1, greatest(len(toks), 1)),
      |        i -> toks[i] = 'table' AND toks[i+1] = 'hash')) AS occurrences
      |  FROM t)
      |SELECT doc_id, occurrences FROM occ WHERE occurrences > 0
      |ORDER BY occurrences DESC, doc_id""".stripMargin

  /** Exclusion query (FTS5 `spark NOT window`): docs containing 'spark'
    * but not 'window', scored by spark's tf·idf alone — membership from
    * the excluded term, score from the included one, both restated
    * closed-form in the oracle.
    */
  def ftsNot(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val idx = graft.Caches.stage(Fts.buildIndex(docs, "doc_id", Seq("text")))
    Fts.searchNotFrom(idx, docs, Seq("spark"), Seq("window"))
      .select(col("doc_id"), col("n_terms"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
  }

  val ftsNotSql: String =
    """WITH idx AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS term
      |    FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |n AS (SELECT count(*) AS nd FROM documents),
      |dfq AS (SELECT term, count(*) AS df FROM idx
      |        WHERE term = 'spark' GROUP BY term),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    sum(tf * ln((nd + 1.0) / (df + 1.0))) AS score
      |  FROM idx JOIN dfq USING (term) CROSS JOIN n
      |  GROUP BY doc_id)
      |SELECT doc_id, n_terms, round(score, 4) AS score
      |FROM agg
      |WHERE n_terms = 1 AND NOT EXISTS (
      |  SELECT 1 FROM idx x WHERE x.doc_id = agg.doc_id AND x.term = 'window')
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** Proximity query (FTS5 `NEAR(table hash, 6)`): a 'table' and a 'hash'
    * occurrence within 6 intervening tokens, pair-counted per doc. The
    * oracle restates |posA − posB| ≤ 7 closed-form over token subscripts
    * (1-based there, 0-based here — differences are basis-invariant).
    */
  def ftsNear(s: SparkSession, d: String): DataFrame = {
    val idx = Fts.buildPositionalIndex(Tables.documents(s, d), "doc_id", Seq("text"))
    Fts.searchNear(idx, "table", "hash", n = 6)
      .orderBy(col("occurrences").desc, col("doc_id"))
  }

  val ftsNearSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |      x -> length(x) > 0) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'table') AS pa,
      |    list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS pb
      |  FROM t),
      |occ AS (
      |  SELECT doc_id,
      |    CAST(coalesce(list_sum(list_transform(pa,
      |      i -> len(list_filter(pb, j -> abs(i - j) <= 7)))), 0) AS BIGINT)
      |      AS occurrences
      |  FROM p)
      |SELECT doc_id, occurrences FROM occ WHERE occurrences > 0
      |ORDER BY occurrences DESC, doc_id""".stripMargin

  // ---- multimodal ----

  /** Image decode/resize/feature-extract plumbing, fully oracled: the
    * StubCodec feature is a modular polynomial fold over every
    * `max(1, len/64)`-th byte of the (ASCII) payload — restated in DuckDB
    * as list_reduce over ord() codepoints. The query pins the integer
    * hash numerator (feature × HashMod, exactly recoverable from the
    * float32 feature since HashMod < 2^24) — no float-rounding hazard.
    */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    // ASCII gate on BOTH sides: the stub folds UTF-8 octets while the
    // oracle folds codepoints — equal only on ASCII payloads, so non-ASCII
    // rows at a future SF must be excluded identically rather than let the
    // two silently diverge
    val media = Multimodal.synthesize(s,
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .filter(col("text").rlike("^[\\x00-\\x7F]*$")), "doc_id", "text")
    Multimodal.imageFeatures(media).toDF()
      .select(col("media_id"), col("width"), col("height"),
        round(element_at(col("features"), 1).cast("double") * Multimodal.HashMod)
          .cast("long").as("f0_hash"))
      .orderBy("media_id")
  }

  val multimodalFeaturesSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    greatest(1, length(text) // 64) AS step
      |  FROM documents
      |  WHERE doc_id < 200 AND regexp_matches(text, '^[\x00-\x7F]*$'))
      |SELECT doc_id AS media_id, 224 AS width, 224 AS height,
      |  CAST(list_reduce(
      |    list_prepend(1125899906842597 % 1000003,
      |      list_transform(range(0, len, CAST(step AS BIGINT)),
      |        i -> ord(substr(text, CAST(i + 1 AS INT), 1)))),
      |    (acc, b) -> (31 * acc + b) % 1000003) AS BIGINT) AS f0_hash
      |FROM t ORDER BY media_id""".stripMargin

  def multimodalFrames(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.synthesize(s, Tables.documents(s, d).limit(50),
      "doc_id", "text", kind = "video")
    Multimodal.videoFrames(media, everyMs = 10000L).toDF()
      .select("media_id", "frame_idx", "ts_ms")
      .orderBy("media_id", "frame_idx")
  }

  /** Audio resample chunking: the chunk grid (start, real sample count at
    * the target rate) is pure metadata arithmetic — oracle-checked; the
    * PCM payload is the honestly-stubbed codec part.
    */
  def multimodalAudio(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.synthesize(s,
      Tables.documents(s, d).filter(col("doc_id") < 100),
      "doc_id", "text", kind = "audio")
    Multimodal.audioChunks(media, targetRate = 8000, chunkMs = 5000L).toDF()
      .select("media_id", "chunk_idx", "start_ms", "n_samples")
      .orderBy("media_id", "chunk_idx")
  }

  val multimodalAudioSql: String =
    """SELECT doc_id AS media_id, CAST(i AS INT) AS chunk_idx,
      |  i * 5000 AS start_ms,
      |  CAST(least(5000, n_chars * 100 - i * 5000) * 8 AS INT) AS n_samples
      |FROM documents, UNNEST(range(0, CAST(ceil(n_chars * 100.0 / 5000) AS BIGINT))) AS t(i)
      |WHERE doc_id < 100
      |ORDER BY media_id, chunk_idx""".stripMargin

  /** Perceptual-hash image near-dup: pHash-64 every synthesized image,
    * then bucketed hamming pairs through the SimHash pigeonhole machinery
    * ([[graft.ext.Dedup.hammingPairsFromSigs]], reused verbatim — never
    * all-pairs). PLANTED TRUTH: docs < 50 are re-synthesized under
    * media_id + 100000 with byte-identical payloads; identical payload ⇒
    * identical StubCodec grid ⇒ identical pHash ⇒ distance 0, so the
    * oracle restates the expected pair set as a payload-equality self-join
    * (plus any natural exact-text twins among the originals) — pinning
    * both that true copies SURVIVE the grid→DCT→median→pigeonhole chain
    * and that no false pair leaks through it (different payloads hash
    * far apart). The PERCEPTUAL property — near-identical-but-not-equal
    * images at small distance — needs a real decoder and is spec'd with
    * ImageIoCodec gradients in MultimodalSpec, not oracle-checkable here.
    */
  def multimodalPhashDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select("doc_id", "text")
    val planted = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val media = Multimodal.synthesize(s, base.unionByName(planted),
      "doc_id", "text")
    // staged like simhashDupPairs stages its signatures: the pigeonhole
    // self-join references the sig frame on both sides, and without the
    // cache each side would re-decode + re-DCT the whole corpus
    val sigs = graft.Caches.stage(Multimodal.phash64(media)
      .select(col("media_id").as("doc_id"), col("phash").as("sig")))
    // maxDist=3 keeps the gate inside the 4×16-bit pigeonhole's
    // EXHAUSTIVE regime (dist<=3 guarantees a shared chunk; dist=4 can
    // split 1+1+1+1 across all four) — planted truth is dist 0, so
    // nothing gated is lost and the row no longer leans on the stub
    // hash's avalanche property for stability
    Dedup.hammingPairsFromSigs(sigs, maxDist = 3)
      .select(col("id_a"), col("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  val multimodalPhashDedupSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 500
      |  UNION ALL
      |  SELECT doc_id + 100000 AS media_id, text FROM documents WHERE doc_id < 50)
      |SELECT a.media_id AS id_a, b.media_id AS id_b, CAST(0 AS INT) AS dist
      |FROM m a JOIN m b ON a.text = b.text AND a.media_id < b.media_id
      |ORDER BY id_a, id_b""".stripMargin

  /** pHash image near-dup GROUPS — the full image-dedup story, mirror of
    * [[dedupMinhashGroups]]: images → phash64 → pigeonhole pairs →
    * connected components → canonical (min-id) keep. PLANTED TRUTH: docs
    * < 50 are re-synthesized TWICE (+100000, +200000) with byte-identical
    * payloads, so each forms a 3-member component rooted at the original;
    * the residue filter restricts edges to the planted relation exactly
    * as dedupMinhashGroups does (natural exact-text twins are covered by
    * multimodal_phash_dedup's pair gate), making groups and keep flags
    * closed-form: group_id = doc_id % 100000, keep = original.
    */
  def multimodalPhashGroups(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select("doc_id", "text")
    val dups = base.filter(col("doc_id") < 50)
    val planted = base
      .unionByName(dups.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(dups.select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val media = Multimodal.synthesize(s, planted, "doc_id", "text")
    val sigs = graft.Caches.stage(Multimodal.phash64(media)
      .select(col("media_id").as("doc_id"), col("phash").as("sig")))
    val edges = Dedup.hammingPairsFromSigs(sigs, maxDist = 3)
      .filter(pmod(col("id_a"), lit(100000L)) === pmod(col("id_b"), lit(100000L)))
    Dedup.connectedComponents(planted.select("doc_id"), edges, maxIters = 20)
      .select(col("doc_id"),
        col("component_id").as("group_id"),
        (col("doc_id") === col("component_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val multimodalPhashGroupsSql: String =
    """SELECT doc_id, doc_id % 100000 AS group_id,
      |  CAST(doc_id < 100000 AS INTEGER) AS keep
      |FROM (SELECT doc_id FROM documents WHERE doc_id < 500
      |      UNION ALL SELECT doc_id + 100000 FROM documents WHERE doc_id < 50
      |      UNION ALL SELECT doc_id + 200000 FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id""".stripMargin

  val multimodalFramesSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(unnest(range(0, CAST(ceil(n_chars * 100.0 / 10000) AS BIGINT))) AS INT) AS frame_idx,
      |  unnest(range(0, CAST(ceil(n_chars * 100.0 / 10000) AS BIGINT))) * 10000 AS ts_ms
      |FROM documents WHERE doc_id < 50
      |ORDER BY media_id, frame_idx""".stripMargin

  def queries: Map[String, Q] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash128" -> (dedupSimhash128 _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_fuzzy" -> (dedupFuzzy _),
    "dedup_minhash_groups" -> (dedupMinhashGroups _),
    "dedup_group_minhash" -> (dedupGroupMinhash _),
    "dedup_components" -> (dedupComponents _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_spans" -> (dedupSpans _),
    "ann_brute_force" -> (annBruteForce _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_pq" -> (annPq _),
    "ann_ivfpq" -> (annIvfPq _),
    "ann_ivfpq_append" -> (annIvfPqAppend _),
    "ann_ivfpq_reindex" -> (annIvfPqReindex _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_pagerank_dangling" -> (graphPagerankDangling _),
    "graph_pagerank_personalized" -> (graphPagerankPersonalized _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_repetition" -> (textRepetition _),
    "text_cross_repetition" -> (textCrossRepetition _),
    "text_lm_score" -> (textLmScore _),
    "text_entropy" -> (textEntropy _),
    "curation_sample" -> (curationSample _),
    "curation_pack" -> (curationPack _),
    "curation_pii" -> (curationPii _),
    "curation_sample_k" -> (curationSampleK _),
    "curation_sample_weighted" -> (curationSampleWeighted _),
    "curation_quality_gate" -> (curationQualityGate _),
    "curation_pipeline" -> (curationPipeline _),
    "curation_domain_cap" -> (curationDomainCap _),
    "curation_decontaminate" -> (curationDecontaminate _),
    "curation_decontaminate_fuzzy" -> (curationDecontaminateFuzzy _),
    "curation_mixture" -> (curationMixture _),
    "curation_chunk" -> (curationChunk _),
    "curation_normalize" -> (curationNormalize _),
    "curation_sentences" -> (curationSentences _),
    "fts_search" -> (ftsSearch _),
    "fts_or" -> (ftsOr _),
    "fts_prefix" -> (ftsPrefix _),
    "fts_phrase" -> (ftsPhrase _),
    "fts_near" -> (ftsNear _),
    "fts_not" -> (ftsNot _),
    "fts_rank" -> (ftsRank _),
    "fts_bm25" -> (ftsBm25 _),
    "fts_similar_docs" -> (ftsSimilarDocs _),
    "fts_incremental" -> (ftsIncremental _),
    "fts_prefix_store" -> (ftsPrefixStore _),
    "fts_phrase_store" -> (ftsPhraseStore _),
    "fts_bm25_store" -> (ftsBm25Store _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_audio" -> (multimodalAudio _),
    "multimodal_phash_dedup" -> (multimodalPhashDedup _),
    "multimodal_phash_groups" -> (multimodalPhashGroups _))

  def oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_minhash" -> dedupMinhashSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash128" -> dedupSimhash128Sql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_fuzzy" -> dedupFuzzySql,
    "dedup_minhash_groups" -> dedupMinhashGroupsSql,
    "dedup_group_minhash" -> dedupGroupMinhashSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_spans" -> dedupSpansSql,
    "ann_brute_force" -> annBruteForceSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_pq" -> annPqSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_ivfpq_append" -> annIvfPqAppendSql,
    "ann_ivfpq_reindex" -> annIvfPqReindexSql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_pagerank_dangling" -> graphPagerankDanglingSql,
    "graph_pagerank_personalized" -> graphPagerankPersonalizedSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangidSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_repetition" -> textRepetitionSql,
    "text_cross_repetition" -> textCrossRepetitionSql,
    "text_lm_score" -> textLmScoreSql,
    "text_entropy" -> textEntropySql,
    "curation_sample" -> curationSampleSql,
    "curation_pack" -> curationPackSql,
    "curation_pii" -> curationPiiSql,
    "curation_sample_k" -> curationSampleKSql,
    "curation_sample_weighted" -> curationSampleWeightedSql,
    "curation_quality_gate" -> curationQualityGateSql,
    "curation_pipeline" -> curationPipelineSql,
    "curation_domain_cap" -> curationDomainCapSql,
    "curation_decontaminate" -> curationDecontaminateSql,
    "curation_decontaminate_fuzzy" -> curationDecontaminateFuzzySql,
    "curation_mixture" -> curationMixtureSql,
    "curation_chunk" -> curationChunkSql,
    "curation_normalize" -> curationNormalizeSql,
    "curation_sentences" -> curationSentencesSql,
    "fts_search" -> ftsSearchSql,
    "fts_or" -> ftsOrSql,
    "fts_prefix" -> ftsPrefixSql,
    "fts_phrase" -> ftsPhraseSql,
    "fts_near" -> ftsNearSql,
    "fts_not" -> ftsNotSql,
    "fts_rank" -> ftsRankSql,
    "fts_bm25" -> ftsBm25Sql,
    "fts_similar_docs" -> ftsSimilarDocsSql,
    "fts_incremental" -> ftsIncrementalSql,
    "fts_prefix_store" -> ftsPrefixStoreSql,
    "fts_phrase_store" -> ftsPhraseStoreSql,
    "fts_bm25_store" -> ftsBm25StoreSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames" -> multimodalFramesSql,
    "multimodal_audio" -> multimodalAudioSql,
    "multimodal_phash_dedup" -> multimodalPhashDedupSql,
    "multimodal_phash_groups" -> multimodalPhashGroupsSql)
}
