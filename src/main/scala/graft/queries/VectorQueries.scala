package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.util.Stages
import Q._

/** Embedding similarity search over `embeddings` (north-star ops).
  * Brute-force top-k carries a DuckDB oracle (both sides compute the dot
  * product as a sequential double fold and round to 4 digits before
  * ranking); the LSH variant is rows-only with recall asserted in tests.
  */
object VectorQueries {

  type QFn = (SparkSession, String) => DataFrame

  /** Bench/gate config split for the ANN queries (q52/q84/q95). The
    * CORRECTNESS gate wants full coverage (probe every cell, shortlist ≥
    * corpus) so the output provably equals exact top-k and the DuckDB
    * hash checks the cell/ADC/rerank plumbing; the BENCH wants the
    * sub-linear operating point a real user runs (nprobe=4,
    * shortlist=50 — recall at that point is the IvfSpec/PqSpec
    * assertion). Timing the exhaustive config reads as a 2-3x
    * regression in the trend view while measuring nothing a user sees.
    * Bench sets this JVM property before its sweep; Verify never does,
    * so the oracle dump stays full-coverage. */
  private[graft] def annSublinear: Boolean =
    sys.props.get("graft.ann.sublinear").exists(_.equalsIgnoreCase("true"))
  private def annNprobe: Int = if (annSublinear) 4 else 16
  private def annShortlist: Int = if (annSublinear) 50 else 1000000

  /** Shared trained-codebook memos, keyed by data dir (VERDICT r14 #3):
    * PQ/IVF-PQ training is deterministic (hash-seeded inits, fixed
    * iteration counts), so a trained model is a pure function of
    * (corpus, config) and reusing it changes no output bytes — the
    * correctness gate hashes identically whether the model came from the
    * memo or a fresh train. Bench pre-populates via [[fixtureGroups]]
    * (fx4/fx5, timed under their own keys), so the q84/q95 gates time
    * the SEARCH path — the product surface a real user exercises per
    * query batch — instead of re-deriving identical codebooks (~4 s of
    * redundant training per sweep). Driver-side objects only (k×D
    * doubles), so they survive the per-query cache drain. */
  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.Pq.Model]()
  private val ivfpqIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.IvfPq.Index]()
  private[graft] def pqModel(s: SparkSession, dir: String): graft.ext.Pq.Model =
    pqModels.computeIfAbsent(dir, _ =>
      graft.ext.Pq.train(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 3))
  private[graft] def ivfpqIndex(s: SparkSession,
      dir: String): graft.ext.IvfPq.Index =
    ivfpqIndexes.computeIfAbsent(dir, _ =>
      graft.ext.IvfPq.trainIndex(t(s, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, kCells = 16, m = 8, kCodes = 16, iters = 2))

  /** Bench hook (same contract as VersionedQueries.fixtureGroups): force
    * the trained-codebook memos under their own timed keys, so the gate
    * members time probe/encode/rerank — a regression in the search path
    * is visible again instead of drowning under retraining cost. */
  val fixtureGroups: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fx4_pq_codebook_fixture" -> ((s: SparkSession, dir: String) => {
      pqModel(s, dir); ()
    }),
    "fx5_ivfpq_index_fixture" -> ((s: SparkSession, dir: String) => {
      ivfpqIndex(s, dir); ()
    }))

  val queries: Map[String, QFn] = Map(
    // Embedding-space drift between the label-0 and label-1 vector
    // populations: corpus sizes, mean norms, centroid cosine + L2 —
    // the representation-level release gate. Hash-checked end-to-end.
    "q130_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
        emb.filter(col("label") === 0),
        emb.filter(col("label") === 1), "embedding")
    }),

    // Exact ANN baseline: 16 query vectors against the full corpus,
    // query side broadcast so the corpus never shuffles.
    "q33_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          corpus = emb, queries = emb.filter(col("vec_id") < 16),
          idCol = "vec_id", vecCol = "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // LSH-bucketed ANN, multi-probe, with the SQL-expressible sign-bit
    // hash family so bucketing + probing + candidate scoring + ranking
    // are ALL hash-checked against the DuckDB oracle (the seeded
    // random-hyperplane family stays the production default; its recall
    // is asserted in ExtSpec). Genuinely approximate: candidates are
    // confined to the query's bucket plus its 8 Hamming-1 probes.
    "q34_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
          corpus = emb, queries = emb.filter(col("vec_id") < 16),
          idCol = "vec_id", vecCol = "embedding", k = 5,
          numPlanes = 8, dim = 64,
          bucketOf = v => Similarity.signCells(v, 8))
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Embedding-cosine near-dup pairs via LSH buckets, over a corpus with
    // planted duplicates (scaled copies — cosine is scale-invariant, so
    // each plant pairs with its source at sim 1.0; the float multiply is
    // reproduced bit-exactly by the oracle's REAL arithmetic). Sign-bit
    // hash family ⇒ the whole bucketed pipeline is hash-checked.
    "q35_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.unionByName(emb
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.001f))))
      // all-pairs shape: queries == corpus, so the query side must NOT be
      // broadcast — shuffle hash join on the bucket key instead
      Similarity.lshTopK(
          corpus = planted, queries = planted,
          idCol = "vec_id", vecCol = "embedding", k = 3,
          numPlanes = 8, dim = 64, broadcastQueries = false,
          bucketOf = v => Similarity.signCells(v, 8))
        .filter(col("sim") >= 0.9 && col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("a"), col("neighbor_id").as("b"), col("sim"))
        .orderBy(col("a"), col("b"))
    }),

    "q52_ivf_topk" -> ((s, dir) => ivfQuery(s, dir)),

    // IVF-PQ (the FAISS billion-scale composition): coarse cells prune
    // the search, residual PQ codes prune the memory, exact rerank on
    // the shortlist. Gate config is full coverage (probe every cell,
    // shortlist ≥ corpus) so the output provably equals exact-L2 top-k
    // — the hash gate then checks the cell partition, residual ADC and
    // rerank plumbing lose/duplicate nothing; Bench times the sub-linear
    // nprobe=4/shortlist=50 point (annSublinear above), whose recall is
    // the PqSpec assertion.
    "q95_ivfpq_topk" -> ((s, dir) => {
      // stage lines (encode / probe+rerank) show WHICH stage carries
      // any swing. Training comes from the fx5 memo — in a Bench sweep
      // the fixture already paid for it under its own key; in Verify the
      // first call trains once (same deterministic model, same hashes).
      val emb = t(s, dir, "embeddings")
      val index = ivfpqIndex(s, dir)
      val encoded = Stages.time("q95", "encode")(
        graft.ext.IvfPq.encode(emb, "vec_id", "embedding", index))
      // the probe+rerank stage is lazy — snapshot it here so its stage
      // line is real (the gate result is tiny: 40 rows)
      Stages.time("q95", "probe-rerank")(graft.util.Caches.snapshot(
        graft.ext.IvfPq.topK(encoded, emb,
            emb.filter(col("vec_id") < 8), index,
            "vec_id", "embedding", k = 5, nprobe = annNprobe,
            shortlist = annShortlist)
          .orderBy(col("query_id"), col("rnk"))))
    }),

    // Product-quantized ANN: 8 codebooks × 16 centroids over 64 dims
    // (64 floats → 8 nibbles stored), ADC scored by table lookup, exact
    // rerank over the shortlist. Gate config is a full-coverage
    // shortlist (≥ corpus) so the output provably equals exact-L2 top-k
    // and the hash gate checks the encode/ADC/rerank plumbing end to
    // end; Bench times shortlist=50 (annSublinear above), whose recall
    // is the PqSpec assertion.
    "q84_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codebooks from the fx4 memo (deterministic — same bytes as a
      // fresh train); the gate times encode + ADC + rerank
      val model = pqModel(s, dir)
      val encoded = graft.ext.Pq.encode(emb, "vec_id", "embedding", model)
      graft.ext.Pq.topKRerank(encoded, emb, emb.filter(col("vec_id") < 8),
          model, "vec_id", "embedding", k = 5, shortlist = annShortlist)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // SemDeDup-style cluster-confined semantic dedup over a corpus with
    // planted scaled copies. The oracle variant uses the SQL-expressible
    // sign-bit quantizer so the dropped set is DuckDB-hash-checked; the
    // production path swaps in k-means cells (Similarity.semDedup, recall
    // asserted in IvfSpec). Planting multiplies AFTER the double cast so
    // both engines do identical double arithmetic.
    "q79_semantic_dedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = base.unionByName(base.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * lit(1.001)).as("v")))
      Similarity.clusterDupes(planted, "vec_id", "v",
          Similarity.signCells(col("v"), 3), minCos = 0.92)
        .orderBy(col("vec_id"))
    }),

    // Semantic decontamination: max benchmark cosine per corpus vector,
    // contaminated verdict at 0.9. Bench = vec_id < 16 (broadcast);
    // corpus = the rest plus planted near-copies of every 4th bench
    // vector (scaled AFTER the double cast so both engines do identical
    // double arithmetic — the q79 planting discipline). Hash-checked.
    "q104_semantic_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bench = emb.filter(col("vec_id") < 16)
      val planted = emb.filter(col("vec_id") >= 16).unionByName(
        bench.filter(col("vec_id") % 4 === 0).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x * lit(1.001)).as("v")))
      graft.ext.Decontam.semanticScreen(planted, bench, "vec_id", "v",
          minCos = 0.9)
        .orderBy(col("vec_id"))
    }),

    // Hard-negative mining (DPR-style): for 8 query vectors, the 5 most
    // cosine-similar corpus vectors with a DIFFERENT label. Query side
    // broadcast; corpus never shuffles for scoring. Hash-checked.
    "q105_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ext.Retrieval.hardNegatives(
          corpus = emb, queries = emb.filter(col("vec_id") < 8),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label", k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Symmetric per-vector int8 quantization (4× embedding storage cut),
    // exploded to scalar rows so every quantized value is hash-checked.
    "q69_quantize" -> ((s, dir) => {
      graft.ext.Quantize.int8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode(col("qvec")).as(Seq("dim", "q")))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy(col("vec_id"), col("dim"))
    }))

  /** IVF-flat ANN: train a 16-cell spherical k-means coarse quantizer.
    * Gate config probes every cell (full coverage) — the probe union
    * then provably equals brute force, so the DuckDB hash gate checks
    * that cell assignment is a true partition and the probe/score/rank
    * plumbing loses and duplicates nothing (centroids themselves are
    * engine-derived and drop out of the check). Bench times nprobe=4 —
    * the approximate operating point ([[annSublinear]]) — whose recall
    * is the IvfSpec assertion. */
  val ivfQuery: (SparkSession, String) => DataFrame = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = graft.ext.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 3)
    graft.ext.Ivf.topK(emb, emb.filter(col("vec_id") < 16), model,
        "vec_id", "embedding", k = 5, nprobe = annNprobe)
      .orderBy(col("query_id"), col("rnk"))
  }

  val oracles: Map[String, String] = Map(
    // same shapes: per-dim sums, mean-vector cosine, direct Σ(ma−mb)²
    "q130_embedding_drift" ->
      """WITH a AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE label = 0 AND embedding IS NOT NULL AND len(embedding) > 0),
        |b AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE label = 1 AND embedding IS NOT NULL AND len(embedding) > 0),
        |ma AS (SELECT COUNT(*) AS n_a, CAST(MAX(len(e)) AS BIGINT) AS dim_a,
        |         AVG(sqrt(list_inner_product(e, e))) AS an_a FROM a),
        |mb AS (SELECT COUNT(*) AS n_b, CAST(MAX(len(e)) AS BIGINT) AS dim_b,
        |         AVG(sqrt(list_inner_product(e, e))) AS an_b FROM b),
        |da AS (SELECT pos, SUM(v) AS s FROM (
        |         SELECT unnest(e) AS v, generate_subscripts(e, 1) AS pos
        |         FROM a) GROUP BY pos),
        |db AS (SELECT pos, SUM(v) AS s FROM (
        |         SELECT unnest(e) AS v, generate_subscripts(e, 1) AS pos
        |         FROM b) GROUP BY pos),
        |dims AS (
        |  SELECT
        |    COALESCE(da.s, 0) / (SELECT CAST(n_a AS DOUBLE) FROM ma) AS mma,
        |    COALESCE(db.s, 0) / (SELECT CAST(n_b AS DOUBLE) FROM mb) AS mmb
        |  FROM da FULL OUTER JOIN db ON da.pos = db.pos),
        |agg AS (
        |  SELECT SUM(mma * mmb) AS ab, SUM(mma * mma) AS aa,
        |    SUM(mmb * mmb) AS bb,
        |    SUM((mma - mmb) * (mma - mmb)) AS d2
        |  FROM dims)
        |SELECT CAST(ma.n_a AS BIGINT) AS n_a, CAST(mb.n_b AS BIGINT) AS n_b,
        |  greatest(ma.dim_a, mb.dim_b) AS dim,
        |  ROUND(ma.an_a, 6) AS avg_norm_a,
        |  ROUND(mb.an_b, 6) AS avg_norm_b,
        |  ROUND(CASE WHEN agg.aa > 0 AND agg.bb > 0
        |    THEN agg.ab / (sqrt(agg.aa) * sqrt(agg.bb)) ELSE 0.0 END, 6)
        |    AS centroid_cosine,
        |  ROUND(sqrt(agg.d2), 6) AS centroid_l2
        |FROM ma, mb, agg""".stripMargin,
    "q33_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 16),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ROUND(list_cosine_similarity(qe, ce), 4) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // q34: sign-bit LSH reproduced exactly — bucket bit i = (v[i+1] >= 0),
    // probes = own bucket + the 8 single-bit flips, candidates confined
    // to probed buckets, cosine rounded to 4 before ranking (the
    // engine's order). Mirrors Similarity.signCells + lshTopK verbatim.
    "q34_ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |b AS (
        |  SELECT vec_id, v,
        |    (CASE WHEN len(v) > 0 AND v[1] >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN len(v) > 1 AND v[2] >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN len(v) > 2 AND v[3] >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN len(v) > 3 AND v[4] >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN len(v) > 4 AND v[5] >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN len(v) > 5 AND v[6] >= 0 THEN 32 ELSE 0 END)
        |    + (CASE WHEN len(v) > 6 AND v[7] >= 0 THEN 64 ELSE 0 END)
        |    + (CASE WHEN len(v) > 7 AND v[8] >= 0 THEN 128 ELSE 0 END)
        |      AS bucket
        |  FROM e),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv,
        |    unnest([bucket] || list_transform(range(0, 8),
        |      i -> xor(bucket, (1::BIGINT << i)))) AS bucket
        |  FROM b WHERE vec_id < 16),
        |cand AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(p.qv, c.v), 4) AS sim
        |  FROM probes p JOIN b c ON c.bucket = p.bucket
        |  WHERE c.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM cand
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // q35: the planted copies multiply in REAL (float) exactly like the
    // engine's x * 1.001f, then everything casts to double for the
    // cosine — bit-identical planting is what makes sim hash-stable.
    "q35_embed_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS REAL[]) AS f FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |planted AS (
        |  SELECT vec_id, CAST(f AS DOUBLE[]) AS v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    CAST(list_transform(f,
        |      x -> CAST(x * CAST(1.001 AS REAL) AS REAL)) AS DOUBLE[])
        |  FROM base),
        |b AS (
        |  SELECT vec_id, v,
        |    (CASE WHEN len(v) > 0 AND v[1] >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN len(v) > 1 AND v[2] >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN len(v) > 2 AND v[3] >= 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN len(v) > 3 AND v[4] >= 0 THEN 8 ELSE 0 END)
        |    + (CASE WHEN len(v) > 4 AND v[5] >= 0 THEN 16 ELSE 0 END)
        |    + (CASE WHEN len(v) > 5 AND v[6] >= 0 THEN 32 ELSE 0 END)
        |    + (CASE WHEN len(v) > 6 AND v[7] >= 0 THEN 64 ELSE 0 END)
        |    + (CASE WHEN len(v) > 7 AND v[8] >= 0 THEN 128 ELSE 0 END)
        |      AS bucket
        |  FROM planted),
        |probes AS (
        |  SELECT vec_id AS query_id, v AS qv,
        |    unnest([bucket] || list_transform(range(0, 8),
        |      i -> xor(bucket, (1::BIGINT << i)))) AS bucket
        |  FROM b),
        |cand AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(p.qv, c.v), 4) AS sim
        |  FROM probes p JOIN b c ON c.bucket = p.bucket
        |  WHERE c.vec_id <> p.query_id),
        |top AS (
        |  SELECT query_id, neighbor_id, sim
        |  FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 3)
        |SELECT query_id AS a, neighbor_id AS b, sim
        |FROM top WHERE sim >= 0.9 AND query_id < neighbor_id
        |ORDER BY a, b""".stripMargin,

    // q52: full-probe IVF ≡ brute force (the probe union covers the
    // whole corpus), so the oracle is the exact cosine top-k.
    "q52_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 16),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ROUND(list_cosine_similarity(qe, ce), 4) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // q84/q95: full-coverage shortlist ⇒ exact squared-L2 top-k; the
    // per-dimension difference squares sum like the engine's vec_l2sq
    // fold and round to 4 before ranking.
    "q84_pq_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ROUND(list_sum(list_transform(range(1, len(qe) + 1),
        |      i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))), 4) AS dist
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, dist,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "q95_ivfpq_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ROUND(list_sum(list_transform(range(1, len(qe) + 1),
        |      i -> (qe[i] - ce[i]) * (qe[i] - ce[i]))), 4) AS dist
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, dist,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "q104_semantic_decontam" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bench AS (SELECT vec_id, v FROM e WHERE vec_id < 16),
        |corpus AS (
        |  SELECT vec_id, v FROM e WHERE vec_id >= 16
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001)
        |  FROM bench WHERE vec_id % 4 = 0),
        |sims AS (
        |  SELECT c.vec_id, ROUND(list_cosine_similarity(c.v, b.v), 4) AS sim
        |  FROM corpus c CROSS JOIN bench b)
        |SELECT vec_id, MAX(sim) AS max_sim, MAX(sim) >= 0.9 AS contaminated
        |FROM sims GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q105_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql,
        |             CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neg_id, label AS cl,
        |        CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neg_id,
        |    ROUND(list_cosine_similarity(qe, ce), 4) AS sim
        |  FROM q JOIN c ON query_id <> neg_id AND cl IS DISTINCT FROM ql)
        |SELECT query_id, neg_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neg_id) AS BIGINT) AS rnk
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neg_id) <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "q79_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planted AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001)
        |  FROM base),
        |cells AS (
        |  SELECT vec_id, v,
        |    (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) AS cell
        |  FROM planted),
        |pairs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |    ROUND(list_cosine_similarity(x.v, y.v), 4) AS sim
        |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id)
        |SELECT b AS vec_id, MIN(a) AS dup_of, MAX(sim) AS max_sim
        |FROM pairs WHERE sim >= 0.92
        |GROUP BY b ORDER BY vec_id""".stripMargin,

    "q69_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS ma
        |  FROM e),
        |x AS (
        |  SELECT vec_id, ma, unnest(v) AS xv,
        |    generate_subscripts(v, 1) AS ds
        |  FROM m)
        |SELECT vec_id, COALESCE(ma, 0) / 127.0 AS scale,
        |  CAST(ds - 1 AS BIGINT) AS dim,
        |  CAST(CASE WHEN COALESCE(ma, 0) > 0 THEN ROUND(xv * 127.0 / ma) ELSE 0 END AS BIGINT) AS q
        |FROM x ORDER BY vec_id, dim""".stripMargin)
}
