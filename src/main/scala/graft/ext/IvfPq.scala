package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.util.Stages

/** IVF-PQ — the composition FAISS ships for billion-vector search, and
  * the honest 100 TB ANN design: the [[Ivf]] coarse quantizer prunes the
  * SEARCH (probe nprobe of k cells ⇒ touch ~nprobe/k of the corpus) and
  * [[Pq]] prunes the MEMORY (codes, not vectors, in the index). Codes
  * encode the RESIDUAL v − centroid(cell): residuals concentrate near
  * zero, so the same codebook bits carry far more precision than raw
  * vectors — the textbook accuracy win.
  *
  * Search: a query explodes to its nprobe probed cells, builds ONE ADC
  * table per (query, cell) from its residual against that cell, joins
  * encoded rows by cell (hash equi-join — candidates are cell-confined
  * by construction), scores by M table lookups, shortlists, and
  * reranks the shortlist with exact L2 on raw vectors. */
object IvfPq {

  final case class Index(ivf: Ivf.Model, pq: Pq.Model)

  private def residual(vec: Column, ivf: Ivf.Model, cell: Column): Column =
    zip_with(vec.cast("array<double>"),
      element_at(typedlit(ivf.centroids), cell + 1),
      (a, b) => a - b)

  /** Train both quantizers and encode the corpus: (Index, encoded
    * (idCol, cell, codes)). The PQ codebooks train on residuals — the
    * distribution they will encode. Each eager stage prints through
    * [[graft.util.Stages]] as `ivfpq ivf-train / residuals / pq-train /
    * encode`. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      kCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      iters: Int = 3): (Index, DataFrame) =
    trained(corpus, idCol, vecCol, dim, kCells, m, kCodes, iters) {
      (index, withRes) =>
        // drop rows whose codes came back null (wrong-dimension vectors
        // fail Pq.encodeColumn's guard) — a null-codes row would score
        // NULL adist at search time and, under NULLS FIRST ascending,
        // hijack the top of every shortlist
        val encoded = withRes.select(col(idCol), col("__cell").as("cell"),
          Pq.encodeColumn(col("__res"), index.pq).as("codes"))
          .filter(col("codes").isNotNull)
        // eager snapshot (Caches contract): the encoded index is queried
        // repeatedly — its blocks live exactly as long as the caller
        // holds the frame, with no CacheManager entry to leak
        (index, Stages.time("ivfpq", "encode")(
          graft.util.Caches.snapshot(encoded)))
    }

  /** Train both quantizers WITHOUT encoding — the driver-side half of
    * [[build]], returning only the (small, serializable) codebooks. A
    * trained Index is a pure function of (corpus, config) under the
    * deterministic inits, so callers may cache it across query batches
    * and re-encode with [[encode]] — the shape the bench fixture uses to
    * time the search path separately from training. */
  def trainIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, kCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      iters: Int = 3): Index =
    trained(corpus, idCol, vecCol, dim, kCells, m, kCodes, iters)(
      (index, _) => index)

  /** The training half both [[build]] and [[trainIndex]] run: IVF on the
    * corpus, then PQ on the persisted residual frame (idCol, `__cell`,
    * `__res`) of its non-null rows, which `use` may read (build encodes
    * from it, so encoding adds no pass) and which is unpersisted after. */
  private def trained[T](corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, kCells: Int, m: Int, kCodes: Int, iters: Int)(
      use: (Index, DataFrame) => T): T = {
    val ivf = Stages.time("ivfpq", "ivf-train")(
      Ivf.train(corpus, idCol, vecCol, kCells, iters))
    val cv = col(vecCol).cast("array<double>")
    val withRes = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__cell", Ivf.cellId(cv, ivf))
      .withColumn("__res", residual(cv, ivf, col("__cell")))
      .persist()
    try {
      Stages.time("ivfpq", "residuals")(withRes.count())
      val pq = Stages.time("ivfpq", "pq-train")(
        Pq.train(withRes, idCol, "__res", dim, m, kCodes, iters))
      use(Index(ivf, pq), withRes)
    } finally withRes.unpersist()
  }

  /** Encode `corpus` against an already-trained [[Index]] — one narrow
    * pass (cell assign → residual → PQ codes), eagerly snapshotted (the
    * Caches contract: the encoded index is queried repeatedly). Same
    * output as [[build]]'s second element for the same corpus/index. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      index: Index): DataFrame = {
    val cv = col(vecCol).cast("array<double>")
    val encoded = corpus.filter(col(vecCol).isNotNull)
      .withColumn("__cell", Ivf.cellId(cv, index.ivf))
      .select(col(idCol), col("__cell").as("cell"),
        Pq.encodeColumn(residual(cv, index.ivf, col("__cell")), index.pq)
          .as("codes"))
      .filter(col("codes").isNotNull)
    graft.util.Caches.snapshot(encoded)
  }

  /** Approximate top-k with exact rerank. `encoded` is [[build]]'s
    * second output (REUSE it across query batches — that's the index);
    * `corpus` supplies raw vectors for the rerank join, sized by the
    * shortlist only.
    *
    * `broadcastQueries` only when the query side is genuinely small (the
    * point-lookup batch shape): each query row carries an M×K-double ADC
    * table ×nprobe probe rows, so broadcasting a corpus-sized query frame
    * is a driver OOM, not a slow plan. For the all-pairs shape set it
    * false — both probe and rerank joins fall back to shuffle hash joins
    * on their keys, one co-partition of each side (the same contract as
    * [[Similarity.lshTopK]]). */
  def topK(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      index: Index, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, shortlist: Int = 0,
      roundDigits: Int = 4, broadcastQueries: Boolean = true): DataFrame = {
    val r = if (shortlist > 0) shortlist else 10 * k
    val cv = col(vecCol).cast("array<double>")
    val q0 = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), cv.as("__qv"),
        explode(Ivf.probeCells(cv, index.ivf, nprobe)).as("cell"))
      .withColumn("__rq", residual(col("__qv"), index.ivf, col("cell")))
    // ADC table of the residual against THIS cell: M×K folds per
    // (query, probed cell) row — nprobe tables per query, total
    val table = array((0 until index.pq.m).map { mm =>
      val sv = slice(col("__rq"), mm * index.pq.subDim + 1, index.pq.subDim)
      element_at(transform(array(sv), s =>
        array(index.pq.codebooks(mm).map(c =>
          graft.functions.VectorFunctions.vec_l2sq(s, typedlit(c))): _*)), 1)
    }: _*)
    val q = q0.select(col("query_id"), col("cell"), table.as("__tab"))
    // per-(candidate × probe) inner loop, codegen'd ([[VecAdcSum]])
    val adist = graft.functions.VectorFunctions.vec_adc_sum(
      col("codes"), col("__tab"))
    val qSide = if (broadcastQueries) broadcast(q) else q
    // codes/adist null guards: [[build]] filters null codes, but encoded
    // is caller-supplied; a NULL adist (null codes OR a wrong-dimension
    // query vector nulling the ADC table) sorts NULLS FIRST ascending and
    // would take rank 1 in every shortlist
    val cand = encoded.filter(col("codes").isNotNull).join(qSide, Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(adist, roundDigits).as("adist"))
      .filter(col("adist").isNotNull)
      // no pair dedup: a corpus row lives in exactly ONE cell and the
      // query's probe cells are pairwise distinct, so each
      // (query, neighbor) joins at most once — the old dropDuplicates
      // was a no-op costing a full extra shuffle of the scored set
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = cand.withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= r)
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank: raw vectors join only the shortlist
    val qv = queries.select(col(idCol).as("query_id"), cv.as("__qv2"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), cv.as("__nv"))
    val qvSide = if (broadcastQueries) broadcast(qv) else qv
    val exact = short
      .join(qvSide, Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .withColumn("dist", round(
        graft.functions.VectorFunctions.vec_l2sq(col("__qv2"), col("__nv")),
        roundDigits))
    val wk = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    exact.withColumn("rnk", row_number().over(wk).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist"), col("rnk"))
  }
}
