package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.VecCellId

/** IVF (inverted-file) approximate nearest neighbour search — the coarse
  * -quantizer scale path for embedding search (north-star; SURVEY §2.11),
  * complementing the random-hyperplane LSH variant in [[Similarity]].
  *
  * Train: a small k-means (Lloyd) over the corpus — deterministic
  * hash-picked init; each iteration is one narrow pass that keeps per-cell
  * vector sums and counts in every partition, and the driver turns the
  * merged sums into normalized means (k × dim doubles — driver-sized at
  * any corpus scale). Search: every vector is assigned to its best cell by
  * argmax cosine against the centroids (one codegen'd
  * [[graft.functions.VecCellId]] pass per row); queries probe their
  * `nprobe` best cells and rank exact cosine only within those cells.
  *
  * Scale: the corpus shuffles once on cell id; per-query candidate count is
  * ~nprobe/k of the corpus. Cell assignment is a narrow map — the classic
  * IVF-flat layout (FAISS-style) expressed as DataFrame ops.
  */
object Ivf {

  final case class Model(centroids: Seq[Seq[Double]]) {
    def k: Int = centroids.size
  }

  private def normalized(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Cosine of a vector column against one centroid literal. */
  private def centroidSim(vec: Column, c: Seq[Double]): Column = {
    val d = Similarity.dot(vec, typedlit(c))
    val n = Similarity.norm(vec)
    when(n > 0, d / n).otherwise(lit(0.0)) // centroids pre-normalized
  }

  /** The `nprobe` cells a query vector probes, best first: (−cosine,
    * cell id) structs over all centroids, sorted, sliced to `nprobe`,
    * ids kept (ties go to the lower id). The one probe ranking of
    * [[topK]] and [[IvfPq.topK]]. */
  private[ext] def probeCells(vec: Column, m: Model, nprobe: Int): Column = {
    val ranked = array_sort(zip_with(
      array(m.centroids.map(c => centroidSim(vec, c)): _*),
      sequence(lit(0), lit(m.k - 1)),
      (s, i) => struct((-s).as("neg"), i.cast(IntegerType).as("idx"))))
    transform(slice(ranked, 1, nprobe), e => e.getField("idx"))
  }

  /** Best-cell id: the 0-based index of the centroid with the greatest
    * cosine, first maximum winning; a null or zero vector lands in cell 0.
    * One codegen'd pass per row ([[graft.functions.VecCellId]]): the norm
    * once, then the k centroid dots. */
  def cellId(vec: Column, m: Model): Column =
    Bridge.column(VecCellId(Bridge.expression(vec), m.centroids))

  /** Per-cell, per-position sums and non-null counts of one partition's
    * vectors; `len(c)` is the longest vector cell `c` received (0: the
    * cell received no element). Merged on the driver in partition order,
    * so the floating sums are reproducible run to run. */
  private final case class CellSums(len: Array[Int],
      sum: Array[Array[Double]], cnt: Array[Array[Long]]) {

    private def grow(c: Int, n: Int): Unit = if (n > len(c)) {
      sum(c) = java.util.Arrays.copyOf(sum(c), n)
      cnt(c) = java.util.Arrays.copyOf(cnt(c), n)
      len(c) = n
    }

    def add(c: Int, v: ArrayData): Unit = {
      val n = v.numElements()
      grow(c, n)
      val (s, k) = (sum(c), cnt(c))
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) { s(i) += v.getDouble(i); k(i) += 1 }
        i += 1
      }
    }

    def merge(o: CellSums): CellSums = {
      for (c <- len.indices) {
        grow(c, o.len(c))
        var i = 0
        while (i < o.len(c)) {
          sum(c)(i) += o.sum(c)(i); cnt(c)(i) += o.cnt(c)(i)
          i += 1
        }
      }
      this
    }

    /** Element-wise mean of cell `c` (a position whose elements were all
      * null averages to 0), or None for a cell that received nothing. */
    def mean(c: Int): Option[Seq[Double]] =
      if (len(c) == 0) None
      else Some((0 until len(c)).map(i =>
        if (cnt(c)(i) == 0) 0.0 else sum(c)(i) / cnt(c)(i)))
  }

  private object CellSums {
    def empty(k: Int): CellSums = CellSums(new Array[Int](k),
      Array.fill(k)(Array.emptyDoubleArray), Array.fill(k)(Array.emptyLongArray))
  }

  /** Lloyd k-means on cosine similarity (spherical k-means). Deterministic:
    * init picks the k corpus rows with the smallest xxhash64(id).
    *
    * The projected vector column is persisted across the `iters` Lloyd
    * scans, then unpersisted — without this the source is rescanned per
    * iteration. Works for both array&lt;float&gt; and array&lt;double&gt;
    * corpora; null and non-finite vectors are dropped up front.
    *
    * Each iteration is ONE job with no exchange: every partition assigns
    * its rows to cells and keeps per-cell vector sums and counts
    * ([[CellSums]], k × dim doubles), and the driver merges the partials,
    * takes each cell's element-wise mean and normalizes it. An empty cell
    * keeps its centroid. Driver-side state is k × dim per partition. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 3): Model = {
    // one cast up front: downstream code sees array<double> regardless of
    // the corpus element type
    val vecs = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      // one NaN element would collapse training: its cell's mean turns
      // NaN, the NaN centroid then wins every argmax (NaN comparisons
      // sort GREATEST), and after one iteration EVERY row assigns to
      // that cell — semDedup's within-cell pairing degenerates to
      // all-pairs over the whole corpus. Non-finite vectors carry no
      // trainable direction; drop them up front like nulls.
      .withColumn("__n", Similarity.dot(col("v"), col("v")))
      .filter(!isnan(col("__n")) && col("__n") < Double.PositiveInfinity)
      .drop("__n")
      .persist()
    try {
      val initRows = vecs
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(k)
        .collect()
      var centroids: Seq[Seq[Double]] = initRows.toSeq.map(r =>
        normalized(r.getSeq[Double](1)))

      for (_ <- 0 until iters) {
        val nCells = centroids.size
        val sums = vecs.select(cellId(col("v"), Model(centroids)), col("v"))
          .queryExecution.toRdd
          .mapPartitions { rows =>
            val acc = CellSums.empty(nCells)
            rows.foreach(r => acc.add(r.getInt(0), r.getArray(1)))
            Iterator.single(acc)
          }
          .collect()
          .foldLeft(CellSums.empty(nCells))(_ merge _)
        centroids = centroids.zipWithIndex.map { case (old, c) =>
          sums.mean(c).map(normalized).getOrElse(old)
        }
      }
      Model(centroids)
    } finally vecs.unpersist(blocking = false)
  }

  /** Approximate top-k: probe the query's `nprobe` best cells, exact cosine
    * within candidates, rank per query.
    *
    * Vectors are cast to array&lt;double&gt; up front, matching [[train]]'s
    * projection exactly — otherwise a float corpus computes cellId in
    * different arithmetic at search time than the one its mass trained,
    * and borderline vectors silently land in the wrong cell.
    *
    * `broadcastQueries` only for genuinely small query batches (the
    * point-lookup contract — keeps the corpus un-shuffled); set false
    * for the all-pairs shape and the probe join falls back to a shuffle
    * hash join on the cell key (same contract as
    * [[Similarity.lshTopK]] / [[IvfPq.topK]]). */
  def topK(corpus: DataFrame, queries: DataFrame, m: Model,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      roundDigits: Int = 4, broadcastQueries: Boolean = true): DataFrame = {
    val cv = col(vecCol).cast("array<double>")
    // null AND non-finite vectors drop on BOTH sides (mirroring train):
    // a null vec would land in cell 0 with sim 0.0 and outrank genuinely
    // dissimilar (negative-cosine) neighbors, and a NaN norm passes a
    // bare > 0 guard (NaN comparisons are TRUE there) and hijacks every
    // descending rank
    def finite(n: Column): Column =
      !isnan(n) && n < Double.PositiveInfinity
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), cv.as("__cv"),
        Similarity.norm(cv).as("__cn"),
        cellId(cv, m).as("cell"))
      .filter(finite(col("__cn")))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), cv.as("__qv"),
        Similarity.norm(cv).as("__qn"),
        explode(probeCells(cv, m, nprobe)).as("cell"))
      .filter(finite(col("__qn")))
    val qSide = if (broadcastQueries) broadcast(q) else q
    val scored = qSide.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(
        when(col("__qn") > 0 && col("__cn") > 0,
          Similarity.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .otherwise(lit(0.0)), roundDigits))
    // no pair dedup: a corpus row lives in exactly ONE cell and a
    // query's nprobe probe cells are pairwise distinct (a slice of a
    // sorted distinct index array), so each (query, neighbor) joins at
    // most once — a dropDuplicates here was a provable no-op costing a
    // full extra shuffle of the corpus-scale scored set
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk"))
  }
}
