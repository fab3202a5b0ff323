package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.ext.{Ivf, Similarity}

/** The Column-form IVF cell assignment and the posexplode + groupBy Lloyd
  * update that [[graft.functions.VecCellId]] and the partition-local
  * [[Ivf.train]] replaced — kept as the reference the parity tests
  * compare against. */
object IvfReference {

  /** Cosine against every centroid literal (`when(‖v‖ > 0, dot / ‖v‖)`),
    * then `array_position(array_max(sims), max) − 1`. */
  def cellId(vec: Column, m: Ivf.Model): Column = {
    val sims = array(m.centroids.map { c =>
      val n = Similarity.norm(vec)
      when(n > 0, Similarity.dot(vec, typedlit(c)) / n).otherwise(lit(0.0))
    }: _*)
    (element_at(transform(array(sims),
      a => array_position(a, array_max(a))), 1) - 1).cast(IntegerType)
  }

  private def normalized(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Spherical k-means with the per-iteration element-wise mean taken by
    * posexplode + groupBy(cell, pos) + avg. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Ivf.Model = {
    val vecs = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("__n", Similarity.dot(col("v"), col("v")))
      .filter(!isnan(col("__n")) && col("__n") < Double.PositiveInfinity)
      .drop("__n")
    var centroids: Seq[Seq[Double]] = vecs
      .orderBy(xxhash64(col("id")), col("id")).limit(k).collect()
      .toSeq.map(r => normalized(r.getSeq[Double](1)))
    for (_ <- 0 until iters) {
      val m = Ivf.Model(centroids)
      val byCell = vecs
        .withColumn("cell", cellId(col("v"), m))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x").cast(DoubleType)).as("m"))
        .collect().groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            normalized(rows.sortBy(_.getInt(1)).toSeq.map(_.getDouble(2)))
          case None => old
        }
      }
    }
    Ivf.Model(centroids)
  }
}
