package graft

import org.apache.spark.sql.functions._

import graft.ext.{Ivf, Similarity}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("train produces k unit centroids and is deterministic") {
    val m1 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val m2 = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(m1.k == 8)
    assert(m1.centroids == m2.centroids)
    m1.centroids.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
  }

  private def assertClose(got: Ivf.Model, want: Ivf.Model, what: String) = {
    assert(got.centroids.map(_.size) == want.centroids.map(_.size), what)
    got.centroids.flatten.zip(want.centroids.flatten).foreach { case (g, w) =>
      assert(math.abs(g - w) <= 1e-12, s"$what: $g vs $w")
    }
  }

  test("train matches the posexplode/groupBy Lloyd update it replaced") {
    for ((k, iters) <- Seq((8, 2), (16, 3)))
      assertClose(Ivf.train(emb, "vec_id", "embedding", k, iters),
        IvfReference.train(emb, "vec_id", "embedding", k, iters),
        s"k=$k iters=$iters")
  }

  test("a cell that receives no rows keeps its centroid") {
    // give the second init row the first init row's vector: their
    // centroids tie exactly, the first maximum takes every row, and the
    // second cell stays empty through the one iteration
    val base = emb.select("vec_id", "embedding").filter(col("vec_id") < 60)
    val init = base.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .select("vec_id").as[Long].take(2)
    val firstVec = base.filter(col("vec_id") === init(0))
      .select("embedding").head().get(0)
    val corpus = base.withColumn("embedding",
      when(col("vec_id") === init(1), typedlit(firstVec.asInstanceOf[
        scala.collection.Seq[Float]].toSeq)).otherwise(col("embedding")))
    val m = Ivf.train(corpus, "vec_id", "embedding", k = 4, iters = 1)
    val v = firstVec.asInstanceOf[scala.collection.Seq[Float]].map(_.toDouble)
    val n = math.sqrt(v.map(x => x * x).sum)
    assert(m.centroids(1) == v.map(_ / n).toSeq)
    assert(m.centroids(0) != m.centroids(1))
    assertClose(m, IvfReference.train(corpus, "vec_id", "embedding",
      k = 4, iters = 1), "empty cell")
  }

  test("cell assignment is total and within range") {
    val m = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val cells = emb.select(Ivf.cellId(col("embedding"), m).as("c"))
      .groupBy("c").count().collect()
    assert(cells.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    assert(cells.map(_.getLong(1)).sum == emb.count())
  }

  test("planted duplicate is always found (same direction, same cell)") {
    val planted = emb.unionByName(emb
      .withColumn("vec_id", col("vec_id") + 1000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(3.0f))))
    val m = Ivf.train(planted, "vec_id", "embedding", k = 8, iters = 2)
    val queries = planted.filter(col("vec_id") < 10)
    val top1 = Ivf.topK(planted, queries, m, "vec_id", "embedding",
      k = 1, nprobe = 1).collect()
    assert(top1.length == 10)
    assert(top1.forall(r =>
      r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 1000L))
    assert(top1.forall(_.getAs[Double]("sim") == 1.0))
  }

  test("IVF recall vs brute force is reasonable at nprobe=4/16") {
    val m = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 3)
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf = pairs(Ivf.topK(emb, queries, m, "vec_id", "embedding", 5, nprobe = 4))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall $recall")
  }

  test("topK broadcastQueries=false: identical rows, no broadcast in plan") {
    val m = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val bcast = Ivf.topK(emb, queries, m, "vec_id", "embedding", 5)
    val shuffled = Ivf.topK(emb, queries, m, "vec_id", "embedding", 5,
      broadcastQueries = false)
    assert(rows(bcast) == rows(shuffled))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val p = Ivf.topK(emb, emb, m, "vec_id", "embedding", 5,
        broadcastQueries = false)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---------- SemDeDup (cluster-confined semantic dedup) ----------

  test("topK drops null-vector rows on both sides") {
    val m = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    val base = emb.select("vec_id", "embedding")
    val nullRow = base.limit(1)
      .select((col("vec_id") + 100000L).as("vec_id"),
        lit(null).cast(base.schema("embedding").dataType).as("embedding"))
    val corpus = base.unionByName(nullRow)
    val queries = corpus.filter(col("vec_id") < 10 ||
      col("vec_id") >= 100000L)
    val got = Ivf.topK(corpus, queries, m, "vec_id", "embedding",
      k = 3, nprobe = 2).collect()
    // the null-vec row neither answers (it has no vector to be near)...
    assert(!got.exists(_.getAs[Long]("neighbor_id") >= 100000L))
    // ...nor asks (a null query has no probe cells)
    assert(!got.exists(_.getAs[Long]("query_id") >= 100000L))
    assert(got.nonEmpty)
  }

  test("a NaN vector neither collapses training nor hijacks rankings " +
    "nor wrongfully deletes its cellmates") {
    val base = emb.select("vec_id", "embedding").limit(200)
    val dim = 64
    val nanRow = spark.range(1).select(
      lit(900001L).as("vec_id"),
      array((lit(Double.NaN) +: Seq.fill(dim - 1)(lit(1.0f))): _*)
        .cast("array<float>").as("embedding"))
    val poisoned = base.unionByName(nanRow)
    // training excludes the NaN vector: every centroid stays finite and
    // assignment stays spread (a NaN centroid would win every argmax and
    // funnel ALL rows into one cell)
    val m = Ivf.train(poisoned, "vec_id", "embedding", k = 4, iters = 2)
    assert(m.centroids.forall(_.forall(x => !x.isNaN)))
    val cells = poisoned.filter(col("embedding").isNotNull)
      .select(Ivf.cellId(col("embedding").cast("array<double>"), m))
      .distinct().count()
    assert(cells > 1, "NaN poisoning collapsed every row into one cell")
    // brute-force ranking never returns the NaN row (NaN sim would sort
    // FIRST under desc and take rank 1 of every query)
    val got = Similarity.bruteForceTopK(poisoned,
      poisoned.filter(col("vec_id") < 5 || col("vec_id") === 900001L),
      "vec_id", "embedding", k = 3).collect()
    assert(!got.exists(_.getAs[Long]("neighbor_id") == 900001L))
    assert(!got.exists(_.getAs[Long]("query_id") == 900001L))
    // semDedup never deletes a finite doc on NaN "evidence" (NaN >= minCos
    // is true under the unguarded comparison polarity)
    val dropped = Similarity.clusterDupes(poisoned, "vec_id", "embedding",
      Similarity.signCells(col("embedding").cast("array<double>"), 4),
      minCos = 0.99).collect()
    assert(!dropped.exists(_.getAs[Long]("dup_of") == 900001L))
  }

  test("semDedup drops every planted scaled copy, keep-min-id") {
    // scaled copies share the source's direction → same k-means cell,
    // cosine 1.0 → every copy (larger id) drops, every source survives
    val planted = emb.unionByName(emb
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f))))
    val survivors = Similarity
      .semDedup(planted, "vec_id", "embedding", minCos = 0.95, k = 8,
        iters = 2)
      .select("vec_id").as[Long].collect().toSet
    val sources = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors.intersect(sources.map(_ + 1000000L)).isEmpty)
    // a source can only drop against a smaller-id near-dup source — all
    // sources whose id is the minimum of their dup group survive; at the
    // very least the smallest id overall does
    assert(survivors.contains(sources.min))
    assert(survivors.subsetOf(sources))
  }

  test("clusterDupes matches the brute-force pairwise rule in one cell") {
    val sub = emb.filter(col("vec_id") < 60)
    val got = Similarity.clusterDupes(sub, "vec_id", "embedding",
        cell = lit(0L), minCos = 0.2)
      .orderBy("vec_id")
      .select("vec_id", "dup_of", "max_sim")
      .as[(Long, Long, Double)].collect().toSeq
    // brute force: for each b, smaller-id a with round(cos,4) >= 0.2
    val rows = sub.select(col("vec_id"),
        col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val d = x.zip(y).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
      val nx = math.sqrt(x.foldLeft(0.0)((a, v) => a + v * v))
      val ny = math.sqrt(y.foldLeft(0.0)((a, v) => a + v * v))
      if (nx > 0 && ny > 0) d / (nx * ny) else 0.0
    }
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (b, vb) <- rows
      matches = rows.filter { case (a, va) =>
        a < b && r4(cos(va, vb)) >= 0.2 }
      if matches.nonEmpty
    } yield (b, matches.map(_._1).min,
        matches.map { case (_, va) => r4(cos(va, vb)) }.max))
      .sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 5e-5, s"${g._1}: ${g._3} vs ${e._3}")
    }
  }

  test("semDedupIncrement matches delta vs kept and smaller delta ids") {
    val cellOf = Similarity.signCells(
      col("embedding").cast("array<double>"), 3)
    val kept = emb.filter(col("vec_id") < 400)
    // delta: copies of kept 0 and 1 (scaled — same cell, cos 1.0), one
    // in-batch duplicated pair (2000/2001), one novel vector
    val copies = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    val pairA = emb.filter(col("vec_id") === 450)
      .select(lit(2000L).as("vec_id"), col("embedding"))
    val pairB = emb.filter(col("vec_id") === 450)
      .select(lit(2001L).as("vec_id"), col("embedding"))
    val novel = emb.filter(col("vec_id") === 460)
      .select(lit(3000L).as("vec_id"), col("embedding"))
    val delta = copies.unionByName(pairA).unionByName(pairB)
      .unionByName(novel)
    val out = Similarity.semDedupIncrement(kept, delta, "vec_id",
        "embedding", cellOf, minCos = 0.999)
      .orderBy("vec_id")
      .select("vec_id", "dup_of", "matched_kept")
      .as[(Long, Long, Boolean)].collect().toSeq
    // 1000/1001 match kept 0/1; 2001 matches in-batch 2000 (450 is NOT
    // kept, so matched_kept = false); 3000 survives (absent)
    assert(out == Seq((1000L, 0L, true), (1001L, 1L, true),
      (2001L, 2000L, false)))
  }

  test("clusterDedup survivors + dupes partition the corpus") {
    val cell = Similarity.signCells(
      col("embedding").cast("array<double>"), 3)
    val dupes = Similarity.clusterDupes(emb, "vec_id", "embedding",
      cell, minCos = 0.5).select("vec_id").as[Long].collect().toSet
    val survivors = Similarity.clusterDedup(emb, "vec_id", "embedding",
      cell, minCos = 0.5).select("vec_id").as[Long].collect().toSet
    assert(dupes.intersect(survivors).isEmpty)
    assert(dupes.size + survivors.size == emb.count())
  }
}
