package graft

import org.apache.spark.sql.functions._

import graft.ext.{AsOfJoin, Dedup, Sampling, Similarity, TextStats}

class ExtSpec extends SparkSpec {
  import spark.implicits._

  // ---------- as-of join ----------

  test("asOfBackward picks the latest right row at-or-before left ts") {
    val quotes = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (2L, 5L, 9.0))
      .toDF("k", "rts", "px")
      .select(col("k"), col("rts").cast("timestamp").as("rts"), col("px"))
    val asks = Seq((1L, 15L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 100L, "d"), (3L, 7L, "e"))
      .toDF("k", "ts", "tag")
      .select(col("k"), col("ts").cast("timestamp").as("ts"), col("tag"))
    val out = AsOfJoin.asOfBackward(asks, quotes, Seq("k"), "ts", "rts", Seq("px"))
      .orderBy("k", "ts").collect()
    // k=1: ts=5 → none; ts=15 → px@10=1.0; ts=20 → px@20=2.0 (inclusive)
    assert(out(0).getAs[Any]("asof_px") == null)
    assert(out(1).getAs[Double]("asof_px") == 1.0)
    assert(out(2).getAs[Double]("asof_px") == 2.0)
    // k=2: ts=100 → px@5=9.0 ; k=3: no right rows at all → null
    assert(out(3).getAs[Double]("asof_px") == 9.0)
    assert(out(4).getAs[Any]("asof_px") == null)
  }

  test("asOfBackward drops null-timestamp right rows instead of " +
    "fabricating matches for rows with no real predecessor") {
    val quotes = Seq((1L, Some(10L), 1.0), (1L, None, 99.0))
      .toDF("k", "rts", "px")
      .select(col("k"),
        col("rts").cast("timestamp").as("rts"), col("px"))
    val asks = Seq((1L, 5L), (1L, 15L)).toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfBackward(asks, quotes, Seq("k"), "ts", "rts",
      Seq("px")).orderBy("ts").collect()
    // ts=5 precedes every REAL quote → null, never the null-ts row's
    // 99.0 (which sorts NULLS FIRST and used to win); ts=15 → px@10
    assert(out(0).getAs[Any]("asof_px") == null)
    assert(out(0).getAs[Any]("asof_rts") == null)
    assert(out(1).getAs[Double]("asof_px") == 1.0)
  }

  test("asOfBackward: NULL keys never match (join semantics, not " +
    "window-group semantics)") {
    val quotes = Seq((Option(1L), 10L, 1.0), (Option.empty[Long], 10L, 99.0))
      .toDF("k", "rts", "px")
      .select(col("k"), col("rts").cast("timestamp").as("rts"), col("px"))
    val asks = Seq((Option(1L), 15L), (Option.empty[Long], 15L))
      .toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfBackward(asks, quotes, Seq("k"), "ts", "rts",
      Seq("px")).orderBy(col("k").asc_nulls_first).collect()
    // the null-key LEFT row survives (left-join answer: null fill) but
    // must NOT pick up the null-key right row — NULL = NULL is not a
    // join match, and a join-based as-of (DuckDB ASOF) agrees
    assert(out(0).getAs[Any]("k") == null)
    assert(out(0).getAs[Any]("asof_px") == null)
    assert(out(1).getAs[Double]("asof_px") == 1.0)
  }

  test("asOfBackward is row-atomic: a NULL in the winning right row stays NULL") {
    val quotes = Seq((1L, 10L, Some(2.0)), (1L, 20L, None))
      .toDF("k", "rts", "px")
      .select(col("k"), col("rts").cast("timestamp").as("rts"), col("px"))
    val asks = Seq((1L, 30L)).toDF("k", "ts")
      .select(col("k"), col("ts").cast("timestamp").as("ts"))
    val out = AsOfJoin.asOfBackward(asks, quotes, Seq("k"), "ts", "rts", Seq("px"))
      .collect().head
    // latest right row is (ts=20, px=NULL): asof ts must be 20 AND the
    // value NULL — not 20 paired with the older row's 2.0
    assert(out.getAs[java.sql.Timestamp]("asof_rts").getTime == 20000L)
    assert(out.getAs[Any]("asof_px") == null)
  }

  // ---------- text ----------

  test("nWords handles blanks, multiple spaces") {
    val df = Seq("a b  c", " ", "", "single").toDF("t")
      .select(TextStats.nWords(col("t")).as("n"))
    assert(df.as[Long].collect().toSeq == Seq(3L, 0L, 0L, 1L))
  }

  test("langId picks language with most stopword hits") {
    val df = Seq(
      "the cat and the dog of the house",
      "el perro y la casa de los gatos",
      "zzz qqq www").toDF("t")
      .select(TextStats.langId(col("t")).as("lang"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "und"))
  }

  test("qualityScore rubric bounds") {
    val good = ("word " * 50) + "tail"  // 51 words, >100 chars, no digits
    val df = Seq(good, "1234567890").toDF("t")
      .select(TextStats.qualityScore(col("t")).as("s"))
    val got = df.as[Double].collect()
    assert(got(0) == 1.0)
    assert(got(1) == 0.0) // 1 word (<20), all digits (ratio 1.0), <100 chars
  }

  test("winnowing fingerprint overlaps heavily for near-dup docs") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a + " extra"
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val fp = TextStats.winnowingFingerprint(df, "id", "text")
      .orderBy("id").as[(Long, Seq[Long])].collect()
    val (s1, s2) = (fp(0)._2.toSet, fp(1)._2.toSet)
    val jac = s1.intersect(s2).size.toDouble / s1.union(s2).size
    assert(jac > 0.5)
  }

  test("normalizeText strips punctuation and collapses whitespace") {
    val df = Seq("  Hello,   WORLD!! 42 ", "").toDF("t")
      .select(TextStats.normalizeText(col("t")).as("n"))
    assert(df.as[String].collect().toSeq == Seq("hello world 42", ""))
  }

  test("stopwordRatio counts stopword share of tokens") {
    val df = Seq("the cat and the dog", "zzz qqq").toDF("t")
      .select(TextStats.stopwordRatio(col("t"), "en").as("r"))
    val got = df.as[Double].collect()
    assert(got(0) == 0.6) // the, and, the of 5 tokens
    assert(got(1) == 0.0)
  }

  test("repetitionRatio flags repeated n-grams") {
    val df = Seq(
      "a b c a b c a b c a b c",  // heavy 3-gram repetition
      "one two three four five six seven").toDF("t")
      .select(TextStats.repetitionRatio(col("t")).as("r"))
    val got = df.as[Double].collect()
    assert(got(0) > 0.5)
    assert(got(1) == 0.0)
  }

  test("redact replaces emails, cards, phones") {
    val s = "mail me at jo.doe@x-corp.io or 555-123-4567, card 4111111111111111"
    val got = Seq(s).toDF("t").select(TextStats.redact(col("t")).as("r"))
      .as[String].head()
    assert(got == "mail me at <EMAIL> or <PHONE>, card <CARD>")
  }

  test("saltedJoin matches the plain join on skewed data") {
    // 90% of rows share one hot key
    val left = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
      .toDF("k", "v")
    val right = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).groupBy("name")
      .count().orderBy("name").collect()
    val salted = graft.ops.SkewJoin.saltedJoin(left, right, Seq("k"), 8)
      .groupBy("name").count().orderBy("name").collect()
    assert(plain.toSeq == salted.toSeq)
  }

  test("saltedJoinPreAgg matches the plain join on a duplicate flood") {
    // 900 BIT-IDENTICAL rows — content-hash salting collapses them to
    // one bucket; the pre-agg path crushes them map-side instead
    val left = ((1 to 900).map(_ => (1L, 7)) ++
      (901 to 1000).map(i => (i.toLong, i))).toDF("k", "v")
    val right = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    for (jt <- Seq("inner", "left", "left_semi")) {
      val plain = left.join(right, Seq("k"), jt)
      val pre = graft.ops.SkewJoin.saltedJoinPreAgg(
        left, right, Seq("k"), 8, jt)
      assert(pre.columns.toSeq == plain.columns.toSeq, jt)
      val pc = plain.groupBy(plain.columns.map(col).toIndexedSeq: _*)
        .count().orderBy(plain.columns.head, plain.columns.tail: _*)
        .collect().toSeq
      val sc = pre.groupBy(pre.columns.map(col).toIndexedSeq: _*)
        .count().orderBy(pre.columns.head, pre.columns.tail: _*)
        .collect().toSeq
      assert(pc == sc, jt)
    }
  }

  test("saltSkewHistogram flags a duplicate flood as single-bucket") {
    val left = ((1 to 5000).map(_ => (1L, 7)) ++          // flood: 1 value
      (1 to 5000).map(i => (2L, i))).toDF("k", "v")        // hot but varied
    val hist = graft.ops.SkewJoin
      .saltSkewHistogram(left, Seq("k"), 8, sampleFraction = 0.5,
        minRows = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hist(1L) == 1L)  // bit-identical rows → one salt bucket
    assert(hist(2L) > 1L)   // varied rows spread across buckets
  }

  // ---------- dedup ----------

  private def docsWithDups = {
    // deterministic subset: filter, NOT limit — documents is repartitioned
    // at load, so limit(n) picks a different n rows per evaluation
    val base = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 50)
    base.unionByName(base
      .withColumn("doc_id", col("doc_id") + 1000L)
      .withColumn("text", concat(col("text"), lit(" zzzz"))))
  }

  test("minHashLsh finds planted near-duplicates with high jaccard") {
    val pairs = Dedup.minHashLsh(docsWithDups, "doc_id", "text",
      shingleSize = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.5)
      .collect()
    val planted = pairs.filter(r =>
      r.getAs[Long]("b") == r.getAs[Long]("a") + 1000L)
    assert(planted.length >= 45) // ≥90% recall of the 50 planted pairs
    assert(planted.forall(_.getAs[Double]("jaccard") > 0.8))
  }

  test("minHashLshPortable: planted pairs found; integer stats exact; " +
      "threshold is the integer predicate") {
    val pairs = Dedup.minHashLshPortable(docsWithDups, "doc_id", "text",
      shingleSize = 3, bands = 8, rowsPerBand = 4).collect()
    val planted = pairs.filter(r =>
      r.getAs[Long]("b") == r.getAs[Long]("a") + 1000L)
    assert(planted.length >= 45) // ≥90% recall of the 50 planted pairs
    // every emitted pair satisfies the integer floor 2*inter >= union,
    // and planted pairs (one appended token ⇒ ≤3 changed shingles) are
    // near-identical sets
    assert(pairs.forall(r =>
      2 * r.getAs[Long]("n_inter") >= r.getAs[Long]("n_union")))
    assert(planted.forall { r =>
      val j = r.getAs[Long]("n_inter").toDouble / r.getAs[Long]("n_union")
      j > 0.8
    })
    // spot-check the stats against a direct shingle-set computation
    val sets = Dedup.shingleSets(
      docsWithDups.filter(col("text").isNotNull &&
        trim(col("text")) =!= ""), "doc_id", "text", 3)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[scala.collection.Seq[Long]]("shset").toSet).toMap
    planted.take(5).foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      val inter = sets(a).intersect(sets(b)).size.toLong
      val union = sets(a).union(sets(b)).size.toLong
      assert(r.getAs[Long]("n_inter") == inter &&
        r.getAs[Long]("n_union") == union)
    }
  }

  test("simHashPairs: planted near-dups within small hamming distance") {
    val pairs = Dedup.simHashPairs(docsWithDups, "doc_id", "text",
      maxHamming = 6).collect()
    val planted = pairs.filter(r =>
      r.getAs[Long]("b") == r.getAs[Long]("a") + 1000L)
    assert(planted.length >= 30)
  }

  test("winnowPairs finds positional overlap and screens boilerplate") {
    // docs 1/2 share a long contiguous run (guarantee: any shared run of
    // ≥ window+k−1 = 6 tokens yields a shared fingerprint); doc 3 is
    // unrelated; docs 100-119 are IDENTICAL boilerplate — every one
    // selects the same fingerprint set, so each fingerprint has df=20 >
    // maxDf and the screen drops them all (identical text is what the
    // screen provably kills; partially-shared chrome is screened only
    // when > maxDf docs SELECT the common gram — the MOSS index
    // semantics, df over selected fingerprints, not raw grams)
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val boiler = (0 until 20).map(i =>
      (100L + i, "cookie banner accept terms privacy policy footer site"))
    val df = (Seq(
      (1L, s"intro text $shared closing remarks one"),
      (2L, s"totally different opening $shared and another ending"),
      (3L, "unrelated content about something else entirely here now"))
      ++ boiler).toDF("doc_id", "text")
    val out = Dedup.winnowPairs(df, "doc_id", "text",
      maxDf = 5, minShared = 1).collect()
    assert(out.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
    // no boilerplate-only pair survives the df screen
    assert(!out.exists(r => r.getAs[Long]("id_a") >= 100L))
  }

  test("winnowPairs: identical docs share every fingerprint") {
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val out = Dedup.winnowPairs(df, "doc_id", "text",
      maxDf = 5, minShared = 1).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) == (1L, 2L))
    // 10 tokens → 8 grams → 5 full windows; every selected fingerprint
    // is shared, and there is at least ⌈(8−4+1)/4⌉ = 2 of them
    assert(r.getAs[Long]("n_shared") >= 2L)
  }

  test("exactDedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
  }

  test("ngramJaccardPairs computes exact jaccard for overlapping pairs") {
    val df = Seq((1L, "a b c d e", "s"), (2L, "a b c d e", "s"),
      (3L, "x y z w v", "s"), (4L, "a b c q r", "s")).toDF("doc_id", "text", "source")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq("source"))
      .orderBy("a", "b").collect()
    // disjoint pairs (with 3) are never materialised — jaccard 0
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(out(0).getAs[Double]("jaccard") == 1.0) // identical docs
    // docs 1 & 4: 3-shingles {abc,bcd,cde} vs {abc,bcq,cqr} → 1/5
    assert(out(1).getAs[Double]("jaccard") == 0.2)
  }

  test("connectedComponents labels chains with the min id") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (10L, 11L, 0.9))
      .toDF("a", "b", "jaccard")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("connectedComponents drops null-endpoint edges on both paths") {
    val pairs = Seq((Option(1L), Option(2L)), (Option(3L), Option.empty[Long]),
      (Option.empty[Long], Option(4L))).toDF("a", "b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == Map(1L -> 1L, 2L -> 1L))
    assert(dist == local)
  }

  test("connectedComponents: pointer jumping converges on deep chains") {
    // a 40-deep path needs 39 rounds of plain neighbor-min propagation —
    // far past maxIterations — but O(log 40) ≈ 6 rounds with jumping
    val chain = (0L until 39L).map(i => (i, i + 1, 0.9))
      .toDF("a", "b", "jaccard")
    val comps = Dedup.connectedComponents(chain, maxDriverEdges = 0)
      .as[(Long, Long)].collect()
    assert(comps.length == 40)
    assert(comps.forall(_._2 == 0L), comps.filter(_._2 != 0L).mkString(","))
  }

  test("connectedComponents: driver union-find equals distributed propagation") {
    // chain + star + isolated pair, adversarial ordering (high ids first)
    val pairs = Seq((9L, 8L), (8L, 7L), (7L, 1L), (20L, 25L), (20L, 22L),
      (40L, 41L), (3L, 9L)).map { case (a, b) => (a, b, 0.9) }
      .toDF("a", "b", "jaccard")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
    assert(local.filter(_._2 == 1L).map(_._1) == Set(1L, 3L, 7L, 8L, 9L))
  }

  test("dedupNearDuplicates removes planted dups, keeps originals") {
    val cleaned = Dedup.dedupNearDuplicates(docsWithDups, "doc_id", "text",
      minJaccard = 0.8)
    val n = cleaned.count()
    // 100 docs, 50 planted near-dups: survivors ≈ the 50 originals (a few
    // original-vs-original pairs can legitimately cross the threshold in
    // this small-vocabulary corpus)
    assert(n >= 45 && n <= 55, s"survivors $n")
    // survivors are the minimum ids (originals, not the +1000 copies)
    assert(cleaned.filter(col("doc_id") >= 1000L).count() <= 5)
  }

  test("curate pipeline filters, dedups, and reports stage counts") {
    val res = graft.ext.TextPipeline.curate(docsWithDups, "doc_id", "text",
      minQuality = 0.7, maxRepetition = 0.5, minChars = 50)
    val s = res.stats
    assert(s.input == 100)
    assert(s.afterRuleFilter <= s.input)
    assert(s.afterExactDedup <= s.afterRuleFilter)
    assert(s.afterNearDedup <= s.afterExactDedup)
    // planted near-dups must be mostly gone
    assert(s.afterNearDedup <= s.afterExactDedup - 40)
    assert(res.curated.count() == s.afterNearDedup)
    assert(!res.curated.columns.contains("__norm"))
  }

  test("curate with computeStats = false skips all three stat counts and " +
    "returns the same rows") {
    // the input, rule-filter and near-dedup counts are the only actions
    // that differ between the modes; the dedup stages fill their caches
    // the same way in both
    val counts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "count") counts.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def run(stats: Boolean): (Int, Seq[org.apache.spark.sql.Row]) = {
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      counts.set(0)
      val res = graft.ext.TextPipeline.curate(docsWithDups, "doc_id", "text",
        computeStats = stats)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      val n = counts.get
      (n, res.curated.orderBy("doc_id").collect().toSeq)
    }
    spark.listenerManager.register(listener)
    try {
      val (withStats, rows) = run(stats = true)
      val (without, rowsNoStats) = run(stats = false)
      assert(withStats - without == 3, s"$withStats vs $without count actions")
      assert(rows.nonEmpty && rows == rowsNoStats)
    } finally spark.listenerManager.unregister(listener)
  }

  // ---------- similarity ----------

  test("cosine of identical and orthogonal vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
  }

  test("bruteForceTopK: planted duplicate is every query's top neighbor") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") < 100)
    val planted = emb.unionByName(emb
      .withColumn("vec_id", col("vec_id") + 1000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f))))
    val queries = planted.filter(col("vec_id") < 10)
    val top = Similarity.bruteForceTopK(planted, queries, "vec_id", "embedding", 1)
      .collect()
    assert(top.forall(r =>
      r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 1000L))
    assert(top.forall(_.getAs[Double]("sim") == 1.0))
  }

  test("lshTopK achieves reasonable recall of brute-force top-5") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val approx = pairs(Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
      numPlanes = 4, dim = 64))
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall too low")
  }

  test("packing: scalable two-phase assignment equals the global window") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tokens"))
    val global = graft.ext.Packing.packByBudget(docs, "doc_id", "n_tokens", 1000)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    val scalable = graft.ext.Packing
      .packByBudgetScalable(docs, "doc_id", "n_tokens", 1000)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(global == scalable)
    // pack ids are non-decreasing in doc order and start at 0
    val inOrder = global.toSeq.sortBy(_._1).map(_._2)
    assert(inOrder.head == 0L)
    assert(inOrder.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("packing: boundary doc starts the pack its preceding mass falls in") {
    // budgets of 10: docs of 6,6,6 tokens → preceding mass 0,6,12 →
    // packs 0,0,1 (the second doc straddles 10 but starts in pack 0)
    val df = Seq((1L, 6L), (2L, 6L), (3L, 6L)).toDF("doc_id", "n_tokens")
    val out = graft.ext.Packing.packByBudget(df, "doc_id", "n_tokens", 10)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("hashSplit covers every row, is disjoint, stable, and near-weights") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val split = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byLabel = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(byLabel.values.sum == n) // total coverage, no unassigned rows
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train").toDouble / n > 0.7 &&
      byLabel("train").toDouble / n < 0.9)
    // determinism: same assignment under a different partitioning
    val again = Sampling.hashSplit(docs.repartition(7), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = split.select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(first == again)
  }

  test("leakSafeSplit keeps near-dup groups in one split; singletons " +
      "match hashSplit of their own id") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today extra"),
      (3L, "completely different text about sailing ships at sea"),
      (4L, "unrelated musings on compiler construction and parsing"))
      .toDF("doc_id", "text")
    val out = Sampling.leakSafeSplit(docs, "doc_id", "text",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25),
        minJaccard = 0.5)
      .select("doc_id", "group_id", "split")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    // 1 and 2 are near-dups → same group (min id 1) and same split
    assert(out(0)._2 == 1L && out(1)._2 == 1L)
    assert(out(0)._3 == out(1)._3)
    // singletons group as themselves and split exactly like hashSplit
    assert(out(2)._2 == 3L && out(3)._2 == 4L)
    val plain = Sampling.hashSplit(
        docs.filter(col("doc_id") >= 3), "doc_id",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out(2)._3 == plain(3L) && out(3)._3 == plain(4L))
  }

  test("noveltyScore counts corpus-unique grams per doc") {
    val docs = Seq(
      (1L, "a b c d"),     // grams: "a b c", "b c d"
      (2L, "a b c e"),     // grams: "a b c", "b c e"
      (3L, "x"))           // short doc: one whole-text gram "x"
      .toDF("doc_id", "text")
    val out = graft.ext.TextModel.noveltyScore(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    // "a b c" is shared (df 2); "b c d"/"b c e"/"x" are unique
    assert(out == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 1L, 1.0)))
    // empty/whitespace docs are excluded, not scored
    val e = graft.ext.TextModel.noveltyScore(
      Seq((9L, "   "), (10L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(e.count() == 0)
  }

  test("hashSample and stratifiedSample are deterministic subsets at rate") {
    val docs = Tables.load(spark, sfDir, "documents")
    val s1 = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    // a higher rate strictly contains a lower one (nested samples)
    val s3 = Sampling.hashSample(docs, "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(s1.subsetOf(s3))
    val strat = Sampling.stratifiedSample(docs, "lang", "doc_id",
      rates = Map("en" -> 1.0), defaultRate = 0.0)
    val langs = strat.select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("en"))
    assert(strat.count() == docs.filter(col("lang") === "en").count())
  }

  test("prepareTrainingData runs the full composition with planted stages") {
    // corpus: quality docs (long, wordy), one exact dup pair, one doc
    // contaminated with a benchmark 13-gram, two sources of unequal size
    val good = (0 until 30).map { i =>
      val src = if (i < 24) "web" else "books"
      (i.toLong,
        (0 until 40).map(j => s"tok${(i * 7 + j) % 200}").mkString(" "),
        src)
    }
    val dup = Seq((100L, good(3)._2, "web")) // exact dup of doc 3
    val benchText = (0 until 20).map(j => s"bench$j").mkString(" ")
    val contaminated = Seq((101L,
      good(5)._2 + " " + benchText, "web"))
    val docs = (good ++ dup ++ contaminated)
      .toDF("doc_id", "text", "source")
    val bench = Seq((9000L, benchText)).toDF("doc_id", "text")
    val r = graft.ext.TextPipeline.prepareTrainingData(docs, "doc_id",
      "text", "source", benchmark = Some(bench),
      minQuality = 0.5, packBudget = 100)
    val ids = r.data.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(100L), "exact dup must be removed")
    assert(!ids.contains(101L), "contaminated doc must be removed")
    assert(ids.nonEmpty)
    assert(r.stats.afterDecontamination ==
      r.stats.curation.afterNearDedup - 1) // exactly the contaminated doc
    assert(r.stats.nPacks > 1)
    // natural target ⇒ every surviving doc appears ≥ 1 time; output is
    // ordered by the seeded shuffle key
    val keys = r.data.select("shuffle_key").as[Long].collect().toSeq
    assert(keys == keys.sorted)

    // computeStats=false (the production setting) must change ONLY the
    // reporting: identical output rows, -1 sentinels for skipped scans
    val q = graft.ext.TextPipeline.prepareTrainingData(docs, "doc_id",
      "text", "source", benchmark = Some(bench),
      minQuality = 0.5, packBudget = 100, computeStats = false)
    assert(q.stats.curation.input == -1L)
    assert(q.stats.afterDecontamination == -1L)
    assert(q.stats.nPacks == -1L)
    assert(q.stats.sampledRows == r.stats.sampledRows)
    val a = r.data.select("doc_id", "epoch", "pack_id", "shuffle_key")
      .as[(Long, Int, Long, Long)].collect().sorted.toSeq
    val b = q.data.select("doc_id", "epoch", "pack_id", "shuffle_key")
      .as[(Long, Int, Long, Long)].collect().sorted.toSeq
    assert(a == b)
    r.data.unpersist(); q.data.unpersist()
  }

  test("heavy hitters: sketch-screened result is exact under eviction pressure") {
    // heavy head + ~3.5k singleton junk tokens: far beyond the 25-slot
    // sketch, so MG decrement/trim paths carry the guarantee
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat_ws(" ",
        lit("alpha"),
        when(col("id") % 2 === 0, lit("beta")).otherwise(lit("g")),
        when(col("id") % 4 === 0, lit("gamma"))
          .otherwise(concat(lit("junk"), col("id"))),
        concat(lit("u"), col("id"))).as("text"))
    val toks = docs.select(
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val n = toks.count()
    val threshold = math.max(1L, math.ceil(0.05 * n).toLong)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= threshold)
      .orderBy(col("freq").desc, col("token"))
      .as[(String, Long)].collect().toSeq
    assert(exact.map(_._1).toSet == Set("alpha", "beta", "g", "gamma"))
    val got = graft.ext.HeavyHitters.frequentTokens(docs, "text",
      minFreqRatio = 0.05, capacity = 25)
      .as[(String, Long)].collect().toSeq
    assert(got == exact)
    // merge-order independence: a different partitioning changes which
    // EXTRA candidates the sketch carries, never the exact answer
    val got2 = graft.ext.HeavyHitters.frequentTokens(docs.repartition(13),
      "text", minFreqRatio = 0.05, capacity = 25)
      .as[(String, Long)].collect().toSeq
    assert(got2 == exact)
    // capacity below the guarantee bound is refused loudly
    intercept[IllegalArgumentException] {
      graft.ext.HeavyHitters.frequentTokens(docs, "text",
        minFreqRatio = 0.05, capacity = 8)
    }
    // >1000 candidates flips the pass-2 screen from InSet literals to a
    // broadcast semi-join; the answer must not change (threshold 8 keeps
    // the same four heavy tokens, singletons stay below)
    val got3 = graft.ext.HeavyHitters.frequentTokens(docs, "text",
      minFreqRatio = 0.001, capacity = 1100)
      .as[(String, Long)].collect().toSeq
    assert(got3 == exact)
    // hash-sharded candidate pass (the large-cluster merge shape): every
    // token's whole mass lands in one shard, so the guarantee — and the
    // exact answer — are unchanged
    val got4 = graft.ext.HeavyHitters.frequentTokens(docs, "text",
      minFreqRatio = 0.05, capacity = 25, sketchGroups = 8)
      .as[(String, Long)].collect().toSeq
    assert(got4 == exact)
  }

  test("weighted heavy hitters: exact totals under eviction pressure") {
    // 4 heavy items carry most of the mass; 2000 singleton junk items
    // (weight 1-3) overflow the 20-slot sketch constantly
    val items = spark.range(2000).select(
      when(col("id") % 4 === 0, lit("big")) // weight 100 × 500
        .when(col("id") % 4 === 1, lit("mid")) // weight 40 × 500
        .when(col("id") % 4 === 2, lit("low")) // weight 20 × 500
        .otherwise(concat(lit("junk"), col("id"))).as("item"),
      when(col("id") % 4 === 0, lit(100L))
        .when(col("id") % 4 === 1, lit(40L))
        .when(col("id") % 4 === 2, lit(20L))
        .otherwise(col("id") % 3 + 1).as("w"))
    val toksW = items.groupBy("item").agg(sum("w").as("tw"))
    val total = items.agg(sum("w")).head().getLong(0)
    val threshold = math.max(1L, math.ceil(0.06 * total).toLong)
    val exact = toksW.filter(col("tw") >= threshold)
      .orderBy(col("tw").desc, col("item"))
      .as[(String, Long)].collect().toSeq
    assert(exact.map(_._1).toSet == Set("big", "mid", "low"))
    val got = graft.ext.HeavyHitters.frequentWeighted(items, "item", "w",
      minWeightRatio = 0.06, capacity = 20)
      .as[(String, Long)].collect().toSeq
    assert(got == exact)
    // partition permutation changes only the discarded extras
    val got2 = graft.ext.HeavyHitters.frequentWeighted(items.repartition(9),
      "item", "w", minWeightRatio = 0.06, capacity = 20)
      .as[(String, Long)].collect().toSeq
    assert(got2 == exact)
  }

  test("frequentExact on a pre-aggregated store equals the sketched form") {
    val store = spark.range(300).select(
      when(col("id") % 3 === 0, lit("big"))
        .otherwise(concat(lit("junk"), col("id"))).as("item"),
      when(col("id") % 3 === 0, lit(50L)).otherwise(lit(1L)).as("w"))
      .groupBy("item").agg(sum("w").as("w"))
    val exact = graft.ext.HeavyHitters.frequentExact(store, "item", "w", 0.05)
      .as[(String, Long)].collect().toSeq
    val sketched = graft.ext.HeavyHitters.frequentWeighted(store, "item", "w",
        0.05)
      .as[(String, Long)].collect().toSeq
    assert(exact == sketched)
    assert(exact.map(_._1) == Seq("big"))
  }

  test("heavy hitters: empty input returns empty (no NPE on null total)") {
    val docs = Seq[(Long, Option[String])]((1L, None), (2L, Some("  ")))
      .toDF("doc_id", "text")
    assert(graft.ext.HeavyHitters.frequentTokens(docs, "text", 0.5)
      .count() == 0L)
  }

  test("heavy hitters: fractional weight columns are rejected loudly") {
    val items = Seq(("a", 0.5), ("a", 0.5)).toDF("item", "w")
    val e = intercept[IllegalArgumentException] {
      graft.ext.HeavyHitters.frequentWeighted(items, "item", "w", 0.5)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("gap fill synthesizes missing days with zeros and forward-fills values") {
    val daily = Seq(
      ("a", "2024-01-01", 5L, 10.0), ("a", "2024-01-04", 3L, 30.0),
      ("b", "2024-01-02", 1L, 7.0))
      .toDF("k", "day", "n", "price")
      .withColumn("day", col("day").cast("date"))
    val filled = graft.ext.GapFill.daily(daily, "k", "day",
      fillZero = Seq("n"), fillForward = Seq("price"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(filled.size == 5) // a: 4 days, b: 1 day
    assert(filled(("a", "2024-01-02")) == ((0L, 10.0, true)))  // zero + ffill
    assert(filled(("a", "2024-01-03")) == ((0L, 10.0, true)))
    assert(filled(("a", "2024-01-04")) == ((3L, 30.0, false)))
    assert(filled(("b", "2024-01-02")) == ((1L, 7.0, false)))
  }

  test("curriculum packing walks the budget in quality order") {
    // quality ties broken by id; budget 10 → packs follow quality rank
    val docs = Seq(
      (1L, 0.2, 6L), (2L, 0.9, 6L), (3L, 0.9, 6L), (4L, 0.5, 6L))
      .toDF("doc_id", "quality", "n_tokens")
    val packed = graft.ext.Packing.packByBudgetOrdered(docs,
      Seq(col("quality").desc, col("doc_id")), "n_tokens", 10)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // order: 2 (0.9), 3 (0.9), 4 (0.5), 1 (0.2) → cumsums 0,6,12,18
    assert(packed == Map(2L -> 0L, 3L -> 0L, 4L -> 1L, 1L -> 1L))
    // parity with the id-ordered scalable path when sorting by id
    val byId = graft.ext.Packing.packByBudgetOrdered(docs,
      Seq(col("doc_id")), "n_tokens", 10)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    val legacy = graft.ext.Packing.packByBudget(docs, "doc_id", "n_tokens", 10)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(byId == legacy)
  }

  test("userSequences caps to the LAST maxLen events in ascending order") {
    val events = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), (1L, 30L, 102L, "c"),
      (1L, 40L, 103L, "d"), (2L, 15L, 104L, "x"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val seqs = graft.ext.Sequences.userSequences(events, "user_id",
      Seq("ts", "event_id"), col("event_type"), maxLen = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[String](2))).toMap
    // user 1: last 3 of 4 events, re-sorted ascending; n_events is the
    // TRUE pre-cap count (the capped length is size(seq))
    assert(seqs(1L) == ((4L, Seq("b", "c", "d"))))
    assert(seqs(2L) == ((1L, Seq("x"))))
    // determinism under repartitioning
    val again = graft.ext.Sequences.userSequences(events.repartition(4),
      "user_id", Seq("ts", "event_id"), col("event_type"), maxLen = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(again(1L) == Seq("b", "c", "d"))
    // autoregressive pairs: context grows, target follows
    val ex = graft.ext.Sequences.nextEventExamples(events, "user_id",
      Seq("ts", "event_id"), col("event_type"), maxLen = 3)
      .filter(col("user_id") === 1L)
      .collect().map(r => (r.getSeq[String](1), r.getString(2))).toSet
    assert(ex == Set((Seq("b"), "c"), (Seq("b", "c"), "d")))
  }

  test("userSequences carries a MAP payload (comparator sorts on order " +
    "columns only — natural struct ordering rejected map fields)") {
    val events = Seq(
      (1L, 20L, 101L, Map("k" -> "b")), (1L, 10L, 100L, Map("k" -> "a")),
      (1L, 30L, 102L, Map("k" -> "c")))
      .toDF("user_id", "ts", "event_id", "props")
    val seqs = graft.ext.Sequences.userSequences(events, "user_id",
      Seq("ts", "event_id"), col("props"), maxLen = 10)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Map[String, String]](2)).toMap
    assert(seqs(1L).map(_("k")) == Seq("a", "b", "c"))
  }

  test("corpusDiff classifies added/removed/changed/unchanged exactly") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null: String))
      .toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "c2"), (4L, null: String), (5L, "e"))
      .toDF("doc_id", "text")
    val d = graft.ext.Diff.corpusDiff(v1, v2, "doc_id", Seq("text"))
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", 5L -> "added")) // null text compares null-safe
    val sum = graft.ext.Diff.diffSummary(v1, v2, "doc_id", Seq("text"))
      .as[(String, Long)].collect().toMap
    assert(sum == Map("removed" -> 1L, "unchanged" -> 2L, "changed" -> 1L,
      "added" -> 1L))
  }

  test("weightedSample: deterministic, k-bounded, weight-biased") {
    val df = ((1 to 50).map(i => (i.toLong, "g", 1.0)) :+
      (99L, "g", 10000.0)).toDF("id", "g", "w")
    val s1 = graft.ext.Sampling.weightedSample(df, "id", "w", k = 5,
      groupCols = Seq("g"), seed = 7).collect()
    val s2 = graft.ext.Sampling.weightedSample(df, "id", "w", k = 5,
      groupCols = Seq("g"), seed = 7).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq)
    assert(s1.length == 5)
    assert(s1.map(_.getAs[Int]("sample_rank")).sorted.toSeq == (1 to 5))
    // a weight 10000x the others is drawn ~always; across 10 seeds it
    // must appear in every 5-of-51 sample (miss odds < 1e-13 overall)
    (0 until 10).foreach { seed =>
      val ids = graft.ext.Sampling.weightedSample(df, "id", "w", k = 5,
        groupCols = Seq("g"), seed = seed).collect().map(_.getLong(0))
      assert(ids.contains(99L), s"heavy row missing at seed $seed")
    }
  }

  test("weightedSample: global top-k path and ineligible weights") {
    val df = Seq((1L, Some(2.0)), (2L, Some(0.0)), (3L, Some(-1.0)),
      (4L, Some(3.0)), (5L, Option.empty[Double]))
      .toDF("id", "w")
    val out = graft.ext.Sampling.weightedSample(df, "id", "w", k = 10)
      .collect()
    // only the two positive-weight rows are eligible
    assert(out.map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(out.map(_.getAs[Int]("sample_rank")).sorted.toSeq == Seq(1, 2))
  }

  test("fleschReadingEase: hand-computed score and edge cases") {
    val df = Seq(
      (1L, "The cat sat."),              // 3 words / 1 sentence / 3 syl
      (2L, "Complicated vocabulary impedes comprehension! Readability suffers."),
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.ext.TextStats.fleschReadingEase(col("text")).as("f"))
      .orderBy("doc_id").collect()
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(out(0).getAs[Double]("f") == 119.19)
    // polysyllabic two-sentence doc scores far lower
    assert(out(1).getAs[Double]("f") < 40.0)
    assert(out(2).isNullAt(1) && out(3).isNullAt(1))
  }

  test("transitionMatrix: hand-computed counts, conditionals, lift") {
    // user 1: A B A B → A→B ×2, B→A ×1; user 2: A C → A→C ×1
    val df = Seq((1L, 1, "A"), (1L, 2, "B"), (1L, 3, "A"), (1L, 4, "B"),
      (2L, 1, "A"), (2L, 2, "C")).toDF("u", "seq", "s")
    val m = graft.ext.Sequences.transitionMatrix(df, "u", Seq("seq"), "s")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m.size == 3)
    assert(m(("A", "B")) == ((2L, 0.666667, 1.333333)))
    assert(m(("B", "A")) == ((1L, 1.0, 4.0)))
    assert(m(("A", "C")) == ((1L, 0.333333, 1.333333)))
  }

  test("embeddingDrift: identical, orthogonal, and empty-vector handling") {
    val a = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val same = graft.ext.Similarity.embeddingDrift(a, a, "embedding")
      .collect().head
    assert(same.getAs[Double]("centroid_cosine") == 1.0)
    assert(same.getAs[Double]("centroid_l2") == 0.0)
    assert(same.getAs[Double]("avg_norm_a") == 1.0)
    assert(same.getAs[Long]("dim") == 2L)
    val b = Seq((3L, Seq(0.0f, 1.0f)),
      (4L, Seq.empty[Float])) // empty vector excluded from both stats
      .toDF("vec_id", "embedding")
    val orth = graft.ext.Similarity.embeddingDrift(a, b, "embedding")
      .collect().head
    assert(orth.getAs[Long]("n_b") == 1L)
    assert(orth.getAs[Double]("centroid_cosine") == 0.0)
    assert(orth.getAs[Double]("centroid_l2") == 1.414214) // √2 rounded
  }

  test("tokenDistributionDrift: identical corpora diverge 0, disjoint diverge 1") {
    val a = Seq((1L, "x y z"), (2L, "x x w")).toDF("doc_id", "text")
    val same = graft.ext.Diff.tokenDistributionDrift(a, a, "text")
      .collect().head
    assert(same.getAs[Double]("js_divergence") == 0.0)
    assert(same.getAs[Long]("vocab_shared") == 4L)
    assert(same.getAs[Long]("n_tokens_a") == 6L)
    val b = Seq((1L, "p q r s t u")).toDF("doc_id", "text")
    val disj = graft.ext.Diff.tokenDistributionDrift(a, b, "text")
      .collect().head
    // disjoint supports: JS = 1 bit exactly
    assert(disj.getAs[Double]("js_divergence") == 1.0)
    assert(disj.getAs[Long]("vocab_shared") == 0L)
  }

  test("topDriftedTokens ranks the moved token first with signed shift") {
    // 'x' goes 1/2 -> 0; 'z' goes 0 -> 1/2; 'y' stays at 1/2
    val a = Seq((1L, "x y")).toDF("doc_id", "text")
    val b = Seq((1L, "z y")).toDF("doc_id", "text")
    val out = graft.ext.Diff.topDriftedTokens(a, b, "text", k = 2)
      .collect()
    assert(out.length == 2)
    // |shift| = 0.5 for both x and z; tok asc tiebreak puts x first
    assert(out(0).getAs[String]("tok") == "x")
    assert(out(0).getAs[Double]("shift") == -0.5)
    assert(out(1).getAs[String]("tok") == "z")
    assert(out(1).getAs[Double]("shift") == 0.5)
  }

  test("corpusDiff pairs null ids null-safely (no phantom add+remove)") {
    val v1 = Seq((Option(1L), "a"), (Option.empty[Long], "n"))
      .toDF("doc_id", "text")
    val v2 = Seq((Option(1L), "a2"), (Option.empty[Long], "n"),
      (Option(2L), "b")).toDF("doc_id", "text")
    val d = graft.ext.Diff.corpusDiff(v1, v2, "doc_id", Seq("text"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        r.getString(1)).toMap
    // the null-id row exists unchanged in both versions — it must NOT
    // surface as one "added" plus one "removed"
    assert(d == Map(-1L -> "unchanged", 1L -> "changed", 2L -> "added"))
  }

  test("selectByTokenBudget equals the global-order prefix exactly") {
    val docs = spark.range(500).select(
      col("id").as("doc_id"),
      (pmod(col("id") * 37, lit(100)) / 100.0).as("score"),
      pmod(col("id") * 13, lit(50)).cast("long").as("toks"))
    val budget = 2000L
    val got = Sampling.selectByTokenBudget(docs, "doc_id", "score", "toks",
        budget, bands = 16, seed = 3)
      .select("doc_id").as[Long].collect().toSet
    // brute force: the documented total order + running-sum prefix
    val h = TextStats.md5Hash64(
      concat(lit("3"), lit("|"), col("doc_id").cast("string")))
    val band = least(greatest(floor(col("score") * 16), lit(0)), lit(15))
      .cast("int")
    val rows = docs.select(col("doc_id"), band.as("b"), h.as("h"), col("toks"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (id, b, hh, _) => (-b, hh, id) }
    var cum = 0L
    val want = rows.takeWhile { case (_, _, _, t) =>
      cum += t; cum <= budget
    }.map(_._1).toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < 500)
    // budget covering everything keeps every eligible row
    assert(Sampling.selectByTokenBudget(docs, "doc_id", "score", "toks",
      10000000L).count() == 500)
    // ineligible rows (null score / null or negative tokens) never select
    val nullRow = spark.range(1).select(lit(9999L).as("doc_id"),
      lit(null).cast("double").as("score"), lit(5L).as("toks"))
    assert(Sampling.selectByTokenBudget(docs.unionByName(nullRow),
        "doc_id", "score", "toks", 10000000L)
      .filter(col("doc_id") === 9999L).count() == 0)
  }

  test("mixtureWeights flattens shares at alpha<1 and rates hit the token target") {
    // two sources, 9:1 token split: natural share 0.9/0.1; alpha=0.5
    // pulls toward 0.75/0.25 (sqrt ratio 3:1)
    val df = ((1 to 90).map(i => (i.toLong, "big", 100L)) ++
      (91 to 100).map(i => (i.toLong, "small", 100L)))
      .toDF("doc_id", "src", "toks")
    val w = Sampling.mixtureWeights(df, "src", "toks", alpha = 0.5,
      targetTokens = 10000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(w("big")._1 == 9000L && w("small")._1 == 1000L)
    assert(math.abs(w("big")._2 - 0.75) < 1e-6)
    assert(math.abs(w("small")._2 - 0.25) < 1e-6)
    // Σ rate_s · tokens_s = targetTokens (the budget is conserved)
    val total = w.values.map { case (t, _, r) => t * r }.sum
    assert(math.abs(total - 10000.0) < 1.0)
    // alpha=1 is natural sampling: every source gets the same rate
    val nat = Sampling.mixtureWeights(df, "src", "toks", alpha = 1.0,
      targetTokens = 10000L)
      .select("rate").as[Double].collect().toSet
    assert(nat.size == 1)
  }

  test("mixtureSample repeats small sources and is deterministic") {
    val df = ((1 to 90).map(i => (i.toLong, "big", 100L)) ++
      (91 to 100).map(i => (i.toLong, "small", 100L)))
      .toDF("doc_id", "src", "toks")
    // target = 2× corpus: small source (weight .25, 1k tokens) needs
    // rate 5.0 — every small doc appears exactly 5 times
    val sample = Sampling.mixtureSample(df, "src", "doc_id", "toks",
      alpha = 0.5, targetTokens = 20000L)
    val perDoc = sample.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    (91 to 100).foreach(i => assert(perDoc(i.toLong) == 5L,
      s"small doc $i repeated ${perDoc.get(i.toLong)}"))
    // big source: rate 15000/9000 = 1.6667 → every doc 1-2 times, total
    // within the fractional-bucket tolerance of 15000 tokens
    val bigRows = sample.filter(col("src") === "big").count()
    assert(bigRows >= 90 && bigRows <= 180)
    // epoch indices are 1..n per doc
    val epochs = sample.filter(col("doc_id") === 95L)
      .select("epoch").as[Int].collect().sorted
    assert(epochs.sameElements(1 to 5))
    // deterministic under repartitioning
    val again = Sampling.mixtureSample(df.repartition(7), "src", "doc_id",
      "toks", alpha = 0.5, targetTokens = 20000L)
      .select("doc_id", "epoch").as[(Long, Int)].collect().toSet
    val first = sample.select("doc_id", "epoch")
      .as[(Long, Int)].collect().toSet
    assert(first == again)
  }

  test("mixtureSample excludes null-source docs consistently with the weights") {
    // mixtureWeights excludes null sources from the rate table BY
    // DESIGN ("no principled mixture membership") — so their mass
    // shapes no weight AND their docs appear in no sample; this pins
    // the two halves of that contract to stay consistent
    val df = ((1 to 50).map(i => (i.toLong, Option("a"), 100L)) ++
      (51 to 100).map(i => (i.toLong, Option.empty[String], 100L)))
      .toDF("doc_id", "src", "toks")
    val w = Sampling.mixtureWeights(df, "src", "toks",
      alpha = 1.0, targetTokens = 5000L).collect()
    assert(w.length == 1 && w.head.getString(0) == "a")
    val sample = Sampling.mixtureSample(df, "src", "doc_id", "toks",
      alpha = 1.0, targetTokens = 5000L)
    assert(sample.filter(col("src").isNull).count() == 0L)
    assert(sample.count() == 50L) // source a at natural rate 1.0
  }
}
