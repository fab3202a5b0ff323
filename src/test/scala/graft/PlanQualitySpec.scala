package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.functions._

import graft.ext.{AsOfJoin, Sampling}
import graft.generator.DataGenerator
import graft.gold.FintechGold
import graft.ops.SilverPipeline

/** Plan-quality assertions: the physical shapes the 100 TB design relies
  * on must actually appear in the compiled plans — pushed filters, pruned
  * scans, broadcast fact-dim joins, TakeOrderedAndProject top-k, the
  * single-shuffle as-of join, shuffle-free sampling. A regression here is
  * a scale bug even when every value is still correct. */
class PlanQualitySpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOcc(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q02: filter and projection reach the parquet scan") {
    val p = planOf(SparkEntry.queries("q02_filter_pushdown")(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    // non-empty pushdown (not "PushedFilters: []")
    assert(!p.contains("PushedFilters: []"), p)
    // column pruning: the lineitem scan must not read all 16 columns
    assert(p.contains("ReadSchema"), p)
  }

  test("q03: top-k compiles to TakeOrderedAndProject, no global sort") {
    val p = planOf(SparkEntry.queries("q03_top_orders")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("fintech fact-dim joins broadcast ADAPTIVELY when the dims fit — " +
    "no hint, AQE's size guard decides") {
    val txns = SilverPipeline.transactionsToSilver(
      DataGenerator.transactions(spark, 2000, 100, 20))
    val cust = FintechGold.dimCustomer(SilverPipeline.customersToSilver(
      DataGenerator.customers(spark, 100), asOf = lit("2024-06-01").cast("date")))
    val merch = FintechGold.dimMerchant(SilverPipeline.merchantsToSilver(
      DataGenerator.merchants(spark, 20)))
    val fact = FintechGold.factTransactions(txns, cust, merch)
    // factTransactions must NOT hint the dim joins: a forced broadcast of
    // the fact-correlated dims would bypass AQE's size guard straight
    // into the 8 GB cap at scale. (The surrogate-key builders' INTERNAL
    // offsets broadcast is legitimately hinted — it is #partitions rows
    // by construction.) Small dims still broadcast — at RUNTIME, once
    // AQE sees their true size — so execute, then read the final
    // adaptive plan.
    fact.collect()
    // the adaptive plan string carries BOTH the final and the initial
    // plan; only the final section reflects what actually ran
    val p = planOf(fact).split("== Initial Plan ==").head
    // the two fact-dim joins themselves (the dims' internal surrogate-key
    // builders contribute additional broadcast joins of their own)
    assert(countOcc(p, "LeftOuter, BuildRight") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("generator frames compile to exchange-free range projections — " +
    "embarrassingly parallel generation at any n") {
    // the scaladoc's scale claim: every column derives from counter-based
    // hashing over spark.range(n), so generation is a narrow map with no
    // shuffle — a billion-row GenData run parallelizes by partition count
    // alone. A rand()/window/join sneaking in would show as an Exchange.
    Seq(
      DataGenerator.customers(spark, 100),
      DataGenerator.merchants(spark, 50),
      DataGenerator.exchangeRates(spark, 30),
      DataGenerator.transactions(spark, 500, 100, 20)
    ).foreach { df =>
      // inspect plan NODES, not the plan string: the merchant projection
      // legitimately carries the literal "Crypto Exchanges" MCC category,
      // which a substring check misreads as a shuffle. AQE guard (review
      // catch, r18): a plan that CONTAINS an exchange gets wrapped in
      // AdaptiveSparkPlanExec — a LEAF node, so collecting Exchange alone
      // would pass vacuously in exactly the regression case this gate
      // exists to catch. An adaptive wrapper on a generator frame is
      // itself proof of a shuffle/subquery, so both node kinds fail.
      val offending = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
      }
      assert(offending.isEmpty, df.queryExecution.executedPlan.toString)
    }
  }

  test("as-of join runs on a single keyed shuffle") {
    val txns = spark.range(100).select(col("id"),
      lit("USD").as("ccy"), (col("id") * 1000).as("ts"))
    val rates = spark.range(10).select(lit("USD").as("ccy"),
      (col("id") * 10000).as("rts"), (col("id") + 1).cast("double").as("rate"))
    val joined = AsOfJoin.asOfBackward(txns, rates, Seq("ccy"), "ts", "rts",
      Seq("rate"))
    val p = planOf(joined)
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
  }

  test("deterministic sampling and splitting add no keyed exchange") {
    // Tables.load round-robins the single-row-group test parquet; the
    // sampling ops themselves must add no hash/range repartition
    val docs = Tables.load(spark, sfDir, "documents")
    val split = planOf(Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.2)))
    assert(!split.contains("Exchange hashpartitioning") &&
      !split.contains("Exchange rangepartitioning"), split)
    val strat = planOf(Sampling.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 0.5), defaultRate = 0.1))
    assert(!strat.contains("Exchange hashpartitioning") &&
      !strat.contains("Exchange rangepartitioning"), strat)
  }

  test("budget selection output is a shuffle-free broadcast-literal scan") {
    // the driver phases (group histogram, boundary cumsum) run inside the
    // call; the RETURNED frame — the thing a 100 TB pipeline consumes —
    // must be a plain filtered scan with no exchange of the corpus
    val docs = Tables.load(spark, sfDir, "documents")
    val scored = docs.select(col("doc_id"),
      graft.ext.TextStats.qualityScore(col("text")).as("score"),
      graft.ext.TextStats.tokenCount(col("text")).as("toks"))
    val sel = Sampling.selectByTokenBudget(scored, "doc_id", "score",
      "toks", budgetTokens = 10000L)
    val p = planOf(sel)
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
  }

  test("aml structuring screen is one shuffle on customer_id") {
    val txns = SilverPipeline.transactionsToSilver(
      DataGenerator.transactions(spark, 2000, 100, 20))
    val p = planOf(FintechGold.amlStructuring(txns))
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
  }

  test("chunking adds no exchange — a pure per-row transform") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(graft.ext.Retrieval.chunk(docs, "doc_id", "text", 32, 24))
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
  }

  test("bm25 never explodes or shuffles the corpus; stats join broadcasts") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(graft.ext.Retrieval.bm25(docs, "doc_id", "text",
      Seq("join", "spark")))
    // no (doc, term) explosion and no corpus-keyed exchange — only the
    // single-row stats aggregate exchanges (SinglePartition)
    assert(!p.contains("Generate explode"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("deterministic shuffle is a range-partitioned sort, no global window") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(Sampling.shuffled(docs, "doc_id", seed = 3))
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("vocabulary aggregates map-side before its one term shuffle") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(graft.ext.TextModel.vocabulary(docs, "doc_id", "text"))
    // partial_count before the exchange = map-side combine
    assert(p.contains("partial_count") || p.contains("partial count"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("range join is a hash equi-join on the grid cell, never a loop") {
    val p = planOf(SparkEntry.queries("q71_range_join")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the cell key joins as an equality (broadcast or shuffled hash both
    // acceptable — the small band table broadcasts under AQE)
    assert(p.contains("Join") && p.contains("__cell"), p)
  }

  test("semantic dedup pairs join hash-equi on the cell, never a loop") {
    val p = planOf(SparkEntry.queries("q79_semantic_dedup")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__cell"), p)
  }

  test("span dedup never loops or cross-joins; windows stay per-doc") {
    val p = planOf(SparkEntry.queries("q80_span_dedup")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // one bounded range window, partitioned by doc id
    assert(p.contains("specifiedwindowframe(RangeFrame"), p)
  }

  test("quality-classifier scoring is a narrow projection — no exchange, no UDF") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = graft.ext.QualityClassifier.LinearTextModel(
      Seq.fill(64)(0.1), -0.5, 64) // literal weights: scoring needs no fit
    val p = planOf(docs.select(
      graft.ext.QualityClassifier.scoreColumn(col("text"), model)))
    // Tables.load round-robins the single-split test parquet; scoring
    // itself must add no KEYED exchange
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("mixture sample never shuffles the corpus — one broadcast of the rate table") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(graft.ext.Sampling.mixtureSample(docs, "source",
      "doc_id", "n_chars", alpha = 0.5, targetTokens = 1000000L))
    // the rate table is a collected driver-side literal (bounded by
    // #sources) joined back by broadcast; the corpus side itself adds NO
    // keyed exchange — explode is narrow
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
  }

  test("zorder key is computed without shuffling; clustering is one range sort") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val keyed = planOf(graft.ext.Layout.zorderKey(docs,
      Seq("doc_id", "n_chars")))
    // stats agg broadcasts back; the keyed frame itself never hash/range
    // partitions
    assert(keyed.contains("BroadcastExchange"), keyed)
    assert(!keyed.contains("Exchange hashpartitioning") &&
      !keyed.contains("Exchange rangepartitioning"), keyed)
    val clustered = planOf(graft.ext.Layout.zorderCluster(docs,
      Seq("doc_id", "n_chars"), numFiles = 4))
    // exactly one range exchange (the clustering sort); the only other
    // exchange is the single-ROW stats aggregate feeding the broadcast
    assert(countOcc(clustered, "Exchange rangepartitioning") == 1, clustered)
    assert(!clustered.contains("Exchange hashpartitioning"), clustered)
  }

  test("PQ ADC scoring joins broadcast query tables against codes — no corpus vector math") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val model = graft.ext.Pq.Model(
      Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(0.0)))) // literal codebooks
    val encoded = graft.ext.Pq.encode(emb, "vec_id", "embedding", model)
    val p = planOf(graft.ext.Pq.topK(encoded,
      emb.filter(col("vec_id") < 4), model, "vec_id", "embedding", k = 5))
    assert(p.contains("BroadcastExchange"), p)
    // the corpus side must not shuffle for the scoring join
    assert(!p.contains("hashpartitioning(vec_id"), p)
  }

  test("ivf-pq topK honors broadcastQueries: hint on by default, pure hash joins off") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // literal models — plan shape only, no training run needed
    val ivf = graft.ext.Ivf.Model(Seq.tabulate(4)(i =>
      Seq.tabulate(64)(j => math.sin(i * 7.0 + j))))
    val pq = graft.ext.Pq.Model(Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(0.0))))
    val index = graft.ext.IvfPq.Index(ivf, pq)
    val encoded = emb.select(col("vec_id"),
      (col("vec_id") % 4).cast("int").as("cell"),
      graft.ext.Pq.encodeColumn(col("embedding").cast("array<double>"), pq)
        .as("codes"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      // flag off + auto-broadcast disabled: a corpus-sized query frame
      // must produce ZERO BroadcastExchange — both the ADC probe join
      // and the rerank join fall back to shuffle hash joins
      val off = planOf(graft.ext.IvfPq.topK(encoded, emb, emb, index,
        "vec_id", "embedding", k = 5, broadcastQueries = false))
      assert(!off.contains("BroadcastExchange"), off)
      // default (query-batch contract): the hint forces the broadcast
      // even with the threshold disabled
      val on = planOf(graft.ext.IvfPq.topK(encoded, emb,
        emb.filter(col("vec_id") < 4), index, "vec_id", "embedding", k = 5))
      assert(on.contains("BroadcastExchange"), on)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("heavy-hitter candidate pass never shuffles tokens by key") {
    val docs = Tables.load(spark, sfDir, "documents")
    val toks = docs.select(
      explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
    val p = planOf(toks.agg(
      graft.functions.MisraGriesAgg.candidates(col("token"), 100)))
    // partial sketches merge through the single-partition exchange; the
    // token stream itself is NEVER hash-partitioned by token
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("misragriesagg") || p.contains("MisraGriesAgg"), p)
  }

  test("dsir scoring rides the scan; selection is TakeOrderedAndProject") {
    val p = planOf(SparkEntry.queries("q100_dsir_resample")(spark, sfDir))
    // the bucket LMs collapsed to a literal before this plan was built:
    // scoring is a pure projection (no join against the corpus) and the
    // top-k never global-sorts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("pack assembly is one keyed shuffle on pack_id") {
    val p = planOf(SparkEntry.queries("q99_assemble_packs")(spark, sfDir))
    // two-phase packing contributes its range partitioning; the assembly
    // adds exactly one hash exchange (the pack_id groupBy)
    assert(countOcc(p, "Exchange hashpartitioning(pack_id") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic decontam broadcasts the bench; one corpus-id exchange") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = planOf(graft.ext.Decontam.semanticScreen(
      emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
      "vec_id", "embedding", minCos = 0.9))
    // bench rides a BroadcastNestedLoopJoin into every corpus partition;
    // the only hash exchange is the per-doc max (post partial-agg, so it
    // carries one row per corpus doc, not the bench fan-out)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard negatives broadcast the query batch; corpus never shuffles " +
      "for scoring") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = planOf(graft.ext.Retrieval.hardNegatives(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label",
      k = 5))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the single hash exchange is the per-query top-k window over the
    // scored sliver
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source overlap self-joins on the hash key, totals re-attach broadcast") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = planOf(graft.ext.Dedup.sourceOverlap(docs, "text", "source"))
    // keyed exchanges only (distinct + hash self-join + pair groupBy);
    // the tiny per-source totals must come back via broadcast, never a
    // sort-merge
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("fuzzy match probes corpus grams by broadcast — no cartesian, no " +
      "sort-merge") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i => (i, f"Customer#${i}%09d"))
      .toDF("c_id", "c_name")
    val watch = Seq((9000L, "Customer#00000004")).toDF("w_id", "w_name")
    val p = planOf(graft.ext.FuzzyJoin.fuzzyMatch(watch, corpus,
      "w_id", "w_name", "c_id", "c_name", maxDist = 1))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("funnel stages filter-push their event type and join keyed on user") {
    val events = Tables.load(spark, sfDir, "events")
    val p = planOf(graft.ext.Funnel.funnel(events, "user_id", "ts",
      "event_type", Seq("signup", "view", "purchase")))
    // the event-type predicate must reach the scan, and no stage may
    // cross-join or globally sort the events
    assert(p.contains("PushedFilters: [IsNotNull(event_type)") ||
      p.contains("EqualTo(event_type,signup)"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("retention attaches cohort sizes by broadcast, never sort-merge") {
    val events = Tables.load(spark, sfDir, "events")
    val p = planOf(graft.ext.Funnel.retention(events, "user_id", "ts", 14))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("url normalization is a narrow projection — no exchange, no UDF") {
    import spark.implicits._
    val docs = Seq((1L, "src0"), (2L, "src1")).toDF("doc_id", "source")
    val p = planOf(docs.select(col("doc_id"),
      graft.ext.Web.normalizeUrl(concat(lit("https://"), col("source"),
        lit(".example.com/d?utm_source=x&b=1"))).as("u")))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("grouped OLS / correlation matrix are single-aggregate plans") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val ols = planOf(graft.ext.Stats.groupedOls(li, Seq("l_returnflag"),
      "l_quantity", "l_extendedprice"))
    // one keyed shuffle for the group-by, nothing else
    assert(countOcc(ols, "Exchange hashpartitioning") == 1, ols)
    assert(!ols.contains("ScalaUDF"), ols)
    val corr = planOf(graft.ext.Stats.correlationMatrix(li,
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    // global aggregate: a single-partition exchange, no keyed shuffle
    assert(countOcc(corr, "Exchange hashpartitioning") == 0, corr)
    assert(!corr.contains("CartesianProduct"), corr)
    // the exact path runs the ONE imperative 128-bit moment aggregate,
    // not k(k+1)/2 BigDecimal product sums
    assert(corr.toLowerCase.contains("decimalmoments"), corr)
  }

  test("decayed sums and Welch's t ride one keyed/group exchange each") {
    val ev = Tables.load(spark, sfDir, "events")
    val dec = planOf(graft.ext.Stats.decayedSum(ev, Seq("user_id"), "ts",
      "value", 7.0, 1706659200L))
    assert(countOcc(dec, "Exchange hashpartitioning") == 1, dec)
    val tw = planOf(graft.ext.Features.timeWeightedAverage(ev,
      Seq("user_id"), "ts", "event_id", "value"))
    // the lead window and the aggregate share the user_id partitioning
    assert(countOcc(tw, "Exchange hashpartitioning") == 1, tw)
  }

  test("association rules never cross-join; base rates broadcast back") {
    // pairRules returns an eager snapshot (util.Caches contract), so the
    // interesting plans execute INSIDE the call — capture them with a
    // QueryExecutionListener instead of printing the (bare-scan) result
    // plan. The base-rate joins carry no broadcast hint anymore (a
    // corpus-scale item vocabulary must not be forced onto the driver);
    // on this small fixture AQE's runtime sizes must still convert them
    // to broadcasts.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val ev = Tables.load(spark, sfDir, "events")
      graft.ext.Associations.pairRules(ev, "user_id",
        "event_type", minSupport = 0.01).count()
      // listener delivery is async — poll (bounded) until the broadcast
      // shows up rather than racing the bus
      def all(): String = plans.toArray.mkString("\n===\n")
      var waited = 0
      while (waited < 10000 && !(all().contains("BroadcastHashJoin") ||
          all().contains("BroadcastExchange"))) {
        Thread.sleep(100); waited += 100
      }
      assert(all().nonEmpty, "listener captured no executed plans")
      assert(!all().contains("CartesianProduct"), all())
      assert(all().contains("BroadcastHashJoin") ||
        all().contains("BroadcastExchange"), all())
    } finally spark.listenerManager.unregister(listener)
  }

  test("distinct IVM fold is two keyed aggregates — no table rescan joins") {
    import graft.ops.IncrementalAgg._
    val st = spark.range(1000).selectExpr("CAST(id % 7 AS STRING) AS g",
      "id % 97 AS u", "1L AS m")
    val feed = spark.range(100).selectExpr("'insert' AS _change_type",
      "CAST(id % 7 AS STRING) AS g", "id % 101 AS u")
    val p = planOf(applyChangeFeedDistinct(st, feed, Seq("g"), "u"))
    // one exchange keys the feed delta, one keys the state∪delta merge;
    // a join or a third exchange would mean the fold rescans something
    assert(countOcc(p, "Exchange hashpartitioning") <= 2, p)
    assert(!p.contains("Join"), p)
    // map-side combine before both exchanges
    assert(countOcc(p, "HashAggregate") >= 4, p)
  }

  test("sketch states aggregate map-side; quantile read is agg-only") {
    import graft.ops.IncrementalAgg._
    val rows = spark.range(1000).selectExpr("CAST(id % 7 AS STRING) AS g",
      "id % 97 AS u", "CAST(id AS DOUBLE) AS v")
    val ph = planOf(hllState(rows, Seq("g"), "u"))
    assert(countOcc(ph, "Exchange") == 1 && !ph.contains("Join"), ph)
    val pq = planOf(finalizeQuantiles(
      mergeQuantileStates(Seq(quantileState(rows, Seq("g"), "v"),
        quantileState(rows, Seq("g"), "v")), Seq("g")), Seq("g")))
    // per-input sketch agg → union → merge agg: group-key exchanges only,
    // and the imperative aggregates keep ObjectHashAggregate (no
    // sort-based fallback on real group counts)
    assert(!pq.contains("Join") && !pq.contains("CartesianProduct"), pq)
    assert(pq.contains("ObjectHashAggregate"), pq)
  }

  test("native session_window is one user-keyed exchange, no self-join") {
    val p = planOf(SparkEntry.queries("q158_session_window")(spark, sfDir))
    // the merging-window operator sorts within the user partition; the
    // gaps-and-islands rewrite it replaces needs a window + a second
    // aggregate pass
    assert(!p.contains("Join"), p)
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
  }

  test("packSpans adds exactly one pack-keyed exchange past the assignment " +
    "and no join") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").as("n_tokens"))
    val packed = graft.ext.Packing
      .packByBudgetScalable(docs, "doc_id", "n_tokens", 2048)
    // the assignment itself: one range partition + the broadcast offset
    // join (two-phase cumsum), asserted elsewhere — snapshot it so the
    // span plan below shows ONLY the span pass's own work
    val pinned = graft.util.Caches.snapshot(packed)
    val p = planOf(graft.ext.Packing.packSpans(pinned, "doc_id",
      Seq(col("doc_id")), "n_tokens", sepTokens = 2))
    // one hash exchange on pack_id for the bounded-group window — the
    // 100 TB shape: groups are budget-capped, no global sort, no join
    assert(countOcc(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("IvfPq.encode is a narrow pass: no keyed exchange, no join in the " +
    "encode plan") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val index = graft.ext.IvfPq.trainIndex(emb, "vec_id", "embedding",
      dim = 64, kCells = 4, m = 8, kCodes = 4, iters = 1)
    // encode snapshots eagerly; the plan of interest is the snapshot's
    // ORIGIN — build it unsnapshotted here via the same expressions
    val cv = col("embedding").cast("array<double>")
    val cell = graft.ext.Ivf.cellId(cv, index.ivf)
    val p = planOf(emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), cell.as("cell")))
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("Ivf.cellId is one native expression: no lambda or higher-order " +
    "function in its plan") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val m = graft.ext.Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    def exprsOf(cell: Column) = emb
      .select(cell.as("cell")).queryExecution.optimizedPlan
      .flatMap(_.expressions)
    def hasHof(es: Seq[Expression]) = es.exists(_.exists {
      case _: LambdaFunction | _: HigherOrderFunction => true
      case _ => false
    })
    val cv = col("embedding").cast("array<double>")
    val native = exprsOf(graft.ext.Ivf.cellId(cv, m))
    assert(!hasHof(native), native)
    assert(native.exists(_.exists(_.isInstanceOf[graft.functions.VecCellId])))
    // the probe sees the Column form's transform(...) lambda
    assert(hasHof(exprsOf(IvfReference.cellId(cv, m))))
  }

  test("an Ivf.train Lloyd iteration is one job, one stage, no exchange") {
    // a local input has no exchange of its own upstream, so every stage
    // train runs is its own work
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val local = spark.createDataFrame(emb.collectAsList(), emb.schema)
    val key = "graft.test.probe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      private def tagged(p: java.util.Properties) =
        p != null && p.getProperty(key) != null
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten
            + e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    def probe(iters: Int): (Int, Int) = {
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      jobs.set(0); stages.clear()
      spark.sparkContext.setLocalProperty(key, "ivf-train")
      try graft.ext.Ivf.train(local, "vec_id", "embedding", k = 8, iters)
      finally spark.sparkContext.setLocalProperty(key, null)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      (jobs.get, stages.size)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (j1, s1) = probe(1)
      val (j3, s3) = probe(3)
      assert(j3 - j1 == 2 && s3 - s1 == 2, s"jobs $j1/$j3, stages $s1/$s3")
      assert(j1 == s1, s"jobs $j1, stages $s1")
      assert(shuffleBytes.get == 0L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("curate's rule filter runs no regex, extract or lowercase node") {
    val docs = Tables.load(spark, sfDir, "documents")
    val es = graft.ext.TextPipeline.ruleFilter(docs, "text")
      .queryExecution.optimizedPlan.flatMap(_.expressions)
    val slow = es.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.RegExpReplace => e
      case e: org.apache.spark.sql.catalyst.expressions.RegExpExtractAll => e
      case e: org.apache.spark.sql.catalyst.expressions.Lower => e
    })
    assert(slow.isEmpty, slow)
    assert(es.exists(_.exists(_.isInstanceOf[graft.functions.NormalizeText])))
    assert(es.exists(_.exists(_.isInstanceOf[graft.functions.TextQuality])))
  }

  test("minHashLsh candidates+verify runs at most 1 shuffle and 3 " +
    "broadcasts") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    // originals, exact copies (one signature group each) and near copies
    // (banded candidates), so both candidate branches carry rows
    val base = Tables.load(spark, sfDir, "documents").filter(col("doc_id") < 50)
    val docs = base
      .unionByName(base.withColumn("doc_id", col("doc_id") + 1000L))
      .unionByName(base.withColumn("doc_id", col("doc_id") + 2000L)
        .withColumn("text", concat(col("text"), lit(" zzzz"))))
    // the verified pairs are an eager snapshot: the plan of interest runs
    // INSIDE the call, as its last checkpoint
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val pairs = try {
      val out = graft.ext.Dedup.minHashLsh(docs, "doc_id", "text",
        minJaccard = 0.5).collect()
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(pairs.exists(r => r.getLong(1) == r.getLong(0) + 1000L))
    assert(pairs.exists(r => r.getLong(1) == r.getLong(0) + 2000L))
    import scala.jdk.CollectionConverters._
    val verify = plans.asScala.filter(_._1.toLowerCase.contains("checkpoint"))
      .lastOption.map(_._2)
    assert(verify.nonEmpty, plans.asScala.map(_._1).mkString(", "))
    object H extends AdaptiveSparkPlanHelper
    val shuffles = H.collect(verify.get) { case e: ShuffleExchangeExec => e }
    val broadcasts = H.collect(verify.get) { case e: BroadcastExchangeExec => e }
    // the groupBy + min_by clusters, their join back to the keyed frame and
    // the bucket-count join ran 4 shuffles and 6 broadcasts here; the
    // cached signature-group and bucket-count windows leave the pair dedup
    // and the three small joins
    assert(shuffles.size <= 1 && broadcasts.size <= 3,
      s"${shuffles.size} shuffles, ${broadcasts.size} broadcasts:\n${verify.get}")
  }

  test("q29's portable LSH runs at least one keyed exchange fewer than " +
    "the explode + groupBy form") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the distinct hash-partitioned shuffles of every plan the call runs:
    // its cache fills, its snapshot and the final collect
    def run(q: => DataFrame): (Int, Seq[String]) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = plans.add(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val rows = try {
        val out = q.collect().map(_.toString).toSeq
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
        out
      } finally spark.listenerManager.unregister(listener)
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case st: QueryStageExec => walk(st.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case e: ShuffleExchangeExec =>
          if (e.outputPartitioning.isInstanceOf[HashPartitioning]) seen.add(e)
          walk(e.child)
        case other => other.children.foreach(walk)
      }
      plans.asScala.foreach(walk)
      (seen.size, rows)
    }
    val (got, rows) = run(SparkEntry.queries("q29_minhash_pairs")(spark, sfDir))
    val (want, refRows) = run {
      val docs = Tables.load(spark, sfDir, "documents")
      DedupReference.minHashLshPortable(docs.unionByName(docs
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", concat(col("text"), lit(" zyxqj")))),
          "doc_id", "text", shingleSize = 3, bands = 8, rowsPerBand = 4)
        .orderBy(col("a"), col("b"))
    }
    assert(rows.nonEmpty && rows == refRows)
    // row-local signatures drop the groupBy(id) over exploded shingles,
    // and the rep window drops the clusters aggregate's join back
    assert(got <= want - 1, s"$got keyed exchanges, reference $want")
  }

  test("volumeAnomalyDF shuffles once: the daily groupBy feeds the window " +
    "through one partition, with no second exchange") {
    val events = spark.range(800).select(timestamp_seconds(
      lit(1704067200L) + (col("id") % 8) * 86400).as("ts"))
    val out = graft.monitoring.Monitoring.volumeAnomalyDF(events, "ts")
    // the adaptive wrapper is a leaf: inspect the plan it starts from,
    // where every exchange the query needs is already placed
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.size == 1, plan.toString)
    assert(exchanges.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
      plan.toString)
    assert(out.count() == 8)
  }
}
