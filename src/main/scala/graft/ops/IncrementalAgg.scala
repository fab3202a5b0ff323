package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Incremental aggregate maintenance — the materialized-view primitive
  * for append-mostly lakes: keep a small mergeable STATE per key
  * (count / exact decimal sum / min / max), fold each new partition of
  * raw data into it, and finalize reader-facing metrics (avg derived
  * from sum/count) on demand. At 100 TB this is the difference between
  * rescanning the whole fact table per refresh and aggregating only
  * the new partition then merging two keyed frames.
  *
  * The state algebra is exact: counts are longs, sums accumulate in
  * DECIMAL (associative — merge order can never change a result),
  * min/max are order-free. So `finalize(merge(state(A), state(B)))` is
  * BIT-IDENTICAL to `finalize(state(A ∪ B))` — the q131 oracle checks
  * the incremental path against a full recompute.
  */
object IncrementalAgg {

  /** Build per-key mergeable state from raw rows: (keys*, n, sum_v
    * DECIMAL(38, decimals.scale), min_v, max_v). One shuffle with
    * map-side combine. `decimals` must hold the input's fixed-point
    * values (monetary DECIMAL(18,2) default — the Q.scala convention);
    * the stored sum is realigned to max precision AT THE INPUT'S SCALE
    * (38,2 would silently round a scale-4 rate sum) so the state schema
    * is IDENTICAL whether it came from one build or any chain of
    * [[mergeStates]] folds — a state table must not alternate types
    * between write paths (versioned-table schema enforcement rejects
    * that drift). */
  def aggState(df: DataFrame, keys: Seq[String], valueCol: String,
      decimals: DecimalType = DecimalType(18, 2)): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast(decimals))
        .cast(DecimalType(38, decimals.scale))
        .as("sum_v"),
      min(col(valueCol).cast(DoubleType)).as("min_v"),
      max(col(valueCol).cast(DoubleType)).as("max_v"))

  /** Merge any number of state frames into one (k-way, associative,
    * commutative): union + one keyed re-aggregate — every component is
    * mergeable by construction (sum of counts, sum of decimal sums,
    * min of mins, max of maxes). Works for daily folds (state ⊕ delta)
    * and backfills (merge a month of per-day states) alike. */
  def mergeStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(
        sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Reader-facing view of a state: exact sum surfaced as double, avg
    * derived as the explicit sum/count double division (identical
    * operands ⇒ identical IEEE result in any engine). */
  def finalizeState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) ++ Seq(
      col("n"),
      col("sum_v").cast(DoubleType).as("sum_value"),
      col("min_v").as("min_value"),
      col("max_v").as("max_value"),
      (col("sum_v").cast(DoubleType) / col("n").cast(DoubleType))
        .as("avg_value")): _*)

  /** RETRACTABLE state from raw rows: (keys*, n, sum_v). Counts and
    * decimal sums form a group (every delta has an inverse), so this
    * state — unlike [[aggState]]'s min/max — can absorb deletes and
    * updates, not just appends. The k = 1 case of [[sumStateMulti]], its
    * one measure stored as `sum_v`. */
  def sumState(df: DataFrame, keys: Seq[String], valueCol: String,
      decimals: DecimalType = DecimalType(38, 2)): DataFrame =
    sumStateMulti(df, keys, Seq(valueCol), decimals)
      .withColumnRenamed(s"sum_$valueCol", "sum_v")

  /** Fold a change feed ([[graft.io.VersionedTable.changeFeed]] with
    * `includePreimage=true`) into a retractable [[sumState]]: inserts and
    * update-postimages add (+1, +v); deletes and update-preimages retract
    * (−1, −v). Keys whose count reaches zero drop out — the maintained
    * state is EXACTLY `sumState` of the new table version, without
    * rescanning it. At 100 TB this is the materialized-view refresh that
    * costs O(changes), not O(table): one keyed aggregate over the (small)
    * change feed, one keyed merge against the (key-cardinality) state.
    * Exactness is inherited from the decimal group algebra — the q153
    * oracle checks maintained ≡ recomputed bit-for-bit. The k = 1 case of
    * [[applyChangeFeedMulti]]. */
  def applyChangeFeed(state: DataFrame, cdf: DataFrame, keys: Seq[String],
      valueCol: String,
      decimals: DecimalType = DecimalType(38, 2)): DataFrame =
    applyChangeFeedMulti(
      state.withColumnRenamed("sum_v", s"sum_$valueCol"), cdf, keys,
      Seq(valueCol), decimals)
      .withColumnRenamed(s"sum_$valueCol", "sum_v")

  /** Retractable COUNT(DISTINCT) state — the aggregate single-level IVM
    * cannot maintain (a delete only removes a value from the distinct set
    * if it was the LAST row carrying it, which the distinct count alone
    * cannot know). The standard two-level construction: keep the
    * MULTIPLICITY of every (keys, value) pair; a pair drops out of the
    * state exactly when its multiplicity reaches zero, and the distinct
    * count per key group is the number of surviving pairs.
    *
    * State size is Σ per-key distinct cardinality — the irreducible cost
    * of EXACT distinct maintenance (any engine pays it; Delta/Materialize
    * keep the same relation). When the value domain is unbounded at
    * 100 TB, use [[hllState]] instead: bounded bytes per key, mergeable,
    * but approximate and append-only. */
  def distinctState(df: DataFrame, keys: Seq[String],
      distinctCol: String): DataFrame =
    df.groupBy((keys :+ distinctCol).map(col): _*)
      .agg(count(lit(1)).as("m"))

  /** Fold a change feed (`includePreimage=true`) into a [[distinctState]]:
    * one keyed aggregate over the (small) feed, one keyed merge against
    * the state — O(changes) + O(state), never a rescan of the table.
    * Updates that move a value between key groups retract the preimage
    * pair and insert the postimage pair; same-pair updates cancel to a
    * net-zero delta and leave the state row untouched. */
  def applyChangeFeedDistinct(state: DataFrame, cdf: DataFrame,
      keys: Seq[String], distinctCol: String): DataFrame = {
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    val delta = cdf
      .filter(sign.isNotNull)
      .groupBy((keys :+ distinctCol).map(col): _*)
      .agg(sum(sign).as("m"))
    state.unionByName(delta)
      .groupBy((keys :+ distinctCol).map(col): _*)
      .agg(sum(col("m")).as("m"))
      .filter(col("m") > 0)
  }

  /** Reader-facing distinct counts from a [[distinctState]]: surviving
    * pairs per key group. Exact — the q157 oracle checks the maintained
    * count against DuckDB's COUNT(DISTINCT) over a full recompute.
    * NULL-value pairs stay in the state (they keep an all-null key group
    * EXISTING, as GROUP BY does) but must not count — SQL's
    * COUNT(DISTINCT v) skips nulls, and counting the null pair
    * overcounted every group containing null values by one. */
  def finalizeDistinct(state: DataFrame, keys: Seq[String]): DataFrame = {
    val vcol = state.columns
      .filterNot(c => keys.contains(c) || c == "m").head
    state.groupBy(keys.map(col): _*)
      .agg(count(when(col(vcol).isNotNull, lit(1))).as("n_distinct"))
  }

  /** Approximate distinct state: one Apache DataSketches HLL sketch per
    * key group (`hll_sketch_agg` — Spark-native, codegen'd). Bounded
    * bytes per key regardless of value cardinality and mergeable across
    * partitions/days ([[mergeHllStates]]), which makes it the 100 TB
    * default for distinct-over-time rollups; the trade is ~1–2% relative
    * error (lgConfigK=12) and NO retraction — sketches are append-only,
    * so deletes require re-sketching the affected key groups. */
  def hllState(df: DataFrame, keys: Seq[String], distinctCol: String,
      lgConfigK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(distinctCol), lit(lgConfigK)).as("hll"))

  /** Merge HLL states (k-way, associative, commutative): union + one
    * keyed `hll_union_agg` — daily folds and backfills alike. */
  def mergeHllStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      // second arg: allow merging sketches of differing lgConfigK
      // (downgrades to the smaller config) — states built by this module
      // share one config, so fail loudly instead
      .agg(hll_union_agg(col("hll"), lit(false)).as("hll"))
  }

  /** Reader-facing estimates from an HLL state. */
  def finalizeHll(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) :+
      hll_sketch_estimate(col("hll")).as("n_distinct_approx"): _*)

  /** Approximate quantile state: one mergeable KLL sketch per key group
    * ([[graft.functions.KllSketchAgg]] — the DataSketches library Spark
    * itself ships). `percentile_approx` answers a one-shot query but its
    * state is not storable; this state is a binary column, so per-day
    * percentile rollups fold like sums — one pass per new partition plus
    * a kilobyte-state merge, never a rescan. ~1.65% normalized rank
    * error at the default k=200; append-only (no retraction), like
    * [[hllState]]. */
  def quantileState(df: DataFrame, keys: Seq[String], valueCol: String,
      k: Int = 200): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.KllSketchAgg.sketch(
        col(valueCol).cast(DoubleType), k).as("kll"))

  /** Merge KLL quantile states (k-way, associative, commutative). */
  def mergeQuantileStates(states: Seq[DataFrame], keys: Seq[String],
      k: Int = 200): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.KllSketchAgg.mergeSketches(col("kll"), k)
        .as("kll"))
  }

  /** Column label for a quantile probability: percent when exact
    * (`q_95`), per-mille with a `p` marker otherwise (`q_995p` = 99.5%).
    * A bare `(p*100).round` labeled 0.995, 0.999 and 1.0 all `q_100` —
    * duplicate column names that break any downstream select with
    * AMBIGUOUS_REFERENCE. Shared by [[finalizeQuantiles]] and
    * `Streams.sketchRollupRead`. */
  private[graft] def quantileLabel(p: Double): String = {
    val pm = math.round(p * 1000)
    if (pm % 10 == 0) s"q_${pm / 10}" else s"q_${pm}p"
  }

  /** Reader-facing quantiles from a [[quantileState]]: one
    * `q_<percent>` double column per requested probability
    * ([[quantileLabel]] disambiguates sub-percent probabilities). */
  def finalizeQuantiles(state: DataFrame, keys: Seq[String],
      probabilities: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val labels = probabilities.map(quantileLabel)
    require(labels.distinct.size == labels.size,
      s"quantile labels collide: $labels — probabilities closer than " +
        "0.001 need distinct rounding")
    // project the quantile ARRAY once, then pick elements from that
    // column — element_at over a repeated KllQuantiles expression would
    // deserialize and query the sketch once per probability per row
    // (the expression is CodegenFallback, so no CSE saves it)
    state.withColumn("__qs",
        graft.functions.KllSketchAgg.quantiles(col("kll"), probabilities))
      .select(keys.map(col) ++ labels.zipWithIndex.map {
        case (l, i) => element_at(col("__qs"), i + 1).as(l)
      }: _*)
  }

  /** Reader-facing view of a retractable [[sumState]]: its measure `v`
    * through [[finalizeSumsMulti]], as `sum_value` / `avg_value`. */
  def finalizeSums(state: DataFrame, keys: Seq[String]): DataFrame =
    finalizeSumsMulti(state, keys, Seq("v"))
      .withColumnRenamed("sum_v", "sum_value")
      .withColumnRenamed("avg_v", "avg_value")

  /** RETRACTABLE state over SEVERAL measures at once:
    * (keys*, n, sum_<c> per value column). A real materialized view
    * rarely maintains one sum — amount + fee + net per merchant is the
    * normal shape — and maintaining k single-measure states would fold
    * the change feed k times and store k copies of the group keys. Count
    * and decimal sums form a group per column (every delta has an
    * inverse). The sums are realigned to the canonical `decimals` type
    * (default (38,2), max precision, so the cast can never overflow-null
    * a group total), so bootstrap and refresh writes carry one schema. */
  def sumStateMulti(df: DataFrame, keys: Seq[String],
      valueCols: Seq[String],
      decimals: DecimalType = DecimalType(38, 2)): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      valueCols.map(c =>
        sum(col(c).cast(decimals)).cast(decimals).as(s"sum_$c")): _*)
  }

  /** Fold a change feed into a [[sumStateMulti]] — [[applyChangeFeed]]
    * generalized to k measures for the cost of ONE feed aggregate and
    * ONE state merge. A null measure value contributes nothing in either
    * direction (insert and retraction skip it symmetrically, matching
    * `sum`'s null handling in the bootstrap), so the maintained state
    * stays exactly `sumStateMulti` of the new version. */
  def applyChangeFeedMulti(state: DataFrame, cdf: DataFrame,
      keys: Seq[String], valueCols: Seq[String],
      decimals: DecimalType = DecimalType(38, 2)): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    val delta = cdf
      .filter(sign.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sum(sign).as("n"),
        // retraction as NEGATION, not a ±1 decimal multiply: negation
        // keeps the operand's exact type, while a decimal multiply
        // widens (and at max precision would force a scale-losing
        // adjustment). Exact at any `decimals`.
        valueCols.map(c =>
          sum(when(sign > 0, col(c).cast(decimals))
            .otherwise(-col(c).cast(decimals)))
            .cast(decimals).as(s"sum_$c")): _*)
    val aligned = state.select(keys.map(col) ++ (col("n") +:
      valueCols.map(c => col(s"sum_$c").cast(decimals).as(s"sum_$c"))): _*)
    aligned.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        valueCols.map(c =>
          sum(col(s"sum_$c")).cast(decimals).as(s"sum_$c")): _*)
      .filter(col("n") > 0)
  }

  /** Reader-facing view of a [[sumStateMulti]]: per measure, the exact
    * sum and the n-division average as doubles (identical operands ⇒
    * identical IEEE results in any engine — the oracle-parity rule). */
  def finalizeSumsMulti(state: DataFrame, keys: Seq[String],
      valueCols: Seq[String]): DataFrame =
    state.select(keys.map(col) ++ (col("n") +: valueCols.flatMap(c => Seq(
      col(s"sum_$c").cast(DoubleType).as(s"sum_$c"),
      (col(s"sum_$c").cast(DoubleType) / col("n").cast(DoubleType))
        .as(s"avg_$c")))): _*)
}
