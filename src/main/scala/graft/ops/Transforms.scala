package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level transforms (SURVEY §2.4 P1–P3, §2.7 WF1–WF2).
  *
  * All transforms are narrow (no shuffle) except the two window operators,
  * which shuffle exactly once on their partition keys. Everything stays
  * inside whole-stage codegen — pure Column algebra, no UDFs.
  */
object Transforms {

  /** Bronze ingestion metadata (reference `src/utils/spark_utils.py:352-372`):
    * source file and ingestion timestamp audit columns. */
  def addIngestionMetadata(df: DataFrame): DataFrame = df
    .withColumn("_source_file", input_file_name())
    .withColumn("_ingestion_timestamp", current_timestamp())

  /** Silver/gold processing timestamp (reference spark_utils.py:375-390). */
  def addProcessingMetadata(df: DataFrame): DataFrame =
    df.withColumn("_processing_timestamp", current_timestamp())

  /** String standardisation (reference spark_utils.py:398-439): for each
    * listed column that exists (missing names are skipped, matching the
    * reference), optionally trim, then apply case folding
    * ("upper" | "lower" | anything else = leave case). Single projection
    * node — one `select`, not N `withColumn`s. */
  def standardizeStrings(
      df: DataFrame,
      columns: Seq[String],
      caseMode: String = "upper",
      trimWhitespace: Boolean = true): DataFrame = {
    val targets = columns.filter(df.columns.contains).toSet
    val projected = df.columns.map { c =>
      if (!targets.contains(c)) col(c)
      else {
        val trimmed = if (trimWhitespace) trim(col(c)) else col(c)
        val cased = caseMode.toLowerCase match {
          case "upper" => upper(trimmed)
          case "lower" => lower(trimmed)
          case _       => trimmed
        }
        cased.as(c)
      }
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** Keyed dedup keeping first/latest by `orderBy` (reference
    * spark_utils.py:442-483 = WF1): `row_number` over
    * partitionBy(keys).orderBy(order) and keep rank 1.
    *
    * `tieBreakers` guards against the reference's latent bug (SURVEY §7.4):
    * `row_number` on equal order-keys is nondeterministic; callers should
    * pass the PK so results are stable run-to-run.
    *
    * Scale: one hash shuffle on `keys`; no global ordering anywhere. */
  def deduplicateByKey(
      df: DataFrame,
      keys: Seq[String],
      orderByColumn: String,
      ascending: Boolean = false,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val ord0 = if (ascending) col(orderByColumn).asc else col(orderByColumn).desc
    val ties = tieBreakers.map(c => if (ascending) col(c).asc else col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord0 +: ties: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Surrogate key via a global `row_number` over the natural key ordering
    * (reference spark_utils.py:486-511 = WF2). Faithful to the reference —
    * and to its hazard: a window with no partitionBy collapses to ONE
    * partition. Fine for dimension tables (≤ millions of rows); for facts
    * use [[addSurrogateKeyScalable]]. */
  def addSurrogateKey(
      df: DataFrame,
      keyColumnName: String,
      naturalKeys: Seq[String]): DataFrame = {
    val w = Window.orderBy(naturalKeys.map(col): _*)
    df.withColumn(keyColumnName, row_number().over(w).cast("long"))
  }

  /** Scale-safe surrogate keys: two-phase — per-partition ranks plus an
    * exclusive running offset of partition sizes (a tiny per-partition
    * count collected to the driver, summed there by [[partitionOffsets]]
    * and broadcast back). Produces the same dense 1..N keys ordered by
    * the natural keys, without a single-partition window. The extra cost
    * over the global window is one range shuffle (for global order) + one
    * tiny aggregate. */
  def addSurrogateKeyScalable(
      df: DataFrame,
      keyColumnName: String,
      naturalKeys: Seq[String]): DataFrame = {
    // snapshot the range-partitioned frame: the offsets aggregate and
    // the main join both consume it, and correctness REQUIRES both to
    // see the same sampled range boundaries — under exchange-reuse both
    // branches share one exchange anyway, but with reuse disabled (or an
    // AQE recompute) an unmaterialized subtree could re-sample different
    // boundaries, silently duplicating/skipping key values. The eager
    // snapshot makes boundary agreement unconditional, registers no
    // CacheManager entry, and its blocks GC-release with the frame
    // (util.Caches contract; the old persist() here was never released).
    // within-partition ordinal WITHOUT a window: the frame is already
    // sorted within partitions, so monotonically_increasing_id's low
    // 33 bits (the per-partition record counter, assigned in row order)
    // ARE the local rank. A Window.partitionBy(__pid) here would make
    // Catalyst insert a second full Exchange + sort on __pid — the
    // materialized frame's partitioning is opaque to the planner — and
    // double the promised shuffle volume on the hottest dim-build path.
    val ordered = graft.util.Caches.snapshot(
      df.repartitionByRange(naturalKeys.map(col): _*)
        .sortWithinPartitions(naturalKeys.map(col): _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__lrn", monotonically_increasing_id()
          .bitwiseAND(lit((1L << 33) - 1)) + lit(1L)))
    // per-partition counts come to the driver (a few rows, one per range
    // partition); the offsets are their exclusive prefix sums, joined back
    // as a broadcast local relation — no single-partition window
    val counts = ordered.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    val offsets = df.sparkSession
      .createDataFrame(partitionOffsets(counts))
      .toDF("__pid", "__offset")
    ordered.join(broadcast(offsets), "__pid")
      .withColumn(keyColumnName, (col("__offset") + col("__lrn")).cast("long"))
      .drop("__pid", "__lrn", "__offset")
  }

  /** Exclusive prefix sums of per-partition row counts, in partition-id
    * order: `(pid, rows before pid)`. The ordinals
    * [[addSurrogateKeyScalable]] adds to these offsets come from
    * `monotonically_increasing_id`'s 33-bit per-partition record counter,
    * which WRAPS past 2^33 rows in one partition (a hot natural key
    * funnels all its rows to one range partition) — wrapped ordinals
    * would emit DUPLICATE "unique" keys silently, so any such count
    * fails here instead. */
  private[graft] def partitionOffsets(
      counts: Seq[(Int, Long)]): Seq[(Int, Long)] = {
    counts.find(_._2 >= (1L << 33)).foreach { case (_, n) =>
      throw new IllegalStateException("addSurrogateKeyScalable: a range " +
        s"partition holds $n rows — past the 2^33 per-partition ordinal " +
        "range; key assignment would wrap and collide. Split the hot " +
        "natural key or salt it.")
    }
    val byPid = counts.sortBy(_._1)
    byPid.map(_._1).zip(byPid.scanLeft(0L)(_ + _._2))
  }

  /** Scale-safe rank WITHIN a group (ties broken by the order columns —
    * give them a unique tiebreak and rank ≡ row_number): the two-phase
    * [[addSurrogateKeyScalable]] construction generalized to a group key.
    * A raw `Window.partitionBy(group)` puts each group's ENTIRE
    * population into one task — a 25-nation rank over billions of
    * customers is 25 straggler tasks no matter how large the cluster —
    * where this shape is one range shuffle on (group, order) plus a tiny
    * broadcast of per-(partition, group) offsets.
    *
    * A group's rows are contiguous within each range partition (the
    * range key leads with the group columns), so the local ordinal is
    * the physical record counter minus the group's first counter in that
    * partition, and the global rank adds the group's row count in all
    * earlier partitions. */
  def rankWithinGroupScalable(
      df: DataFrame,
      rankColumnName: String,
      groupCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val rangeKey = groupCols.map(col) ++ orderCols
    val ordered = graft.util.Caches.snapshot(
      df.repartitionByRange(rangeKey: _*)
        .sortWithinPartitions(rangeKey: _*)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__idx", monotonically_increasing_id()
          .bitwiseAND(lit((1L << 33) - 1))))
    // per-(partition, group): row count and first physical index —
    // #partitions × #groups rows. The 33-bit ordinal wrap guard rides
    // the same aggregate (see partitionOffsets: wrapped ordinals would
    // emit colliding ranks silently).
    // snapshot the (small) aggregate: the cardinality probe below and
    // the offsets window both read it without re-aggregating `ordered`
    val perPart = graft.util.Caches.snapshot(ordered
      .groupBy((col("__pid") +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("__n"), min(col("__idx")).as("__first"))
      // guard the PARTITION total, not the per-group slice: the 33-bit
      // record counter is per TASK, so a range partition holding
      // several groups can wrap while every individual group stays
      // under 2^33 (addSurrogateKeyScalable counts per __pid alone for
      // exactly this reason). Window over the tiny aggregate.
      .withColumn("__ptotal", sum(col("__n")).over(
        Window.partitionBy(col("__pid"))))
      .withColumn("__n", when(col("__ptotal") >= (1L << 33),
        raise_error(lit("rankWithinGroupScalable: a range partition " +
          "holds >= 2^33 rows — past the per-partition ordinal range; " +
          "ranks would wrap and collide")))
        .otherwise(col("__n")))
      .drop("__ptotal"))
    val offsets = perPart
      .withColumn("__offset",
        coalesce(
          sum(col("__n")).over(
            Window.partitionBy(groupCols.map(col): _*)
              .orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select((col("__pid").as("__opid") +:
        groupCols.map(c => col(c).as(s"__og_$c"))) ++
        Seq(col("__offset"), col("__first")): _*)
    val joinCond = (col("__pid") === col("__opid")) +:
      groupCols.map(c => col(c) <=> col(s"__og_$c"))
    // broadcast only while the offsets side is PROVABLY broadcastable:
    // #partitions × #groups is tiny for the low-cardinality groups this
    // exists for, but a generic caller ranking within a high-cardinality
    // group would otherwise force a multi-GB build through the driver —
    // the exact forced-hint-past-AQE's-guard hazard the gold joins shed.
    // The count is one job over the already-materialized aggregate.
    val offsetsSide =
      if (perPart.count() <= (1L << 20)) broadcast(offsets) else offsets
    ordered.join(offsetsSide, joinCond.reduce(_ && _))
      .withColumn(rankColumnName,
        (col("__offset") + col("__idx") - col("__first") + 1L).cast("long"))
      .drop(Seq("__pid", "__idx", "__opid", "__offset", "__first") ++
        groupCols.map(c => s"__og_$c"): _*)
  }

  /** Pipe-delimited string → array column (bronze `fraud_indicators` →
    * silver array<string>; reference generator.py:540 / silver.py:49).
    * Empty string → empty array (split would give [""]) . */
  def parseDelimitedArray(c: Column, delimiter: String = "\\|"): Column =
    when(c.isNull || c === "", array().cast("array<string>"))
      .otherwise(split(c, delimiter))
}
