package graft.monitoring

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline monitoring (SURVEY §2.6 A5–A6; reference
  * `src/utils/monitoring.py`): stage metrics with a persisted metrics table,
  * freshness checks, and volume-anomaly detection.
  *
  * The reference collects a tiny aggregate and does the decision math on the
  * driver (monitoring.py:441-454) — the right shape at any scale, kept here.
  * `volumeAnomalyDF` additionally exposes the whole computation as a single
  * declarative plan (window over daily counts) so it can run as one job and
  * be verified against a SQL oracle.
  */
final case class StageMetrics(
    pipelineName: String,
    stageName: String,
    status: String,
    startTimeMs: Long,
    endTimeMs: Long,
    durationSeconds: Double,
    recordsRead: Long,
    recordsWritten: Long,
    recordsFailed: Long,
    errorMessage: Option[String])

object StageMetrics {
  val schema: StructType = StructType(Seq(
    StructField("pipeline_name", StringType, nullable = false),
    StructField("stage_name", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("start_time", TimestampType, nullable = false),
    StructField("end_time", TimestampType, nullable = false),
    StructField("duration_seconds", DoubleType, nullable = false),
    StructField("records_read", LongType, nullable = false),
    StructField("records_written", LongType, nullable = false),
    StructField("records_failed", LongType, nullable = false),
    StructField("error_message", StringType, nullable = true)))
}

/** Stage lifecycle bookkeeping (reference monitoring.py:144-235). */
final class PipelineMonitor(
    spark: SparkSession,
    pipelineName: String,
    metricsTable: Option[String] = None,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val open = mutable.Map.empty[String, Long]
  private val finished = mutable.ArrayBuffer.empty[StageMetrics]

  def startStage(stage: String): Unit = open(stage) = clock()

  def endStage(stage: String, status: String = "SUCCESS",
      recordsRead: Long = 0L, recordsWritten: Long = 0L,
      recordsFailed: Long = 0L, errorMessage: Option[String] = None): StageMetrics = {
    // an end without a start is a caller bookkeeping bug (typo'd stage
    // name): don't crash the pipeline over telemetry, but don't silently
    // fabricate a plausible 0-duration metric either
    val start = open.remove(stage).getOrElse {
      System.err.println(
        s"[monitor] endStage('$stage') without startStage — recording zero duration")
      clock()
    }
    val end = clock()
    val m = StageMetrics(pipelineName, stage, status, start, end,
      (end - start) / 1000.0, recordsRead, recordsWritten, recordsFailed,
      errorMessage)
    finished += m
    metricsTable.foreach(writeMetrics(m, _))
    m
  }

  def metrics: Seq[StageMetrics] = finished.toSeq

  private def writeMetrics(m: StageMetrics, table: String): Unit = {
    val row = Row(m.pipelineName, m.stageName, m.status,
      new java.sql.Timestamp(m.startTimeMs), new java.sql.Timestamp(m.endTimeMs),
      m.durationSeconds, m.recordsRead, m.recordsWritten, m.recordsFailed,
      m.errorMessage.orNull)
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), StageMetrics.schema)
      .write.mode("append").format("parquet").saveAsTable(table)
  }
}

object Monitoring {

  /** Metrics table DDL (reference monitoring.py:284-309). */
  def createMetricsTable(spark: SparkSession, tableName: String): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $tableName (
         |  pipeline_name STRING NOT NULL,
         |  stage_name STRING NOT NULL,
         |  status STRING NOT NULL,
         |  start_time TIMESTAMP NOT NULL,
         |  end_time TIMESTAMP NOT NULL,
         |  duration_seconds DOUBLE NOT NULL,
         |  records_read BIGINT NOT NULL,
         |  records_written BIGINT NOT NULL,
         |  records_failed BIGINT NOT NULL,
         |  error_message STRING
         |) USING PARQUET""".stripMargin)

  /** Freshness: max(ts) per group vs an SLA (reference monitoring.py:317-384).
    * One small aggregate job; the SLA compare is driver-side. */
  def freshnessDF(df: DataFrame, tsCol: String, groupBy: Seq[String] = Nil): DataFrame = {
    val base = if (groupBy.isEmpty) df.groupBy() else df.groupBy(groupBy.map(col): _*)
    base.agg(max(col(tsCol)).as("last_ts"), count(lit(1)).as("n_rows"))
  }

  def isFresh(df: DataFrame, tsCol: String, maxAgeHours: Double,
      nowMs: Long = System.currentTimeMillis()): Boolean = {
    // demand a real timestamp, like DataQualityChecker's freshness
    // check: an epoch-MILLIS bigint column would make the age hugely
    // negative — a months-stale table reporting fresh FOREVER — and a
    // DATE column crashes the cast; callers with numeric epochs cast
    // explicitly, stating their unit
    val dt = df.schema.find(_.name.equalsIgnoreCase(tsCol)).map(_.dataType)
    require(dt.exists(
      _.isInstanceOf[org.apache.spark.sql.types.TimestampType]),
      s"isFresh needs a TIMESTAMP column, got " +
        s"${dt.map(_.catalogString).getOrElse("<missing>")} for $tsCol")
    val row = df.agg(max(col(tsCol)).cast(LongType)).head()
    // empty/all-null table has no newest row → stale, not an NPE
    if (row.isNullAt(0)) return false
    (nowMs / 1000.0 - row.getLong(0)) / 3600.0 <= maxAgeHours
  }

  /** Volume anomaly as one declarative plan (reference monitoring.py:392-468):
    * daily counts, trailing-window mean (exact integer sum / count, divided
    * as doubles — deterministic), percent change, anomaly flag at
    * `threshold` (reference default 0.5 = 50%, base.py:60). */
  def volumeAnomalyDF(df: DataFrame, tsCol: String,
      threshold: Double = 0.5, lookbackDays: Int = 7): DataFrame = {
    // null timestamps would fold into a day=NULL pseudo-row that sorts
    // FIRST (ascending NULLS FIRST) and lands inside every early day's
    // trailing window, corrupting avg_prev/pct_change for real days —
    // null-ts health is completeness's job, not the volume baseline's
    // one partition of daily rows (a few hundred per year): the window's
    // clustering requirement is then met without a second exchange
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
    // one window over all days, under an explicit key: every daily row
    // has n >= 1, so `n > 0` is TRUE throughout. A literal key would be
    // optimized away, leaving WindowExec's "No Partition Defined" warning
    val w = Window.partitionBy(col("n") > 0).orderBy(col("day"))
      .rowsBetween(-lookbackDays, -1)
    daily
      .withColumn("prev_sum", sum(col("n")).over(w))
      .withColumn("prev_cnt", count(col("n")).over(w))
      .withColumn("avg_prev",
        when(col("prev_cnt") > 0,
          col("prev_sum").cast(DoubleType) / col("prev_cnt").cast(DoubleType)))
      .withColumn("pct_change",
        when(col("avg_prev").isNotNull && col("avg_prev") =!= 0.0,
          (col("n").cast(DoubleType) - col("avg_prev")) / col("avg_prev")))
      .withColumn("is_anomaly",
        coalesce(abs(col("pct_change")) > threshold, lit(false)))
      .select("day", "n", "avg_prev", "pct_change", "is_anomaly")
  }

  /** Driver-side verdict over the tail of [[volumeAnomalyDF]] — mirrors the
    * reference's collect-then-decide shape (exactly the newest day's row
    * is collected; the window math already folded the lookback in).
    *
    * Blind spot of the pure-window form: a TOTAL outage writes no rows, so
    * the newest day in the frame is the last day that HAD data and looks
    * normal (the repo's GapFill scaladoc names exactly this failure mode).
    * Pass `asOfMs` (wall clock of the check) to also flag a gap: data whose
    * newest day is before yesterday (UTC) means at least one full day of
    * zero volume. Left `None`, behavior is purely data-relative —
    * deterministic for backtests. An empty frame is [[isFresh]]'s job, not
    * an anomaly verdict (no baseline to compare against). */
  def checkVolumeAnomaly(df: DataFrame, tsCol: String,
      threshold: Double = 0.5, lookbackDays: Int = 7,
      asOfMs: Option[Long] = None): Boolean = {
    val rows = volumeAnomalyDF(df, tsCol, threshold, lookbackDays)
      .orderBy(col("day").desc).limit(1).collect()
    val latestAnomalous = rows.headOption.exists(_.getAs[Boolean]("is_anomaly"))
    val outage = asOfMs.exists { now =>
      rows.headOption
        // volumeAnomalyDF filters null timestamps, so an all-null ts
        // column yields an EMPTY frame (headOption None) — belt-and-
        // braces null guard kept for robustness against foreign frames
        .filter(r => !r.isNullAt(r.fieldIndex("day")))
        .exists { r =>
          val lastDay = r.getAs[java.sql.Date]("day").toLocalDate
          // compare in the SESSION timezone — volumeAnomalyDF's to_date
          // bucketed days there; a UTC "today" against session-tz days
          // falsely flags healthy daily batches for hours every evening
          // in any UTC-negative zone
          val zone = java.time.ZoneId.of(
            df.sparkSession.conf.get("spark.sql.session.timeZone"))
          val today = java.time.Instant.ofEpochMilli(now)
            .atZone(zone).toLocalDate
          java.time.temporal.ChronoUnit.DAYS.between(lastDay, today) > 1
        }
    }
    latestAnomalous || outage
  }

  /** Rolling distinct active entities (DAU/WAU-style): for each
    * OBSERVED day, the distinct `userCol` count that day (dau) and
    * over the trailing `windowDays` window (rolling_active), plus
    * stickiness = dau/rolling — the engagement ratio product teams
    * watch. Distinct-over-sliding-window can't ride an ordinary window
    * frame (COUNT DISTINCT isn't frame-mergeable); instead each
    * (day, user) pair EXPLODES to the `windowDays` target days it
    * counts toward, and the rolling count is a plain keyed
    * countDistinct — one shuffle, no range join, no per-day rescan.
    * The exploded frame is (distinct day-user pairs) × windowDays —
    * daily-grain input, so ~windowDays× a frame that is already tiny
    * relative to the raw events. Output: (day, dau, rolling_active,
    * stickiness), observed days only.
    *
    * Cardinality bound: "tiny" assumes a bounded entity domain (users,
    * accounts). With a near-event-cardinality `userCol` (device ids,
    * session ids at 100 TB) the exploded exact-distinct shape degrades —
    * hundreds of billions of exploded rows through one shuffle; there,
    * keep per-day HLL partials instead and merge windows at read time
    * ([[graft.ops.IncrementalAgg.hllState]] / `mergeHllStates`, the
    * bounded-bytes-per-key rollup this module's sketch sink already
    * uses) at the cost of ~2% error in `rolling_active`. */
  def rollingActiveUsers(df: DataFrame, tsCol: String, userCol: String,
      windowDays: Int = 7, roundTo: Int = 6): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val du = df.where(col(tsCol).isNotNull && col(userCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), col(userCol).as("__u"))
      .distinct()
      .persist()
    du.count()
    val days = du.select(col("day")).distinct()
    val dau = du.groupBy(col("day"))
      .agg(countDistinct(col("__u")).as("dau"))
    val rolling = du
      .select(explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1),
        expr("interval 1 day"))).as("day"), col("__u"))
      .join(days, Seq("day"), "left_semi") // only observed days report
      .groupBy(col("day"))
      .agg(countDistinct(col("__u")).as("rolling_active"))
    val out = dau.join(rolling, Seq("day"))
      .select(col("day"), col("dau"), col("rolling_active"),
        round(col("dau").cast(DoubleType) /
          col("rolling_active").cast(DoubleType), roundTo).as("stickiness"))
    val snap = graft.util.Caches.snapshot(out)
    du.unpersist(blocking = false)
    snap
  }

  /** [[rollingActiveUsers]] for UNBOUNDED entity domains (device ids,
    * session ids at 100 TB): one shuffle builds a per-day HLL sketch of
    * the entity set (map-side combined, bounded bytes per day), and the
    * rolling window is a UNION OF SKETCHES over the tiny day-grain frame
    * — the raw events are scanned once and never exploded, where the
    * exact form's (day, user) × windowDays explode degrades with entity
    * cardinality. ~2% relative error at the default lgConfigK = 12
    * (DataSketches HLL stays exact in sparse mode, so small domains
    * match the exact form bit-for-bit). Same output shape:
    * (day, dau, rolling_active, stickiness), observed days only.
    * dau and rolling_active are INDEPENDENT estimates, not monotone
    * under set inclusion — in dense mode a day's estimate can exceed
    * its own window union's — so stickiness clamps at 1.0 to preserve
    * the exact form's (0, 1] ratio contract for alert consumers. */
  def rollingActiveUsersApprox(df: DataFrame, tsCol: String,
      userCol: String, windowDays: Int = 7, roundTo: Int = 6,
      lgConfigK: Int = 12): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val perDay = df.where(col(tsCol).isNotNull && col(userCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(hll_sketch_agg(col(userCol), lit(lgConfigK)).as("hll"))
      .persist() // one sketch row per observed day
    perDay.count()
    val days = perDay.select(col("day"))
    val dau = perDay.select(col("day"),
      hll_sketch_estimate(col("hll")).as("dau"))
    val rolling = perDay
      .select(explode(sequence(col("day"),
        date_add(col("day"), windowDays - 1),
        expr("interval 1 day"))).as("day"), col("hll"))
      .join(days, Seq("day"), "left_semi") // only observed days report
      .groupBy(col("day"))
      .agg(hll_union_agg(col("hll"), lit(false)).as("hll"))
      .select(col("day"), hll_sketch_estimate(col("hll")).as("rolling_active"))
    val out = dau.join(rolling, Seq("day"))
      .select(col("day"), col("dau"), col("rolling_active"),
        least(lit(1.0), round(col("dau").cast(DoubleType) /
          col("rolling_active").cast(DoubleType), roundTo))
          .as("stickiness"))
    val snap = graft.util.Caches.snapshot(out)
    perDay.unpersist(blocking = false)
    snap
  }

  /** Seasonal-naive forecast backtest: forecast(day) = the actual count
    * on the SAME WEEKDAY LAST WEEK (a calendar join on day−7, not a
    * 7-row lag — row lags silently misalign across gap days), per-day
    * absolute percentage error, and the group's MAPE — the "would the
    * naive weekly model have predicted this" yardstick that any real
    * forecasting model must beat before it earns the alert pager.
    * First-week days have no forecast (null ape, excluded from MAPE).
    * Shapes: one daily-count shuffle, a self-join of the (tiny) daily
    * frame on (group, day−7), MAPE broadcast back.
    * Output: (groupCols*, day, n, forecast, ape, mape). */
  def seasonalNaiveBacktest(df: DataFrame, tsCol: String,
      groupCols: Seq[String] = Nil, roundTo: Int = 6): DataFrame = {
    val gcols = groupCols.map(col)
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(gcols :+ to_date(col(tsCol)).as("day"): _*)
      .agg(count(lit(1)).as("n"))
      .persist()
    daily.count()
    // rename-based self-join: unambiguous columns under any groupCols
    val left = daily
    val right = daily.select(
      (groupCols.map(c => col(c).as(s"__g_$c")) :+
        col("day").as("__fday") :+ col("n").as("forecast")): _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__g_$c"))
      .foldLeft(date_sub(col("day"), 7) === col("__fday"))(_ && _)
    val withF = left.join(right, cond, "left")
      .select(gcols ++ Seq(col("day"), col("n"), col("forecast")): _*)
      .withColumn("ape", round(
        abs(col("n").cast(DoubleType) - col("forecast").cast(DoubleType)) /
          col("n").cast(DoubleType), roundTo))
    val mape =
      (if (groupCols.isEmpty) withF.filter(col("forecast").isNotNull)
         .groupBy()
       else withF.filter(col("forecast").isNotNull)
         .groupBy(gcols: _*))
        .agg(round(avg(
          abs(col("n").cast(DoubleType) - col("forecast").cast(DoubleType)) /
            col("n").cast(DoubleType)), roundTo).as("mape"))
    // NULL-SAFE mape join-back (the forecast join above already uses <=>
    // on the group keys — this one must too, or a null-key group's rows
    // report mape = null despite a computed value); shared definition,
    // empty groupCols degrade to the one-row cross join
    val out = graft.util.Joins.nullSafeEqui(withF, mape, groupCols,
      how = "left")
    val snap = graft.util.Caches.snapshot(out)
    daily.unpersist(blocking = false)
    snap
  }

  /** Seasonal volume anomaly: [[volumeAnomalyDF]]'s trailing-mean
    * baseline flags every weekend dip on a weekday-heavy stream; this
    * variant compares each day against the mean of ITS OWN day-of-week
    * cohort, so only deviations from the weekly rhythm flag. Baseline
    * is the exact integer daily-count sum over the day's cohort divided
    * as doubles; `ratio` = n / cohort mean; anomalous when the ratio
    * leaves [1/threshold, threshold]. Days whose cohort is only
    * themselves (ratio exactly 1) never flag. Two small aggregates over
    * the daily-count frame (cohorts broadcast back); dow is ISO-free
    * 1=Sunday..7=Saturday (Spark `dayofweek`). */
  def seasonalAnomalyDF(df: DataFrame, tsCol: String,
      threshold: Double = 2.0, roundTo: Int = 6): DataFrame = {
    require(threshold > 1.0, "threshold must be > 1")
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .persist()
    daily.count()
    val cohort = daily
      .groupBy(dayofweek(col("day")).as("dow"))
      .agg(sum(col("n")).as("__cs"), count(lit(1)).as("__cc"))
    // one definition each for the baseline and the ratio (identical
    // plan; a future baseline change — trimmed mean, smoothing — must
    // not need four synchronized edits)
    val mean = col("__cs").cast(DoubleType) / col("__cc").cast(DoubleType)
    val ratio = col("n").cast(DoubleType) / mean
    val out = daily.withColumn("dow", dayofweek(col("day")))
      .join(broadcast(cohort), Seq("dow"))
      .select(col("day"), col("dow"), col("n"),
        round(mean, roundTo).as("dow_mean"),
        round(ratio, roundTo).as("ratio"),
        (ratio > threshold || ratio < 1.0 / threshold).as("is_anomaly"))
    val snap = graft.util.Caches.snapshot(out)
    daily.unpersist(blocking = false)
    snap
  }
}
