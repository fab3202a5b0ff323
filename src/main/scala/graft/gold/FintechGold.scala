package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.config.Thresholds
import graft.ops.Transforms

/** Fintech gold star schema over silver tables (the reference's DECLARED
  * gold layer, `src/config/base.py:83-97`: dim_date, dim_customer,
  * dim_merchant, fact_transactions, agg_daily_metrics, agg_customer_360,
  * agg_merchant_performance) plus the AML screens implied by the
  * regulatory thresholds (base.py:49-50).
  *
  * Scale notes: dimensions get surrogate keys via the scalable two-phase
  * ranker; the fact-dim joins are UNHINTED (AQE broadcasts the dim
  * projections when they fit — see [[factTransactions]]); aggregate sums
  * surface as DECIMAL(38,2) at the gold boundary (SURVEY §7.4 decimal
  * widening note — never narrowed back to the input scale).
  */
object FintechGold {

  /** Aggregate-output money type: sums come back at the gold boundary as
    * DECIMAL(38,2), never narrowed to (18,2) — a group total past 10^16
    * would make the narrowing cast a hard ANSI ArithmeticException (one
    * hot group kills the whole gold job) where the wide type is exact at
    * the same scale. IncrementalAgg.sumStateMulti documents the same
    * hazard. */
  private val moneyWide = DecimalType(38, 2)

  /** dim_customer: silver customers + surrogate key. */
  def dimCustomer(silverCustomers: DataFrame): DataFrame =
    Transforms.addSurrogateKeyScalable(silverCustomers, "customer_sk",
      Seq("customer_id"))

  /** dim_merchant: silver merchants + surrogate key. */
  def dimMerchant(silverMerchants: DataFrame): DataFrame =
    Transforms.addSurrogateKeyScalable(silverMerchants, "merchant_sk",
      Seq("merchant_id"))

  /** fact_transactions: silver txns with dim surrogate keys attached.
    * The dims are NOT force-broadcast: customer/merchant dimensions are
    * fact-correlated entity tables (10^8–10^9 rows against 100 TB of
    * transactions — the same reason they get the SCALABLE surrogate-key
    * builder), and an explicit hint would bypass AQE's size guard
    * straight into the 8 GB broadcast cap. AQE broadcasts the two-column
    * projection automatically whenever it actually fits; past that,
    * bucket fact and dims on the id columns
    * ([[graft.io.Writers.writeBucketed]]) for exchange-free joins. */
  def factTransactions(silverTxns: DataFrame, dimCust: DataFrame,
      dimMerch: DataFrame): DataFrame = silverTxns
    .join(dimCust.select(col("customer_id"), col("customer_sk")),
      Seq("customer_id"), "left")
    .join(dimMerch.select(col("merchant_id"), col("merchant_sk")),
      Seq("merchant_id"), "left")

  /** agg_daily_metrics (base.py:92): per day × status: volume, exact
    * amounts, fees, flagged counts. */
  def aggDailyMetrics(silverTxns: DataFrame): DataFrame = silverTxns
    .groupBy(col("transaction_date"), col("status"))
    .agg(
      count(lit(1)).as("n_transactions"),
      sum(col("amount_usd")).cast(moneyWide).as("total_amount_usd"),
      sum(col("fee_amount")).cast(moneyWide).as("total_fees"),
      sum(when(col("is_flagged"), 1L).otherwise(0L)).as("n_flagged"),
      countDistinct(col("customer_id")).as("n_customers"))

  /** agg_customer_360 (base.py:93): per-customer activity + fraud rate,
    * joined to customer dims. */
  def aggCustomer360(silverTxns: DataFrame, silverCustomers: DataFrame): DataFrame = {
    // avg and fraud_rate as exact-integer/decimal numerator ÷ count with an
    // explicit double division — identical operands give identical IEEE
    // results in any engine (oracle-parity rule, see queries.Q scaladoc)
    val per = silverTxns.groupBy(col("customer_id")).agg(
      count(lit(1)).as("n_transactions"),
      sum(col("amount_usd")).cast(moneyWide).as("total_spend_usd"),
      (sum(col("amount_usd")).cast(moneyWide).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avg_transaction_usd"),
      min(col("transaction_date")).as("first_transaction_date"),
      max(col("transaction_date")).as("last_transaction_date"),
      (sum(when(col("is_flagged"), 1L).otherwise(0L)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("fraud_rate"),
      countDistinct(col("merchant_id")).as("n_merchants"))
    silverCustomers
      .select(col("customer_id"), col("segment"), col("kyc_status"),
        col("risk_score"), col("country"))
      .join(per, Seq("customer_id"), "left")
  }

  /** agg_merchant_performance (base.py:94): volume, revenue = fees, average
    * ticket, flagged share. */
  def aggMerchantPerformance(silverTxns: DataFrame,
      silverMerchants: DataFrame): DataFrame = {
    val per = silverTxns.groupBy(col("merchant_id")).agg(
      count(lit(1)).as("n_transactions"),
      sum(col("amount_usd")).cast(moneyWide).as("total_volume_usd"),
      sum(col("fee_amount")).cast(moneyWide).as("revenue_usd"),
      (sum(col("amount_usd")).cast(moneyWide).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("avg_ticket_usd"),
      (sum(when(col("is_flagged"), 1L).otherwise(0L)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("flagged_share"))
    silverMerchants
      .select(col("merchant_id"), col("mcc_category"), col("risk_tier"),
        col("country"))
      .join(per, Seq("merchant_id"), "left")
  }

  // ---------- AML screens (base.py:49-50 thresholds) ----------

  /** CTR screen: transactions at/above the $10,000 reporting threshold. */
  def amlCtr(silverTxns: DataFrame): DataFrame = silverTxns
    .filter(col("amount_usd") >= Thresholds.amlCtrThreshold)
    .select(col("transaction_id"), col("customer_id"), col("amount_usd"),
      col("transaction_date"))

  /** Structuring screen: customers with ≥ `minCount` just-under-CTR
    * transactions ($9,000–$10,000) inside any `windowDays` window.
    * Implemented as a per-customer sliding count (range window over event
    * time) — one shuffle on customer_id. */
  def amlStructuring(silverTxns: DataFrame, windowDays: Int = 7,
      minCount: Int = 3): DataFrame = {
    // silver timestamps are try_to_timestamp — unparseable bronze rows are
    // NULL by design, and a RANGE window puts ALL null-order-key rows of a
    // customer into one shared frame: >= minCount dirty-timestamp rows in
    // the band (possibly years apart) would spuriously flag as
    // structuring. Null timestamps cannot evidence a 7-day pattern; they
    // belong to the DQ completeness screen, not this one.
    val sub = silverTxns.filter(
      col("amount_usd") >= Thresholds.amlStructuringThreshold &&
        col("amount_usd") < Thresholds.amlCtrThreshold &&
        col("transaction_timestamp").isNotNull)
    val w = Window.partitionBy(col("customer_id"))
      .orderBy(col("transaction_timestamp").cast(LongType))
      .rangeBetween(-windowDays.toLong * 86400, 0)
    sub
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window", sum(col("amount_usd")).over(w).cast(moneyWide))
      .filter(col("n_window") >= minCount)
      .select(col("customer_id"), col("transaction_id"),
        col("transaction_timestamp"), col("amount_usd"),
        col("n_window"), col("sum_window"))
  }
}
