package lakebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.config.EnvConfig
import graft.ext.{Ivf, TextPipeline}
import graft.generator.DataGenerator
import graft.gold.FintechGold
import graft.io.{VersionedTable, Writers}
import graft.monitoring.Monitoring
import graft.ops.{IncrementalAgg, SilverPipeline}

/** One batch run of the reference pipeline per iteration, over bronze that
  * `DataGenerator` writes in set-up plus the planted defect and duplicate
  * rows of the plan. Every iteration writes a fresh lake; the last one is
  * kept for the output checks. */
object Medallion extends Part {
  type State = String
  val name = "medallion"

  /** Bronze transactions with the plan's planted rows: each defect sets one
    * column of one generated row to a bad value, each large row gets a
    * valid amount over the CTR line, each duplicate repeats a clean row
    * verbatim. */
  def plantedTransactions(r: Run): DataFrame = {
    val base = DataGenerator.transactions(r.spark, r.long("transactions"),
      r.long("customers"), r.long("merchants"), days = r.int("days"),
      seed = r.seed)
    val edits = (r.node("defects").elements().asScala ++
      r.node("large").elements().asScala).toSeq
    val defects = edits.map(d =>
      (d.get("id").asText(), d.get("column").asText(),
        Option(d.get("value")).filterNot(_.isNull).map(_.asText())))
    val mutated = defects.groupBy(d => (d._2, d._3)).foldLeft(base) {
      case (df, ((column, value), rows)) =>
        val hit = col("transaction_id").isin(rows.map(_._1): _*)
        df.withColumn(column,
          when(hit, lit(value.orNull).cast("string")).otherwise(col(column)))
    }
    val dups = Json.strings(r.node("duplicates"))
    mutated.unionByName(mutated.filter(col("transaction_id").isin(dups: _*)))
  }

  /** Bronze customers, merchants and planted transactions under `dir`. */
  def prepare(r: Run, dir: String): String = {
    val spark = r.spark
    r.tracer.span("generate") {
      Writers.writeParquet(DataGenerator.customers(spark, r.long("customers"),
        seed = r.seed), s"$dir/customers")
      Writers.writeParquet(DataGenerator.merchants(spark, r.long("merchants"),
        seed = r.seed), s"$dir/merchants")
      Writers.writeParquet(plantedTransactions(r), s"$dir/transactions")
    }
    dir
  }

  def measure(r: Run, bronze: String): Unit = {
    val spark = r.spark
    val t = r.tracer
    r.out("bronze_transactions_bytes") = Fs.bytes(s"$bronze/transactions")
    r.out("medallion_input_bytes") = Fs.bytes(bronze)
    val asOf = lit("2024-06-01").cast("date")
    val rows = r.long("transactions") + r.node("duplicates").size()

    var i = 0
    var lastRoot: Option[String] = None
    while (r.timeLeft) {
      val root = s"${r.work}/lake_$i"
      val env = EnvConfig.prod(root)
      val silverTxns = s"${env.silverPath}/transactions"
      val res = r.timed("pipeline", rows) {
        val ing = t.span("ingest") {
          Pipeline.ingestTransactions(spark,
            spark.read.parquet(s"$bronze/transactions"), env)
        }
        t.span("silver_dims") {
          Writers.writeParquet(SilverPipeline.customersToSilver(
            spark.read.parquet(s"$bronze/customers"), asOf),
            s"${env.silverPath}/customers")
          Writers.writeParquet(SilverPipeline.merchantsToSilver(
            spark.read.parquet(s"$bronze/merchants"), asOf),
            s"${env.silverPath}/merchants")
        }
        val st = spark.read.parquet(silverTxns)
        val sc = spark.read.parquet(s"${env.silverPath}/customers")
        val sm = spark.read.parquet(s"${env.silverPath}/merchants")
        val gold = env.goldPath
        t.span("gold") {
          val dimC = FintechGold.dimCustomer(sc)
          val dimM = FintechGold.dimMerchant(sm)
          Writers.writeParquet(dimC, s"$gold/dim_customer")
          Writers.writeParquet(dimM, s"$gold/dim_merchant")
          Writers.writeParquet(FintechGold.factTransactions(st, dimC, dimM),
            s"$gold/fact_transactions")
          Writers.writeParquet(FintechGold.aggDailyMetrics(st),
            s"$gold/agg_daily_metrics")
          Writers.writeParquet(FintechGold.aggCustomer360(st, sc),
            s"$gold/agg_customer_360")
          Writers.writeParquet(FintechGold.aggMerchantPerformance(st, sm),
            s"$gold/agg_merchant_performance")
        }
        t.span("aml") {
          Writers.writeParquet(FintechGold.amlCtr(st), s"$gold/aml_ctr")
          Writers.writeParquet(FintechGold.amlStructuring(st),
            s"$gold/aml_structuring")
        }
        val fresh = t.span("monitoring") {
          val f = Monitoring.freshnessDF(st, "transaction_timestamp").collect()
          Monitoring.checkVolumeAnomaly(st, "transaction_timestamp")
          f
        }
        val silverBytes = Fs.bytes(silverTxns)
        val maintained = t.span("maintenance") {
          Pipeline.runMaintenance(spark, env, silverTxns, Seq("customer_id"))
        }
        (ing, fresh, silverBytes, maintained)
      } { case (ing, fresh, _, maintained) =>
        ing.validCount > 0 && ing.quarantinedCount > 0 &&
          fresh.headOption.exists(_.getAs[Long]("n_rows") > 0) && maintained
      }
      res.foreach { case (ing, _, silverBytes, _) =>
        val uniq = ing.report.results.find(_.checkType == "Uniqueness")
        r.out("uniqueness_failed") = uniq.map(_.failedCount).getOrElse(-1L)
        r.out("silver_transactions_bytes") = silverBytes
      }
      lastRoot.foreach(Fs.delete)
      lastRoot = Some(root)
      i += 1
    }
    r.out("lake") = lastRoot.orNull
    r.out("oracle_sql") = Seq("q40_fintech_daily", "q41_fintech_c360",
      "q42_aml_ctr", "q43_aml_structuring")
      .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
  }
}

/** A versioned silver table under a closed loop of change batches: each
  * batch merges its updates and inserts, deletes its deletes, reads the
  * change feed since the previous batch, folds it into a per-customer gold
  * state and does one point read. Compaction and vacuum close the run. */
object CdcMerge extends Part {
  type State = String
  val name = "cdc_merge"
  private val Key = "transaction_id"
  private val Measures = Seq("amount_usd", "fee_amount")

  /** The change pool (seed rows plus every row a batch may insert) and the
    * versioned table seeded with ids below n, range-clustered by key. */
  def prepare(r: Run, dir: String): String = {
    val spark = r.spark
    val n = r.long("transactions")
    r.tracer.span("cdc_generate") {
      Writers.writeParquet(SilverPipeline.transactionsToSilver(
        DataGenerator.transactions(spark, n + r.long("insert_pool"),
          r.long("customers"), r.long("merchants"), days = r.int("days"),
          seed = r.seed)),
        s"$dir/pool")
    }
    r.tracer.span("seed_table") {
      VersionedTable.append(spark,
        spark.read.parquet(s"$dir/pool").filter(col(Key) < f"TXN$n%09d")
          .repartitionByRange(r.int("seed_files"), col(Key))
          .sortWithinPartitions(col(Key)),
        s"$dir/table", statsFor = Seq(Key), optimizeWrite = false)
    }
    dir
  }

  def measure(r: Run, dir: String): Unit = {
    val spark = r.spark
    val t = r.tracer
    val table = s"$dir/table"
    val poolRows = spark.read.parquet(s"$dir/pool").persist()
    poolRows.count()
    r.out("pool") = s"$dir/pool"
    r.out("cdc_merge_input_bytes") = Fs.bytes(table)
    var state = IncrementalAgg.sumStateMulti(
      VersionedTable.snapshot(spark, table), Seq("customer_id"), Measures)
      .localCheckpoint()
    val schema = poolRows.schema

    val batches = r.node("batches").elements().asScala.toSeq
    var done = 0
    var changeRows = 0L
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
    val pointFiles = scala.collection.mutable.ArrayBuffer.empty[Int]
    var version = VersionedTable.latestVersion(table).get
    val it = batches.iterator
    while (r.timeLeft && it.hasNext) {
      val b = it.next()
      val upd = b.get("updates").elements().asScala.toSeq.map(u =>
        (u.get("id").asText(), u.get("amount").asText(),
          u.get("fee").asText(), u.get("status").asText()))
      val ins = Json.strings(b.get("inserts"))
      val del = Json.strings(b.get("deletes"))
      val rows = (upd.size + ins.size + del.size).toLong
      val res = r.timed("batch", rows) {
        val merged = t.span("merge") {
          val updDf = spark.createDataFrame(upd)
            .toDF(Key, "__amount", "__fee", "__status")
          val updates = poolRows.join(broadcast(updDf), Key)
            .withColumn("amount_usd",
              col("__amount").cast(schema("amount_usd").dataType))
            .withColumn("fee_amount",
              col("__fee").cast(schema("fee_amount").dataType))
            .withColumn("status", col("__status"))
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          val source = updates.unionByName(poolRows.filter(col(Key).isin(ins: _*)))
          VersionedTable.merge(spark, source, table, Seq(Key))
        }
        val deleted = t.span("delete") {
          VersionedTable.deleteWhere(spark, table, col(Key).isin(del: _*))
        }
        val cdf = t.span("cdf") {
          val f = VersionedTable.changeFeed(spark, table, version,
            deleted.version, Seq(Key), includePreimage = true).persist()
          (f, f.count())
        }
        t.span("incremental") {
          val next = IncrementalAgg.applyChangeFeedMulti(state, cdf._1,
            Seq("customer_id"), Measures).localCheckpoint()
          cdf._1.unpersist()
          state = next
        }
        val probe = upd.head
        val point = t.span("point_read") {
          val df = VersionedTable.snapshotWhere(spark, table, Key,
            Some(probe._1), Some(probe._1))
          (df.collect(), df.inputFiles.length)
        }
        (merged, deleted, cdf._2, point, probe)
      } { case (merged, deleted, nChange, point, _) =>
        merged.add.nonEmpty && deleted.remove.nonEmpty && nChange > 0 &&
          point._1.length == 1
      }
      res.foreach { case (merged, deleted, _, point, probe) =>
        val got = point._1.head.getAs[java.math.BigDecimal]("amount_usd")
        if (got.compareTo(new java.math.BigDecimal(probe._2)) != 0)
          r.mismatch(s"point read of ${probe._1}: amount $got, expected ${probe._2}")
        version = deleted.version
        changeRows += rows
        rewritten += merged.remove.size
        pointFiles += point._2
      }
      if (res.isEmpty) version = VersionedTable.latestVersion(table).get
      done += 1
    }
    r.out("merge_files_rewritten") = rewritten.toSeq
    r.out("point_files_read") = pointFiles.toSeq
    r.out("batches_done") = done
    r.out("change_rows") = changeRows
    r.out("live_files") = VersionedTable.snapshot(spark, table).inputFiles.length

    r.timed("compact", 0L, loop = false) {
      t.span("compact") {
        VersionedTable.compactSmallFiles(spark, table, minFiles = 2)
      }
    } { c => c.exists(_.remove.nonEmpty) }.flatten.foreach { c =>
      r.out("compact_bytes_rewritten") =
        c.add.map(f => Fs.bytes(s"$table/$f")).sum
    }
    r.timed("vacuum", 0L, loop = false) {
      t.span("vacuum") { VersionedTable.vacuum(table, retainMs = 0L) }
    } { _ > 0 }

    // untimed: the artifacts the output checks read
    val fin = VersionedTable.snapshot(spark, table)
    Writers.writeParquet(fin, s"${r.work}/final")
    Writers.writeParquet(state, s"${r.work}/state")
    Writers.writeParquet(IncrementalAgg.sumStateMulti(fin, Seq("customer_id"),
      Measures), s"${r.work}/recomputed")
  }
}

/** `TextPipeline.curate` over a seeded corpus with planted copies, near
  * copies and junk; each iteration writes the curated frame out. */
object CorpusCurate extends Part {
  type State = DataFrame
  val name = "corpus_curate"

  def prepare(r: Run, dir: String): DataFrame = {
    val d = r.spark.read.parquet(r.node("corpus").asText()).persist()
    d.count()
    d
  }

  def measure(r: Run, docs: DataFrame): Unit = {
    val t = r.tracer
    val n = docs.count()
    r.out("corpus_curate_input_bytes") = Fs.bytes(r.node("corpus").asText())
    var i = 0
    var last: Option[String] = None
    while (r.timeLeft) {
      val outDir = s"${r.work}/curated_$i"
      r.timed("curate", n) {
        val res = t.span("curate") {
          TextPipeline.curate(docs, "doc_id", "text", computeStats = false)
        }
        t.span("write") { Writers.writeParquet(res.curated, outDir) }
        graft.util.Caches.release(res.curated)
        Fs.bytes(outDir)
      } { _ > 0 }
      last.foreach(Fs.delete)
      last = Some(outDir)
      i += 1
    }
    r.out("curated") = last.orNull
  }
}

/** `Ivf.train` once, then a closed loop of `Ivf.topK` batches of held-out
  * queries; every batch's neighbour lists are kept for the recall check. */
object VectorSearch extends Part {
  type State = (DataFrame, DataFrame)
  val name = "vector_search"

  def prepare(r: Run, dir: String): (DataFrame, DataFrame) = {
    val c = r.spark.read.parquet(r.node("corpus").asText()).persist()
    val q = r.spark.read.parquet(r.node("queries").asText()).persist()
    c.count(); q.count()
    (c, q)
  }

  def measure(r: Run, inputs: (DataFrame, DataFrame)): Unit = {
    val (corpus, queries) = inputs
    val t = r.tracer
    r.out("vector_search_input_bytes") = Fs.bytes(r.node("corpus").asText()) +
      Fs.bytes(r.node("queries").asText())
    val nCorpus = corpus.count()
    val model = r.timed("train", nCorpus, loop = false) {
      t.span("ivf.train") {
        Ivf.train(corpus, "id", "vec", k = r.int("cells"), iters = r.int("iters"))
      }
    } { m => m.k == r.int("cells") }
    val qIds = queries.select("id").collect().map(_.getLong(0)).sorted
    val batch = r.int("query_batch")
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    var b = 0
    while (model.isDefined && r.timeLeft) {
      val lo = (b * batch) % qIds.length
      val ids = qIds.slice(lo, lo + batch)
      val rows = r.timed("topk", ids.length.toLong) {
        t.span("ivf.topk") {
          Ivf.topK(corpus, queries.filter(col("id").isin(ids: _*)), model.get,
            "id", "vec", k = 10, nprobe = r.int("nprobe")).collect()
        }
      } { _.nonEmpty }
      rows.foreach(_.foreach { x =>
        results += Seq(x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3))
      })
      b += 1
    }
    r.out("neighbours") = results.toSeq
  }
}
