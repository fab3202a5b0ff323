package graft

import org.apache.spark.sql.functions._

import graft.ops.Transforms

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  private def txns = Seq(
    ("TXN001", 100.0, "2024-01-01 10:00:00"),
    ("TXN001", 150.0, "2024-01-02 10:00:00"),
    ("TXN002", 75.0, "2024-01-01 09:00:00"))
    .toDF("txn_id", "amount", "ts")

  test("deduplicateByKey keeps latest by default") {
    val out = Transforms.deduplicateByKey(txns, Seq("txn_id"), "ts")
      .orderBy("txn_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("amount") == 150.0)
  }

  test("deduplicateByKey keeps first when ascending") {
    val out = Transforms.deduplicateByKey(txns, Seq("txn_id"), "ts",
      ascending = true).orderBy("txn_id").collect()
    assert(out(0).getAs[Double]("amount") == 100.0)
  }

  test("deduplicateByKey is deterministic on order ties via tieBreakers") {
    val tied = Seq(("K", 1L, "a"), ("K", 2L, "a"), ("K", 3L, "a"))
      .toDF("k", "id", "ts")
    val out = Transforms.deduplicateByKey(tied, Seq("k"), "ts",
      ascending = false, tieBreakers = Seq("id")).collect()
    assert(out.head.getAs[Long]("id") == 3L)
  }

  test("addSurrogateKey assigns dense keys starting at 1") {
    val out = Transforms.addSurrogateKey(txns, "sk", Seq("txn_id", "ts"))
      .select("sk").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("scalable surrogate keys equal the global-window keys") {
    val c = Tables.load(spark, sfDir, "customer")
    val global = Transforms.addSurrogateKey(c, "sk", Seq("c_custkey"))
      .select("c_custkey", "sk").orderBy("sk").collect()
    val scalable = Transforms.addSurrogateKeyScalable(c, "sk", Seq("c_custkey"))
      .select("c_custkey", "sk").orderBy("sk").collect()
    assert(global.toSeq == scalable.toSeq)
  }

  test("partitionOffsets: exclusive prefix sums by pid; 2^33 rows fail") {
    assert(Transforms.partitionOffsets(Seq(2 -> 5L, 0 -> 3L, 1 -> 4L)) ==
      Seq(0 -> 0L, 1 -> 3L, 2 -> 7L))
    assert(Transforms.partitionOffsets(Nil).isEmpty)
    // one partition at the 33-bit record-counter range: its ordinals
    // would wrap and collide, so key assignment must refuse
    val e = intercept[IllegalStateException] {
      Transforms.partitionOffsets(Seq(0 -> 1L, 1 -> (1L << 33)))
    }
    assert(e.getMessage.contains(s"holds ${1L << 33} rows"))
    assert(e.getMessage.contains("2^33 per-partition ordinal range"))
    assert(Transforms.partitionOffsets(Seq(0 -> ((1L << 33) - 1), 1 -> 1L))
      .last == (1 -> ((1L << 33) - 1)))
  }

  test("standardizeStrings trims and upcases listed existing columns only") {
    val df = Seq(("  john  ", "x")).toDF("name", "other")
    val out = Transforms.standardizeStrings(df, Seq("name", "missing"), "upper")
      .collect().head
    assert(out.getAs[String]("name") == "JOHN")
    assert(out.getAs[String]("other") == "x")
  }

  test("standardizeStrings is idempotent") {
    val df = Seq(("  MiXeD  ", "y")).toDF("a", "b")
    val once = Transforms.standardizeStrings(df, Seq("a"), "lower")
    val twice = Transforms.standardizeStrings(once, Seq("a"), "lower")
    assert(once.collect().toSeq == twice.collect().toSeq)
  }

  test("ingestion/processing metadata columns are appended") {
    val out = Transforms.addProcessingMetadata(
      Transforms.addIngestionMetadata(txns))
    assert(out.columns.contains("_source_file"))
    assert(out.columns.contains("_ingestion_timestamp"))
    assert(out.columns.contains("_processing_timestamp"))
  }

  test("parseDelimitedArray splits pipes and maps empty to empty array") {
    val df = Seq("A|B", "", "C").toDF("v")
      .select(Transforms.parseDelimitedArray(col("v")).as("arr"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("A", "B"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq("C"))
  }
}
