package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.io.{Maintenance, Upsert, Writers}

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
    .toDF("id", "name", "amount")
  private def source = Seq((2, "B2", 99.0), (4, "d", 40.0))
    .toDF("id", "name", "amount")

  test("merge: matched rows take source values, unmatched kept/inserted") {
    val out = Upsert.merge(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(out(1).getAs[String]("name") == "B2")
    assert(out(1).getAs[Double]("amount") == 99.0)
    assert(out(0).getAs[String]("name") == "a")
    assert(out(3).getAs[Double]("amount") == 40.0)
  }

  test("merge with updateColumns limits which columns the source wins") {
    val out = Upsert.merge(target, source, Seq("id"),
      updateColumns = Some(Seq("amount"))).orderBy("id").collect()
    assert(out(1).getAs[String]("name") == "b")     // not updated
    assert(out(1).getAs[Double]("amount") == 99.0)  // updated
  }

  test("merge is null-safe: source NULL overwrites on match") {
    val s = Seq((2, null.asInstanceOf[String], 99.0)).toDF("id", "name", "amount")
    val out = Upsert.merge(target, s, Seq("id")).orderBy("id").collect()
    assert(out(1).getAs[String]("name") == null)
  }

  private def dataFiles(path: String): Long = {
    val l = Files.list(Paths.get(path))
    try l.filter(_.toString.endsWith(".parquet")).count() finally l.close()
  }

  test("clusterBy swaps in its rewrite; vacuum GCs the retired copy") {
    val dir = Files.createTempDirectory("cluster-swap").toString
    val path = s"$dir/t"
    target.write.parquet(path)
    Maintenance.clusterBy(spark, path, Seq("amount"), targetFiles = 1)
    val back = spark.read.parquet(path).orderBy("id").collect()
    assert(back.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(back(1).getAs[Double]("amount") == 20.0)
    // one retired dir from the swap; vacuum with retain=0 removes it
    assert(Maintenance.vacuum(path, retainMs = 0) == 1)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("clusterBy under a held writer lock fails and leaves the table untouched") {
    val dir = Files.createTempDirectory("cluster-held").toString
    val path = s"$dir/t"
    target.repartition(3).write.parquet(path)
    // a held lock (another writer mid-flight) makes the next rewrite fail
    // loudly instead of silently racing the directory swap
    val lock = Paths.get(s"$path.lock")
    Files.createFile(lock)
    intercept[Upsert.ConcurrentWriteException] {
      Maintenance.clusterBy(spark, path, Seq("id"), targetFiles = 1)
    }
    assert(dataFiles(path) == 3) // table untouched
    assert(spark.read.parquet(path).count() == 3)
    Files.delete(lock) // the holder completes
    Maintenance.clusterBy(spark, path, Seq("id"), targetFiles = 1)
    assert(dataFiles(path) == 1)
    assert(!Files.exists(lock)) // released on completion
    assert(spark.read.parquet(path).count() == 3)
  }

  test("clusterBy enforces the single-writer contract via lock file") {
    val dir = Files.createTempDirectory("cluster-lock").toString
    val path = s"$dir/t"
    target.repartition(3).write.parquet(path)
    val lock = Paths.get(s"$path.lock")
    Files.createFile(lock)
    intercept[Upsert.ConcurrentWriteException] {
      Maintenance.clusterBy(spark, path, Seq("id"), targetFiles = 1)
    }
    // a STALE lock (dead writer) is broken automatically and the rewrite
    // proceeds; the lock is released afterwards
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    Maintenance.clusterBy(spark, path, Seq("id"), targetFiles = 1)
    assert(dataFiles(path) == 1)
    assert(!Files.exists(lock))
    // normal completion leaves no lock either
    Maintenance.clusterBy(spark, path, Seq("id"), targetFiles = 1)
    assert(!Files.exists(lock))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("only io/Maintenance.scala holds a writer lock or a directory swap") {
    // upserts commit through the VersionedTable log; a second lock + swap
    // protocol must not grow back anywhere else in src/main
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val files: Seq[java.nio.file.Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val home = root.resolve("graft/io/Maintenance.scala")
    assert(files.contains(home))
    val banned = Seq("upsertParquet", "withWriterLock", "\".retired-\"",
      "\".lock\"")
    val offenders = for {
      f <- files if f != home
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("maintenance compact reduces file count, preserves rows") {
    val dir = Files.createTempDirectory("compact").toString
    val path = s"$dir/t"
    Tables.load(spark, sfDir, "lineitem").repartition(16)
      .write.parquet(path)
    val before = dataFiles(path)
    val n = spark.read.parquet(path).count()
    Maintenance.clusterBy(spark, path, Seq("l_orderkey"), targetFiles = 2)
    val after = dataFiles(path)
    assert(before > after && after <= 2)
    assert(spark.read.parquet(path).count() == n)
    Maintenance.vacuum(path, retainMs = 0)
  }

  test("clusterBy preserves partition layout and string partitions") {
    val dir = Files.createTempDirectory("compactp").toString
    val path = s"$dir/t"
    // "007" is the inference trap: a naive read+rewrite turns it into
    // int 7 and flattens the directory layout entirely
    Seq(("007", 1L), ("007", 2L), ("12", 3L)).toDF("acct", "v")
      .repartition(8).write.partitionBy("acct").parquet(path)
    Maintenance.clusterBy(spark, path, Seq("v"), targetFiles = 1)
    assert(Files.exists(Paths.get(s"$path/acct=007")))
    assert(Files.exists(Paths.get(s"$path/acct=12")))
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(inferKey)
    val got =
      try {
        spark.conf.set(inferKey, "false")
        spark.read.parquet(path).select("acct", "v")
          .as[(String, Long)].collect().toSet
      } finally spark.conf.set(inferKey, prev)
    assert(got == Set(("007", 1L), ("007", 2L), ("12", 3L)))
    // nested layouts are detected in order
    assert(Maintenance.partitionColumnsOf(path) == Seq("acct"))
    Maintenance.vacuum(path, retainMs = 0)
  }

  test("clusterBy preserves a two-level partition layout") {
    val dir = Files.createTempDirectory("clusterp").toString
    val path = s"$dir/t"
    Seq(("a", "01", 3L), ("a", "02", 1L), ("b", "01", 2L))
      .toDF("x", "mon", "v").write.partitionBy("x", "mon").parquet(path)
    assert(Maintenance.partitionColumnsOf(path) == Seq("x", "mon"))
    Maintenance.clusterBy(spark, path, Seq("v"), targetFiles = 1)
    assert(Files.exists(Paths.get(s"$path/x=a/mon=02")))
    assert(Files.exists(Paths.get(s"$path/x=b/mon=01")))
    assert(spark.read.parquet(path).count() == 3L)
    Maintenance.vacuum(path, retainMs = 0)
  }

  test("clusterBy rewrite preserves content and sorts within files") {
    val dir = Files.createTempDirectory("cluster").toString
    val path = s"$dir/t"
    Tables.load(spark, sfDir, "orders").write.parquet(path)
    val n = spark.read.parquet(path).count()
    Maintenance.clusterBy(spark, path, Seq("o_orderdate"), targetFiles = 4)
    assert(spark.read.parquet(path).count() == n)
    Maintenance.vacuum(path, retainMs = 0)
  }

  test("schema evolution: readMerged unions columns across file versions") {
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1, "a")).toDF("id", "v1").write.parquet(s"$dir/t/p1")
    Seq((2, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(s"$dir/t/p2")
    val merged = Writers.readMerged(spark, s"$dir/t/*")
    assert(merged.columns.toSet == Set("id", "v1", "v2"))
    assert(merged.count() == 2)
    assert(merged.filter(col("v2").isNull).count() == 1)
  }

  test("bucketed tables join without any exchange") {
    val o = Tables.load(spark, sfDir, "orders")
    val c = Tables.load(spark, sfDir, "customer")
    Writers.writeBucketed(o, "b_orders", 8, Seq("o_custkey"))
    Writers.writeBucketed(
      c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", 8,
      Seq("o_custkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), Seq("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      assert(joined.count() == o.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_customer")
    }
  }

  test("writers roundtrip with partitionBy and registerTable") {
    val dir = Files.createTempDirectory("writers").toString
    val path = s"$dir/orders"
    val o = Tables.load(spark, sfDir, "orders")
    Writers.writeParquet(o, path, partitionBy = Seq("o_orderstatus"))
    assert(spark.read.parquet(path).count() == o.count())
    Writers.registerTable(spark, path, "testdb", "orders_t", partitioned = true)
    assert(spark.table("testdb.orders_t").count() == o.count())
    spark.sql("DROP TABLE testdb.orders_t")
    spark.sql("DROP DATABASE testdb")
  }
}
