package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** FooterStats ≡ scanStats parity: the footer-read bounds must be
  * byte-identical to the scan pass's CAST-rendered bounds for every
  * supported type, because filesInRange/GraftFileIndex compare reader-side
  * renderings against whatever the writer recorded. Unsupported shapes
  * must ROUTE to the scan fallback, never silently diverge. */
class FooterStatsSpec extends graft.SparkSpec {
  import spark.implicits._

  private def writeScratch(df: org.apache.spark.sql.DataFrame)
      : (String, Seq[String]) = {
    val dir = Files.createTempDirectory("footerstats")
    val sub = dir.resolve("t")
    df.write.parquet(sub.toString)
    val l = Files.list(sub)
    val names =
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally l.close()
    (sub.toString, names)
  }
  /** The INT64-micros write shape (GraftSession keeps the session at the
    * INT96 default for oracle-dtype reasons; the micros path must still
    * hold parity for writers that use it). */
  private def withMicros[T](body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally spark.conf.set(key, prev)
  }

  test("footer bounds are byte-identical to scan bounds on every supported type") {
    val df = Seq(
      (1L, 7, 1.0e7, 0.5f, "alpha", true, "2023-05-01", "2023-05-01 10:30:00"),
      (-5L, 0, 1.0e-10, -3.25f, "", false, "1999-12-31", "1970-01-01 00:00:00"),
      (42L, -9, -0.0, 8.5f, "Ωmega", true, "2024-02-29", "2031-06-15 23:59:59")
    ).toDF("l", "i", "d", "f", "s", "b", "dt0", "ts0")
      .withColumn("dt", col("dt0").cast("date"))
      .withColumn("ts", col("ts0").cast("timestamp"))
      .drop("dt0", "ts0")
      // a null per column keeps the null-count path honest
      .unionByName(Seq((Option.empty[Long], Option.empty[Int],
        Option.empty[Double], Option.empty[Float], Option.empty[String],
        Option.empty[Boolean]))
        .toDF("l", "i", "d", "f", "s", "b")
        .withColumn("dt", lit(null).cast("date"))
        .withColumn("ts", lit(null).cast("timestamp")))
      .coalesce(1)
    val (table, files) = withMicros { writeScratch(df) }
    val cols = Seq("l", "i", "d", "f", "s", "b", "dt", "ts")
    val (footer, fallback, badFiles) =
      FooterStats.tryCompute(table, files, cols).get
    // INT64-micros write: NOTHING may fall back — every requested column
    // must be footer-answerable
    assert(fallback.isEmpty, s"unexpected fallback columns: $fallback")
    assert(badFiles.isEmpty, s"unexpected fallback files: $badFiles")
    val scanned =
      VersionedTable.scanStats(spark, table, files, df.schema, cols)
    assert(files.nonEmpty)
    files.foreach { f =>
      val fm = footer(f)
      val sm = scanned(f)
      // identical keys (rows, per-column bounds, per-column null counts)
      assert(fm.keySet == sm.keySet, s"stat keys differ for $f:\n" +
        s"footer ${fm.keySet.toSeq.sorted}\nscan   ${sm.keySet.toSeq.sorted}")
      fm.foreach { case (k, v) =>
        assert(v == sm(k), s"stat '$k' differs: footer $v vs scan ${sm(k)}")
      }
    }
  }

  test("INT96 timestamps route to the scan fallback (legacy writer)") {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val df = Seq("2023-05-01 10:30:00").toDF("ts0")
        .select(col("ts0").cast("timestamp").as("ts"), lit(1L).as("l"))
        .coalesce(1)
      val (table, files) = writeScratch(df)
      val (footer, fallback, _) =
        FooterStats.tryCompute(table, files, Seq("ts", "l")).get
      assert(fallback == Seq("ts"))
      assert(footer(files.head).contains("l"))
      // composed path still yields the full scan's answer for ts
      val composed =
        VersionedTable.computeStats(spark, table, files, df.schema,
          Seq("ts", "l"))
      val scanned =
        VersionedTable.scanStats(spark, table, files, df.schema,
          Seq("ts", "l"))
      files.foreach { f =>
        scanned(f).foreach { case (k, v) =>
          assert(composed(f)(k) == v, s"composed stat '$k' differs")
        }
      }
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("NaN pages omit float/double bounds instead of guessing (conservative keep)") {
    val df = Seq(1.5, Double.NaN, -2.0).toDF("d").coalesce(1)
    val (table, files) = writeScratch(df)
    val (footer, _, _) = FooterStats.tryCompute(table, files, Seq("d")).get
    val fm = footer(files.head)
    assert(!fm.contains("d"),
      s"NaN-bearing column must carry NO footer bounds, got ${fm.get("d")}")
    assert(fm.contains(VersionedTable.RowsKey))
  }

  /** Footer ≡ scan for every column, and nothing routed away. */
  private def assertDecimalParity(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Unit = {
    val (table, files) = writeScratch(df)
    val (footer, fallback, badFiles) =
      FooterStats.tryCompute(table, files, cols).get
    assert(fallback.isEmpty, s"unexpected fallback columns: $fallback")
    assert(badFiles.isEmpty, s"unexpected fallback files: $badFiles")
    val scanned =
      VersionedTable.scanStats(spark, table, files, df.schema, cols)
    files.foreach { f =>
      assert(footer(f).keySet == scanned(f).keySet,
        s"stat keys differ for $f:\nfooter ${footer(f).keySet.toSeq.sorted}" +
          s"\nscan   ${scanned(f).keySet.toSeq.sorted}")
      footer(f).foreach { case (k, v) =>
        assert(v == scanned(f)(k),
          s"stat '$k' differs: footer $v vs scan ${scanned(f)(k)}")
      }
    }
  }

  test("decimal bounds are byte-identical to scan bounds across all three physical widths") {
    // precision 9 → INT32, 18 → INT64, 38 → FIXED_LEN_BYTE_ARRAY; signs,
    // trailing-zero scale fill, and a null row all on the hashed path.
    // DECIMAL is THE fintech money type — re-scanning it defeated the
    // footer win on exactly this domain's hottest tables (VERDICT r14 #2).
    val df = Seq("12.34", "-99999.99", "0.01", "5")
      .toDF("x")
      .select(
        col("x").cast("decimal(9,2)").as("dec9"),
        col("x").cast("decimal(18,2)").as("dec18"),
        col("x").cast("decimal(38,10)").as("dec38"),
        lit(1L).as("l"))
      .unionByName(Seq("1").toDF("x").select(
        lit(null).cast("decimal(9,2)").as("dec9"),
        lit(null).cast("decimal(18,2)").as("dec18"),
        lit(null).cast("decimal(38,10)").as("dec38"),
        lit(2L).as("l")))
      .coalesce(1)
    assertDecimalParity(df, Seq("dec9", "dec18", "dec38", "l"))
  }

  test("decimal parity holds on tiny values where java toString would go scientific") {
    // CAST(decimal AS STRING) in Spark 4 renders PLAIN notation at the
    // declared scale ("-0.00000003"), where java BigDecimal.toString
    // would print "-3E-8". The footer renderer must agree byte-for-byte
    // or reader-side comparisons go lexical-garbage.
    val df = Seq("0.00000001", "-0.00000003", "0.5")
      .toDF("x")
      .select(col("x").cast("decimal(10,8)").as("tiny"))
      .coalesce(1)
    assertDecimalParity(df, Seq("tiny"))
  }

  test("decimal parity holds under the legacy writer format (FLBA at every precision)") {
    val key = "spark.sql.parquet.writeLegacyFormat"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val df = Seq("12.34", "-0.07", "99999.99").toDF("x")
        .select(col("x").cast("decimal(12,2)").as("dec"))
        .coalesce(1)
      assertDecimalParity(df, Seq("dec"))
    } finally spark.conf.set(key, prev)
  }

  test("TIMESTAMP_MILLIS routes to the scan fallback (unit-mismatch guard)") {
    // An INT64 chunk annotated MILLIS holds raw millis; recording them as
    // micros would prune files 1000× off. The routing must demand the
    // TIMESTAMP(MICROS, adjustedToUTC) annotation, not just INT64.
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MILLIS")
    try {
      val df = Seq("2023-05-01 10:30:00").toDF("ts0")
        .select(col("ts0").cast("timestamp").as("ts"), lit(1L).as("l"))
        .coalesce(1)
      val (table, files) = writeScratch(df)
      val (footer, fallback, _) =
        FooterStats.tryCompute(table, files, Seq("ts", "l")).get
      assert(fallback == Seq("ts"),
        s"MILLIS timestamps must route to the scan pass, got: $fallback")
      assert(footer(files.head).contains("l"))
      // composed path still yields the full scan's answer for ts
      val composed =
        VersionedTable.computeStats(spark, table, files, df.schema,
          Seq("ts", "l"))
      val scanned =
        VersionedTable.scanStats(spark, table, files, df.schema,
          Seq("ts", "l"))
      files.foreach { f =>
        scanned(f).foreach { case (k, v) =>
          assert(composed(f)(k) == v, s"composed stat '$k' differs")
        }
      }
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("one unreadable footer degrades alone; the rest of the commit keeps footer stats") {
    val df = spark.range(90).select(col("id").as("l"))
      .repartitionByRange(3, col("l"))
    val (table, files) = writeScratch(df)
    assert(files.size == 3)
    // corrupt ONE file's trailing magic — its footer becomes unreadable
    val victim = files(1)
    val p = java.nio.file.Paths.get(table, victim)
    val bytes = Files.readAllBytes(p)
    java.util.Arrays.fill(bytes, bytes.length - 4, bytes.length, 'X'.toByte)
    Files.write(p, bytes)
    val (footer, fallback, badFiles) =
      FooterStats.tryCompute(table, files, Seq("l")).get
    // pre-r15 this was a wholesale None → the WHOLE commit re-scanned
    assert(badFiles == Seq(victim))
    assert(fallback.isEmpty)
    val goodFiles = files.filterNot(_ == victim)
    val scanned = VersionedTable.scanStats(spark, table, goodFiles,
      df.schema, Seq("l"))
    goodFiles.foreach(f => assert(footer(f) == scanned(f)))
    assert(!footer.contains(victim))
  }

  test("a foreign-writer file (no Spark schema metadata) degrades alone, end to end") {
    // parquet-mr's example writer: a perfectly valid file this engine did
    // not write — readable by Spark's scan, but carrying no
    // org.apache.spark.sql.parquet.row.metadata for the parity proof.
    val dir = Files.createTempDirectory("footerstats-foreign")
    val sub = dir.resolve("t")
    val own = spark.range(10).select(col("id").as("l"))
    own.coalesce(1).write.parquet(sub.toString)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { optional int64 l; }")
    val hconf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, hconf)
    val foreignPath = sub.resolve("zz-foreign.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(foreignPath.toUri))
      .withConf(hconf)
      .build()
    try Seq(100L, 250L).foreach { v =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("l", v)
      w.write(g)
    } finally w.close()
    val l = Files.list(sub)
    val files =
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally l.close()
    assert(files.size == 2)
    val (footer, fallback, badFiles) =
      FooterStats.tryCompute(sub.toString, files, Seq("l")).get
    assert(badFiles == Seq("zz-foreign.parquet"))
    assert(fallback.isEmpty)
    // end-to-end composed stats equal the pure scan for EVERY file —
    // the foreign file's answers come from its own narrow scan pass
    val composed =
      VersionedTable.computeStats(spark, sub.toString, files, own.schema,
        Seq("l"))
    val scanned =
      VersionedTable.scanStats(spark, sub.toString, files, own.schema,
        Seq("l"))
    files.foreach { f =>
      scanned(f).foreach { case (k, v) =>
        assert(composed(f)(k) == v, s"composed stat '$k' differs for $f")
      }
    }
    assert(footer(files.head).contains("l"))
  }

  test("a stats-tracked commit on a decimal-bearing table runs ZERO extra Spark jobs") {
    // The Done-criterion for the r14 DECIMAL item: a commit indexing the
    // money column must pay its write job(s) and NOTHING else — bounds
    // come from footers (O(files) driver metadata), not a re-scan of the
    // just-written bytes. Counted against an identical stats-less append.
    val dir = Files.createTempDirectory("footerstats-jobs")
    val df = spark.range(1000).select(col("id"),
      (col("id").cast("decimal(18,2)") / 100).as("amount"))
      .coalesce(2)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VersionedTable.append(spark, df, dir.resolve("plain").toString,
        optimizeWrite = false)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      val baseline = jobs.get()
      jobs.set(0)
      VersionedTable.append(spark, df, dir.resolve("stats").toString,
        statsFor = Seq("id", "amount"), optimizeWrite = false)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      assert(jobs.get() == baseline,
        s"stats-tracked decimal append ran ${jobs.get()} jobs vs " +
          s"$baseline baseline — the stats pass launched Spark work")
      // and the bounds it recorded are the real scan-parity bounds
      val t = dir.resolve("stats").toString
      val l = Files.list(java.nio.file.Paths.get(t))
      val files =
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
        finally l.close()
      val scanned = VersionedTable.scanStats(spark, t, files, df.schema,
        Seq("id", "amount"))
      val (footer, fb, bf) =
        FooterStats.tryCompute(t, files, Seq("id", "amount")).get
      assert(fb.isEmpty && bf.isEmpty)
      files.foreach(f => assert(footer(f) == scanned(f)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PROPERTY: footer decimal bounds equal scan bounds for random values at random scales") {
    // the DECIMAL footer path, property-checked: whatever precision/
    // scale the writer declares and whatever physical width that selects
    // (INT32 ≤ 9 digits, INT64 ≤ 18, FLBA above), the footer-rendered
    // bounds must be byte-identical to CAST(dec AS STRING) from the scan
    // pass. Random signed unscaled values sized to the precision.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val caseGen: Gen[(Int, Int, List[BigInt])] = for {
      precision <- Gen.oneOf(5, 9, 10, 18, 20, 38)
      scale <- Gen.choose(0, math.min(precision, 10))
      n <- Gen.choose(1, 6)
      values <- Gen.listOfN(n, for {
        digits <- Gen.choose(1, precision)
        // EXCLUSIVE power bound: 10^digits has digits+1 digits and would
        // overflow decimal(p,s) when digits == precision (a NULL column
        // the case never meant to test)
        v <- Gen.choose(0L,
          math.pow(10, math.min(digits, 17)).toLong - 1)
        neg <- Gen.oneOf(true, false)
      } yield if (neg) -BigInt(v) else BigInt(v))
    } yield (precision, scale, values)
    val prop = Prop.forAll(caseGen) {
      case (precision, scale, unscaled) =>
        val dir = Files.createTempDirectory("prop-fstats")
        try {
          val t = dir.resolve("t").toString
          val frame = unscaled.map(u =>
              new java.math.BigDecimal(new java.math.BigInteger(u.toString),
                scale).toPlainString)
            .toDF("x")
            .select(col("x").cast(s"decimal($precision,$scale)").as("dec"))
          frame.coalesce(1).write.parquet(t)
          val l = Files.list(java.nio.file.Paths.get(t))
          val files =
            try l.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toList.sorted
            finally l.close()
          val (footer, fb, bad) =
            FooterStats.tryCompute(t, files, Seq("dec")).get
          val scanned = VersionedTable.scanStats(spark, t, files,
            frame.schema, Seq("dec"))
          fb.isEmpty && bad.isEmpty &&
            files.forall(f => footer(f) == scanned(f))
        } finally {
          val walk = Files.walk(dir)
          try walk.sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1),
      prop)
    assert(res.passed, s"footerDecimalParity: ${res.status}")
  }

  test("multi-file commit: per-file bounds stay per-file") {
    val df = spark.range(100).select(col("id").as("l"))
      .repartitionByRange(4, col("l"))
    val (table, files) = writeScratch(df)
    assert(files.size == 4)
    val (footer, _, _) = FooterStats.tryCompute(table, files, Seq("l")).get
    val scanned = VersionedTable.scanStats(spark, table, files, df.schema,
      Seq("l"))
    files.foreach(f => assert(footer(f) == scanned(f)))
    // bounds genuinely differ across files (range-clustered)
    assert(footer.values.map(_("l")).toSet.size == 4)
  }
}
