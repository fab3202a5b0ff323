package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest, Prop}

import graft.dq.DataQualityChecker
import graft.io.Upsert
import graft.ops.Transforms

/** Property-based invariants (SURVEY §5 strategy item 2) via ScalaCheck
  * over randomized small frames. Each property runs a reduced number of
  * cases (Spark jobs are not cheap per case). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8).withWorkers(1)

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val rowGen: Gen[(String, Option[String], Double, Long)] = for {
    key <- Gen.oneOf("K1", "K2", "K3", "K4")
    fk <- Gen.option(Gen.oneOf("C1", "C2", ""))
    amt <- Gen.chooseNum(-100.0, 1000.0)
    ts <- Gen.chooseNum(0L, 1000L)
  } yield (key, fk, amt, ts)

  private val dfGen: Gen[List[(String, Option[String], Double, Long)]] =
    Gen.nonEmptyListOf(rowGen)

  private def toDF(rows: List[(String, Option[String], Double, Long)]): DataFrame =
    rows.toDF("k", "fk", "amount", "ts")
      .select(col("k"), col("fk"), col("amount"), col("ts"),
        monotonically_increasing_id().as("row_id"))

  test("dedup is idempotent and keeps exactly one row per key") {
    check("dedup", Prop.forAll(dfGen) { rows =>
      val df = toDF(rows)
      val once = Transforms.deduplicateByKey(df, Seq("k"), "ts",
        tieBreakers = Seq("row_id"))
      val twice = Transforms.deduplicateByKey(once, Seq("k"), "ts",
        tieBreakers = Seq("row_id"))
      val keys = df.select("k").distinct().count()
      once.count() == keys &&
        once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty
    })
  }

  test("valid/invalid split partitions the input") {
    check("split", Prop.forAll(dfGen) { rows =>
      val df = toDF(rows)
      val checker = DataQualityChecker(df, "t")
        .checkCompleteness(Seq("fk"), threshold = 1.0)
        .checkRange("amount", 0.0, 500.0)
      val (valid, invalid) = checker.validInvalidSplit()
      val v = valid.count()
      val i = invalid.count()
      v + i == df.count() &&
        valid.join(invalid.select("row_id"), Seq("row_id"), "left_semi").isEmpty
    })
  }

  test("split failed counts agree with the report") {
    check("split-report", Prop.forAll(dfGen) { rows =>
      val df = toDF(rows)
      def checker = DataQualityChecker(df, "t")
        .checkRange("amount", 0.0, 500.0, threshold = 1.0)
      val report = checker.run()
      val (_, invalid) = checker.validInvalidSplit()
      report.results.head.failedCount == invalid.count()
    })
  }

  test("standardization is idempotent") {
    val strGen = Gen.listOf(Gen.oneOf("  a B ", "x", " Y", "", "MiXeD c"))
    check("standardize", Prop.forAll(strGen) { strs =>
      strs.isEmpty || {
        val df = strs.toDF("s")
        val once = Transforms.standardizeStrings(df, Seq("s"), "upper")
        val twice = Transforms.standardizeStrings(once, Seq("s"), "upper")
        once.exceptAll(twice).isEmpty
      }
    })
  }

  test("merge identities: empty source is no-op; self-merge is identity") {
    // multiset compare via collect — exceptAll's RewriteExceptAll chokes on
    // shared-lineage plans (Spark internal), and semantics are what's
    // under test here
    def bag(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => (k, v.size) }
    check("merge", Prop.forAll(dfGen) { rows =>
      val df = toDF(rows).dropDuplicates("k")
        .select(col("k"), col("amount"), col("ts"))
      val expected = bag(df)
      bag(Upsert.merge(df, df.limit(0), Seq("k"))) == expected &&
        bag(Upsert.merge(df, df, Seq("k"))) == expected
    })
  }

  test("surrogate keys are dense 1..N regardless of input partitioning") {
    check("surrogate", Prop.forAll(dfGen, Gen.chooseNum(1, 5)) { (rows, parts) =>
      val df = toDF(rows).repartition(parts)
      val keys = Transforms.addSurrogateKeyScalable(df, "sk", Seq("row_id"))
        .select("sk").as[Long].collect().sorted.toSeq
      keys == (1L to rows.length.toLong)
    })
  }

  test("hashSplit partitions every id set under arbitrary weights") {
    val weightsGen = for {
      w1 <- Gen.chooseNum(1, 100)
      w2 <- Gen.chooseNum(0, 100)
      w3 <- Gen.chooseNum(0, 100)
      n <- Gen.chooseNum(1, 500)
    } yield (w1, w2, w3, n)
    check("hashSplit", Prop.forAll(weightsGen) { case (w1, w2, w3, n) =>
      val df = spark.range(n.toLong).toDF("id")
      val split = graft.ext.Sampling.hashSplit(df, "id",
        Seq("a" -> w1.toDouble, "b" -> w2.toDouble, "c" -> w3.toDouble))
      // total coverage (every row gets exactly one label), labels ⊆ declared
      val counts = split.groupBy("split").count()
        .as[(String, Long)].collect().toMap
      counts.values.sum == n.toLong &&
        counts.keySet.subsetOf(Set("a", "b", "c"))
    })
  }

  test("packing: both forms agree and pack boundaries respect the budget") {
    val packGen = for {
      budget <- Gen.chooseNum(10L, 500L)
      toks <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 100L))
    } yield (budget, toks.take(100))
    check("packing", Prop.forAll(packGen) { case (budget, toks) =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "n_tokens")
      val g = graft.ext.Packing.packByBudget(df, "id", "n_tokens", budget)
        .select("id", "pack_id").as[(Long, Long)].collect().toMap
      val s = graft.ext.Packing
        .packByBudgetScalable(df, "id", "n_tokens", budget)
        .select("id", "pack_id").as[(Long, Long)].collect().toMap
      // forms agree; pack of each doc == floor(preceding mass / budget)
      val prefix = toks.scanLeft(0L)(_ + _)
      g == s && toks.indices.forall(i => g(i.toLong) == prefix(i) / budget)
    })
  }

  test("packSpans tile each pack exactly: start 0, contiguous offsets, lens sum") {
    val packGen = for {
      budget <- Gen.chooseNum(10L, 500L)
      sep <- Gen.chooseNum(0, 3)
      toks <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 100L))
    } yield (budget, sep, toks.take(100))
    check("packSpans", Prop.forAll(packGen) { case (budget, sep, toks) =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "n_tokens")
      val packed = graft.ext.Packing
        .packByBudgetScalable(df, "id", "n_tokens", budget)
      val spans = graft.ext.Packing
        .packSpans(packed, "id", Seq(col("id")), "n_tokens",
          sepTokens = sep)
        .select("pack_id", "member_rank", "id", "start", "len")
        .as[(Long, Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (p, ms) => p -> ms.sortBy(_._2).toList }
      spans.forall { case (_, ms) =>
        // ranks are 1..n, the first span starts at 0, each next starts
        // where the previous ended plus the separator, and every doc's
        // span length is its token count
        ms.map(_._2) == (1L to ms.size.toLong).toList &&
          ms.head._4 == 0L &&
          ms.sliding(2).forall {
            case List(a, b) => b._4 == a._4 + a._5 + sep
            case _ => true
          } &&
          ms.forall { case (_, _, id, _, len) => len == toks(id.toInt) }
      }
    })
  }

  test("vec_dot SQL function matches the Column API") {
    GraftExtensions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT vec_dot(a, b) AS d FROM vecs")
      .as[Double].head()
    val viaCol = df.select(
      graft.functions.VectorFunctions.vec_dot(col("a"), col("b")).as("d"))
      .as[Double].head()
    assert(viaSql == 32.0 && viaCol == 32.0)
  }

  test("kll_* SQL functions: sketch, store, merge, query from pure SQL") {
    GraftExtensions.register(spark)
    spark.range(10000).select((col("id") % 100).as("g"),
        col("id").cast("double").as("v"))
      .createOrReplaceTempView("kll_rows")
    // per-group sketches (the storable partial), then a SQL-side merge +
    // quantile read — the whole rollup path without leaving SQL
    spark.sql("""SELECT g % 2 AS band, kll_sketch_agg(v) AS s
                 FROM kll_rows GROUP BY g % 2""")
      .createOrReplaceTempView("kll_states")
    val qs = spark.sql(
      """SELECT band, kll_quantiles(kll_merge_agg(s), 0.5D) AS q
        |FROM kll_states GROUP BY band""".stripMargin)
      .select(col("band"), element_at(col("q"), 1).as("p50"))
      .as[(Long, Double)].collect().toMap
    // both bands see ~uniform 0..9999 → p50 near 5000 (±2% rank error)
    assert(math.abs(qs(0L) - 5000.0) < 300 && math.abs(qs(1L) - 5000.0) < 300)
    // the NATURAL SQL spellings: a bare decimal literal (0.5 parses as
    // DECIMAL(1,1) → Catalyst Decimal, not java BigDecimal) and integer
    // rank endpoints 0 / 1 — all must be accepted as probabilities
    val nat = spark.sql(
      """SELECT kll_quantiles(kll_sketch_agg(v), 0, 0.5, 1) AS q
        |FROM kll_rows""".stripMargin)
      .select(element_at(col("q"), 1), element_at(col("q"), 2),
        element_at(col("q"), 3))
      .as[(Double, Double, Double)].head()
    assert(nat._1 == 0.0 && math.abs(nat._2 - 5000.0) < 300 &&
      nat._3 == 9999.0)
  }

  test("vec_l2sq matches the HOF fold bit-exactly, from Column and SQL") {
    GraftExtensions.register(spark)
    val df = spark.range(50).select(col("id"),
      transform(sequence(lit(0), lit(15)), j =>
        sin(col("id") * lit(3.0) + j)).as("a"),
      transform(sequence(lit(0), lit(15)), j =>
        cos(col("id") * lit(7.0) + j)).as("b"))
    val cmp = df.select(
      graft.functions.VectorFunctions.vec_l2sq(col("a"), col("b")).as("n"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(cmp == 0) // same left-to-right accumulation: bit-identical
    df.createOrReplaceTempView("l2vecs")
    val viaSql = spark.sql(
      "SELECT sum(vec_l2sq(a, b)) FROM l2vecs").head().getDouble(0)
    val viaCol = df.select(sum(
      graft.functions.VectorFunctions.vec_l2sq(col("a"), col("b"))))
      .head().getDouble(0)
    assert(viaSql == viaCol)
  }

  test("vec_adc_sum matches the zip_with lookup fold bit-exactly") {
    val df = spark.range(100).select(
      transform(sequence(lit(0), lit(7)), m =>
        pmod(col("id") * lit(7) + m, lit(16)).cast("int")).as("codes"),
      transform(sequence(lit(0), lit(7)), m =>
        transform(sequence(lit(0), lit(15)), kk =>
          sin(col("id") + m * lit(3.0) + kk))).as("tab"))
    val cmp = df.select(
      graft.functions.VectorFunctions.vec_adc_sum(col("codes"), col("tab"))
        .as("n"),
      aggregate(zip_with(col("codes"), col("tab"),
        (c, row) => element_at(row, c + 1)),
        lit(0.0), (acc, x) => acc + x).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(cmp == 0)
  }

  test("vec_cell_id equals the array_position(array_max(sims)) Column form") {
    // elements from a small integer range make exact ties (equal cosines,
    // 0.0 vs -0.0, duplicate centroids) common; nulls, NaN and ±Inf ride
    // along, and vectors may be shorter or longer than the centroids
    val elem: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.chooseNum(-2, 2).map(i => Some(i.toDouble)),
      6 -> Gen.chooseNum(-1.0, 1.0).map(Some(_)),
      1 -> Gen.const(None),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Some(_)))
    val caseGen = for {
      dim <- Gen.chooseNum(1, 8)
      k <- Gen.chooseNum(1, 32)
      base <- Gen.listOfN(k, Gen.listOfN(dim, Gen.frequency(
        9 -> Gen.chooseNum(-2, 2).map(_.toDouble),
        9 -> Gen.chooseNum(-1.0, 1.0),
        1 -> Gen.const(Double.NaN))))
      dupes <- Gen.listOfN(k, Gen.chooseNum(0, k - 1))
      vecs <- Gen.listOfN(24, Gen.frequency(
        1 -> Gen.const(None),
        1 -> Gen.const(Some(Seq.fill(dim)(Some(0.0)))),
        8 -> Gen.chooseNum(0, dim + 2).flatMap(n =>
          Gen.listOfN(n, elem).map(Some(_)))))
    } yield {
      // every third centroid copies an earlier one: exact duplicate ties
      val cents = base.indices.map(j =>
        if (j % 3 == 2) base(dupes(j) % j) else base(j))
      (cents.map(_.toSeq), vecs)
    }
    def mismatches(cents: Seq[Seq[Double]],
        vecs: Seq[Option[Seq[Option[Double]]]]): Long = {
      val m = graft.ext.Ivf.Model(cents)
      val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "vd")
        .withColumn("vf", col("vd").cast("array<float>"))
      Seq("vd", "vf").map { c =>
        df.select(
            graft.ext.Ivf.cellId(col(c), m).as("got"),
            IvfReference.cellId(col(c), m).as("want"))
          .filter(!col("got").eqNullSafe(col("want"))).count()
      }.sum
    }
    // both the generated and the interpreted path share one kernel; pin both
    def bothModes(cents: Seq[Seq[Double]],
        vecs: Seq[Option[Seq[Option[Double]]]]): Boolean =
      mismatches(cents, vecs) == 0 && {
        val keys = Seq("spark.sql.codegen.wholeStage",
          "spark.sql.codegen.factoryMode")
        val prev = keys.map(spark.conf.getOption)
        spark.conf.set(keys(0), "false")
        spark.conf.set(keys(1), "NO_CODEGEN")
        try mismatches(cents, vecs) == 0
        finally keys.zip(prev).foreach {
          case (key, Some(v)) => spark.conf.set(key, v)
          case (key, None) => spark.conf.unset(key)
        }
      }
    check("vec_cell_id parity", Prop.forAll(caseGen) { case (cents, vecs) =>
      bothModes(cents, vecs)
    })
    // the named edge cases, each on its own against fixed centroids
    val cents = Seq(Seq(0.0, 1.0), Seq(0.0, -1.0), Seq(0.6, 0.8),
      Seq(0.6, 0.8), Seq(1.0, 0.0))
    val edges: Seq[Option[Seq[Option[Double]]]] = List(
      None,                                        // null vector
      Some(List(None, Some(1.0))),                 // null element
      Some(List(None, None)),                      // all-null elements
      Some(List(Some(0.0), Some(0.0))),            // zero vector
      Some(Nil),                                   // empty vector
      Some(List(Some(Double.NaN), Some(1.0))),     // NaN element
      Some(List(Some(Double.PositiveInfinity), Some(1.0))),
      Some(List(Some(Double.NegativeInfinity), Some(0.0))),
      Some(List(Some(1.0))),                       // shorter than centroids
      Some(List(Some(0.0), Some(1.0), Some(5.0))), // longer than centroids
      Some(List(Some(1.0), Some(0.0))),            // 0.0 vs -0.0 tie
      Some(List(Some(3.0), Some(4.0))))            // duplicate-centroid tie
    assert(bothModes(cents, edges))
    // no centroids: no cell
    assert(spark.range(1).select(graft.ext.Ivf.cellId(array(lit(1.0)),
      graft.ext.Ivf.Model(Nil))).head().isNullAt(0))
  }

  test("sketch aggs reject non-BIGINT input at analysis time") {
    GraftExtensions.register(spark)
    Seq(1).toDF("i").createOrReplaceTempView("ints")
    // without checkInputDataTypes these passed analysis and died per-row
    // with ClassCastException mid-execution
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash_agg(i) FROM ints").collect()
    }
    assert(e1.getMessage.contains("BIGINT"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_agg(i, 8) FROM ints").collect()
    }
    assert(e2.getMessage.contains("BIGINT"))
  }

  test("minhash_array equals minhash_agg over the exploded elements") {
    // the r19 shuffle-removal rewrite (row-local signatures) is only
    // sound if the array form is BIT-IDENTICAL to the aggregate the
    // near-dup pipelines used before — pin it over randomized hash sets,
    // including short docs (densification path) and negative hashes
    val arrGen = Gen.nonEmptyListOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check("minhash array/agg parity", Prop.forAll(arrGen) { hs =>
      val df = Seq((1L, hs.distinct)).toDF("id", "shset")
      val viaArray = df.select(
        graft.functions.MinHashArray.minhash(col("shset"), 32).as("sig"))
        .head().getSeq[Long](0)
      val viaAgg = df.select(col("id"), explode(col("shset")).as("h"))
        .groupBy(col("id"))
        .agg(graft.functions.MinHashAgg.minhash(col("h"), 32).as("sig"))
        .head().getSeq[Long](1)
      viaArray == viaAgg
    })
    // empty set: no signature (NULL), never a valid-looking all -1 one
    val empty = Seq((1L, Seq.empty[Long])).toDF("id", "shset")
      .select(graft.functions.MinHashArray.minhash(col("shset"), 8).as("sig"))
    assert(empty.schema("sig").nullable)
    assert(empty.head().isNullAt(0))
  }

  test("simhash_array equals simhash_agg over the exploded elements") {
    // same pinning rationale as the minhash parity test above: the
    // row-local rewrite must be bit-identical to the aggregate,
    // including duplicate hashes (multiset counts) and exact bit ties
    val arrGen = Gen.nonEmptyListOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check("simhash array/agg parity", Prop.forAll(arrGen) { hs =>
      val df = Seq((1L, hs ++ hs.take(2))).toDF("id", "hs") // force dups
      val viaArray = df.select(
        graft.functions.SimHashArray.simhash(col("hs"))).head().getLong(0)
      val viaAgg = df.select(col("id"), explode(col("hs")).as("h"))
        .groupBy(col("id"))
        .agg(graft.functions.SimHashAgg.simhash(col("h")))
        .head().getLong(1)
      viaArray == viaAgg
    })
    // no tokens (empty or all-null): no signature (NULL), never 0L
    val empty = Seq((1L, Seq.empty[Option[Long]]), (2L, Seq(None, None)))
      .toDF("id", "hs")
      .select(graft.functions.SimHashArray.simhash(col("hs")).as("sig"))
    assert(empty.schema("sig").nullable)
    assert(empty.collect().forall(_.isNullAt(0)))
  }

  test("gram_repetition equals the string-shingle HOF formulation") {
    // the r19 native rewrite must reproduce 1 - distinct/total over the
    // SAME windowing as Shingles.wordShingles, including short docs
    // (single whole-text gram), repeated grams, and blank text
    val docGen = for {
      words <- Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd", "a"))
      reps <- Gen.chooseNum(1, 3)
    } yield (words ++ words.take(words.length / reps)).mkString(" ")
    check("gram repetition parity", Prop.forAll(docGen) { text =>
      val df = Seq(Tuple1(text)).toDF("t")
      val native = df.select(
        graft.ext.TextStats.repetitionRatio(col("t"), 3)).head().getDouble(0)
      val sh = graft.ext.Shingles.wordShingles(col("t"), 3)
      val hof = df.select(element_at(transform(array(sh), s =>
        when(size(s) > 0,
          lit(1.0) - size(array_distinct(s)).cast("double") /
            size(s).cast("double")).otherwise(lit(0.0))), 1))
        .head().getDouble(0)
      native == hof
    })
    // null text stays null (the q54 contract)
    val nullRow = Seq(Tuple1(null: String)).toDF("t")
      .select(graft.ext.TextStats.repetitionRatio(col("t"), 3)).head()
    assert(nullRow.isNullAt(0))
  }

  test("word_shingles equals the HOF slice/concat_ws formulation") {
    // the r19 native rewrite must emit BYTE-identical shingle strings:
    // same lowercasing (it reuses UTF8String.toLowerCase), same \S+
    // tokenization, same windowing (<= n tokens -> one whole-text gram,
    // zero tokens -> zero grams), duplicates kept in position order.
    // Exercise unicode, mixed whitespace and blank/short docs.
    val piece = Gen.oneOf("The", "ÄÖÜ", "İstanbul", "ß", "𝒜𝓑", "a-b",
      "x", "1 2", "", " ", "\t", "\n", "tok tok")
    val docGen = Gen.listOf(piece).map(_.mkString(" "))
    def hof(text: org.apache.spark.sql.Column, n: Int) = {
      val tokens = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
      element_at(transform(array(tokens), ts =>
        when(size(ts) === 0, array().cast("array<string>"))
          .when(size(ts) <= n, array(concat_ws(" ", ts)))
          .otherwise(transform(
            sequence(lit(0), size(ts) - n),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))))), 1)
    }
    check("word shingles parity", Prop.forAll(docGen) { text =>
      val df = Seq(Tuple1(text)).toDF("t")
      val native = df.select(graft.ext.Shingles.wordShingles(col("t"), 3))
        .head().getSeq[String](0)
      val viaHof = df.select(hof(col("t"), 3)).head().getSeq[String](0)
      native == viaHof
    })
    // null text stays null
    assert(Seq(Tuple1(null: String)).toDF("t")
      .select(graft.ext.Shingles.wordShingles(col("t"), 3)).head().isNullAt(0))
  }

  test("misra_gries candidates sort in UTF-8 binary order, not UTF-16") {
    GraftExtensions.register(spark)
    // U+FFFD sorts BEFORE U+1F600 in UTF-8 bytes but AFTER it in UTF-16
    // code units — the sketch's sorted output must match SQL orderings
    val df = Seq("�", "😀", "b").toDF("t")
    df.createOrReplaceTempView("mgtoks")
    val cands = spark.sql("SELECT misra_gries_agg(t, 8) AS c FROM mgtoks")
      .head().getSeq[String](0)
    assert(cands == Seq("b", "�", "😀"))
    val sparkSorted = df.agg(sort_array(collect_list(col("t"))))
      .head().getSeq[String](0)
    assert(cands == sparkSorted)
  }

  test("native gram/sketch functions are callable from SQL") {
    GraftExtensions.register(spark)
    Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("id", "text").createOrReplaceTempView("gdocs")
    // gram set parity with the Column helper
    // blank/whitespace docs yield ZERO grams — the empty fold is the
    // constant 0L, and a phantom gram would give every blank doc in a
    // corpus the same "content", pairing them all in gram-join dedup
    // and matching any blank benchmark doc in decontamination
    val blanks = Seq((1L, ""), (2L, "   \t"), (3L, "real text here"))
      .toDF("id", "text")
      .select(col("id"),
        graft.ext.Shingles.wordHashGrams(col("text"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(blanks(1L).isEmpty && blanks(2L).isEmpty)
    assert(blanks(3L).nonEmpty)
    val viaSql = spark.sql(
      "SELECT id, gram_mix_hashes(text, 2) AS g FROM gdocs ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaCol = Seq((1L, "a b c d")).toDF("id", "text")
      .select(col("id"),
        graft.ext.Shingles.wordHashGrams(col("text"), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql(1L) == viaCol(1L))
    assert(viaSql(1L) == viaSql(2L) && viaSql(1L) != viaSql(3L))
    // aggregates: identical docs get identical signatures via plain SQL
    val sigs = spark.sql(
      """SELECT id, simhash_agg(h) AS sh, minhash_agg(h, 8) AS mh
        |FROM (SELECT id, explode(gram_mix_hashes(text, 2)) AS h FROM gdocs)
        |GROUP BY id ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    assert(sigs(0)._2 == sigs(1)._2 && sigs(0)._3 == sigs(1)._3)
    assert(sigs(0)._2 != sigs(2)._2)
    // plan-time argument validation
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_agg(h, id) FROM " +
        "(SELECT id, xxhash64(text) AS h FROM gdocs) GROUP BY id").collect()
    }
    assert(err.getMessage.contains("literal") ||
      err.getMessage != null)
    // misra_gries_agg: with capacity >= distinct items the candidate set
    // is exactly the distinct tokens, sorted
    val cands = spark.sql(
      """SELECT misra_gries_agg(t, 16) AS c FROM
        |(SELECT explode(split(text, ' ')) AS t FROM gdocs)""".stripMargin)
      .head().getSeq[String](0)
    assert(cands == Seq("a", "b", "c", "d", "w", "x", "y", "z"))
  }

  test("winnow_hashes exact mode is bit-identical to the Column HOF form") {
    // real corpus text (multi-line, punctuation, varying lengths) — the
    // native tokenizer/md5/deque path must reproduce the interpreted
    // md5Hash64-over-wordShingles pipeline value for value
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val hof = graft.ext.TextStats.winnowingFingerprint(docs, "doc_id",
        "text", hash = graft.ext.TextStats.md5Hash64)
      .select(col("doc_id"), explode(col("fingerprint")).as("g"))
      .orderBy("doc_id", "g").collect().map(r => (r.getLong(0), r.getLong(1)))
    val native = graft.ext.TextStats.winnowingFingerprintNative(docs,
        "doc_id", "text")
      .select(col("doc_id"), explode(col("fingerprint")).as("g"))
      .orderBy("doc_id", "g").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hof.length == native.length && hof.sameElements(native))
    // edge shapes: empty text (ZERO grams — no phantom "" fingerprint),
    // exactly-n tokens, n..window gram counts, and non-ASCII content
    val edge = Seq((1L, ""), (2L, "one two three"), (3L, "a b c d e f"),
      (4L, "Ünïcode tökens σπλιτ ασ εχπεκτεδ here"),
      (5L, "  \t spaced \n out \r tokens  ")).toDF("doc_id", "text")
    val eh = graft.ext.TextStats.winnowingFingerprint(edge, "doc_id",
        "text", hash = graft.ext.TextStats.md5Hash64)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).sorted)
    val en = graft.ext.TextStats.winnowingFingerprintNative(edge,
        "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).sorted)
    assert(eh.toSeq == en.toSeq)
    // SQL surface: registered function matches the Column API
    edge.createOrReplaceTempView("wdocs")
    GraftExtensions.register(spark)
    val sql = spark.sql(
      "SELECT doc_id, winnow_hashes(text, 3, 4, true) AS f FROM wdocs")
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).sorted)
    assert(sql.toSeq == en.toSeq)
  }

  test("CDC mirror and maintained state track the source under arbitrary " +
    "commit sequences") {
    import graft.io.{ChangeConsumer => CC, VersionedTable => VT}
    // op encoding: (kind % 3, m in 2..5) — append fresh rows / merge
    // (update ids % m, insert fresh) / delete ids % m == 1
    val opGen = for {
      kind <- Gen.chooseNum(0, 2)
      m <- Gen.chooseNum(2, 5)
    } yield (kind, m)
    val opsGen = Gen.listOfN(3, opGen)
    check("cdcTracksSource", Prop.forAll(opsGen) { ops =>
      val root = java.nio.file.Files.createTempDirectory("graft-prop-cdc")
      try {
        val (src, dst, state) = (root.resolve("s").toString,
          root.resolve("d").toString, root.resolve("st").toString)
        val (ckm, cks) = (root.resolve("cm").toString,
          root.resolve("cs").toString)
        def rows(from: Int, n: Int) = (from until from + n)
          .map(i => (i, "g" + (i % 7), (i * 37 % 1000) / 100.0))
          .toDF("id", "grp", "amt")
        var nextId = 100
        VT.append(spark, rows(0, 100), src)
        def sync(): Boolean = {
          CC.mirror(spark, src, dst, Seq("id"), ckm)
          CC.maintainSumState(spark, src, state,
            Seq("id"), Seq("grp"), "amt", cks)
          val want = VT.snapshot(spark, src).orderBy("id")
            .as[(Int, String, Double)].collect().toSeq
          val got = VT.snapshot(spark, dst).orderBy("id")
            .as[(Int, String, Double)].collect().toSeq
          val wantState = graft.ops.IncrementalAgg.sumState(
              VT.snapshot(spark, src), Seq("grp"), "amt")
            .orderBy("grp").collect()
            .map(r => (r.getString(0), r.getLong(1),
              r.getDecimal(2).toPlainString)).toSeq
          val gotState = VT.snapshot(spark, state)
            .orderBy("grp").collect()
            .map(r => (r.getString(0), r.getLong(1),
              r.getDecimal(2).toPlainString)).toSeq
          want == got && wantState == gotState
        }
        var ok = sync() // bootstrap cycle
        ops.foreach { case (kind, m) =>
          kind match {
            case 0 =>
              VT.append(spark, rows(nextId, 10), src); nextId += 10
            case 1 =>
              val upd = VT.snapshot(spark, src)
                .filter(col("id") % m === 0)
                .withColumn("amt", col("amt") + 1.0)
                .unionByName(rows(nextId, 5)); nextId += 5
              VT.merge(spark, upd, src, Seq("id"))
            case 2 =>
              VT.deleteWhere(spark, src, col("id") % m === 1)
          }
          ok = ok && sync() // one consumer cycle per commit
        }
        ok
      } finally {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    })
  }

  test("winnow_hashes fast mode keeps set semantics across partitionings") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(100)
    val a = graft.ext.TextStats.winnowingFingerprintNative(docs, "doc_id",
        "text", exact = false)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSet)
    val b = graft.ext.TextStats.winnowingFingerprintNative(
        docs.repartition(13), "doc_id", "text", exact = false)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1).toSet)
    assert(a.toSeq == b.toSeq)
    // identical docs share identical fingerprint sets in fast mode too
    val dup = Seq((1L, "p q r s t u v w"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val f = graft.ext.TextStats.winnowingFingerprintNative(dup, "doc_id",
        "text", exact = false).collect().map(_.getSeq[Long](1).toSet)
    assert(f(0) == f(1) && f(0).nonEmpty)
  }
}
