package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MLSchema, MLType}
import graft.processor._
import graft.processor.ScalableEncoders._

/** Specs for the unbounded-cardinality encoders (round-12 verdict items 3+4)
  * and the driver-collect ceilings (item 6).
  */
class ScalableEncodersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private def enc(df: DataFrame, params: Map[String, Any],
      in: String = "v", out: String = "code"): DataFrame = {
    val p = new DenseRankLabelEncoding(params)
    p.fit(df, in)
    p.transformFrame(df, in, out)
  }

  test("DenseRankLabelEncoding matches LabelEncoding on every range mode") {
    val labels = Seq("cherry", "apple", "banana", "apple", "cherry")
    val df = labels.toDF("v")
    for (range <- Seq("one_to_n", "zero_to_n_minus_one")) {
      val le = new Processors.LabelEncoding(Map("encoding_range" -> range))
      le.fit(df, "v")
      val want = df.withColumn("code", le.transform($"v"))
        .orderBy("v").select("v", "code").collect().toSeq
      val got = enc(df, Map("encoding_range" -> range))
        .orderBy("v").select("v", "code").collect().toSeq
      assert(got == want, range)
    }
    val bin = Seq("no", "yes", "no").toDF("v")
    for (range <- Seq("binary_zero_one", "binary_plus_minus_one")) {
      val le = new Processors.LabelEncoding(Map("encoding_range" -> range))
      le.fit(bin, "v")
      val want = bin.withColumn("code", le.transform($"v"))
        .orderBy("v").select("v", "code").collect().toSeq
      val got = enc(bin, Map("encoding_range" -> range))
        .orderBy("v").select("v", "code").collect().toSeq
      assert(got == want, range)
    }
  }

  test("DenseRankLabelEncoding binary modes refuse >2 labels; empty input refuses") {
    val df = Seq("a", "b", "c").toDF("v")
    intercept[IllegalArgumentException] {
      new DenseRankLabelEncoding(Map("encoding_range" -> "binary_zero_one")).fit(df, "v")
    }
    intercept[IllegalArgumentException] {
      new DenseRankLabelEncoding(Map.empty).fit(Seq.empty[String].toDF("v"), "v")
    }
  }

  test("DenseRankLabelEncoding: numeric sort order, nulls, unknown labels, missing fill") {
    // numeric input sorts numerically (2 < 10), like np.unique — not "10" < "2"
    val num = Seq(10, 2, 10).toDF("v")
    val codes = enc(num, Map("encoding_range" -> "one_to_n"))
      .select("v", "code").distinct().orderBy("v").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    assert(codes == Seq(2 -> 1L, 10 -> 2L))

    // null stays null without a fill; fill value becomes an ordinary label
    val withNull = Seq(Some("b"), None, Some("a")).toDF("v")
    val out = enc(withNull, Map("encoding_range" -> "one_to_n"))
    assert(out.filter($"v".isNull).select("code").head().isNullAt(0))
    val filled = enc(withNull,
      Map("encoding_range" -> "one_to_n", "missing_input_fill_value" -> "zz"))
    assert(filled.filter($"v".isNull).select("code").head().getLong(0) == 3L)

    // unknown-at-transform label takes the range's unknown value (0 for one_to_n)
    val p = new DenseRankLabelEncoding(Map("encoding_range" -> "one_to_n"))
    p.fit(Seq("a", "b").toDF("v"), "v")
    val applied = p.transformFrame(Seq("a", "ghost").toDF("v"), "v", "code")
    assert(applied.orderBy("v").select("code").collect().map(_.getLong(0)).toSeq == Seq(1L, 0L))
  }

  test("DenseRankLabelEncoding scales: high-cardinality key, exact dense codes, no collect") {
    // 5k distinct keys across 4 partitions — codes must be exactly 1..5000
    // in sorted key order (the parallel range sort + offset stitch is exact)
    val n = 5000
    val df = spark.range(n).select(concat(lit("k"), format_string("%05d", $"id")).as("v"))
      .repartition(4)
    val out = enc(df, Map("encoding_range" -> "zero_to_n_minus_one"))
    val rows = out.orderBy("v").select("code").collect().map(_.getLong(0)).toSeq
    assert(rows == (0L until n.toLong))
  }

  test("DenseRankLabelEncoding inverse transform round-trips") {
    val df = Seq("x", "y", "z").toDF("v")
    val p = new DenseRankLabelEncoding(Map("encoding_range" -> "one_to_n"))
    p.fit(df, "v")
    val coded = p.transformFrame(df, "v", "code")
    val back = p.inverseTransformFrame(coded, "code", "v2")
    assert(back.filter($"v" =!= $"v2").count() == 0)
  }

  test("DenseRankLabelEncoding state: refuses JSON serialization without state_path, round-trips with it") {
    val df = Seq("a", "b").toDF("v")
    val bare = new DenseRankLabelEncoding(Map.empty)
    bare.fit(df, "v")
    intercept[IllegalStateException] { bare.state }

    val dir = java.nio.file.Files.createTempDirectory("dre_state").toString + "/codes"
    val p = new DenseRankLabelEncoding(Map("state_path" -> dir))
    p.fit(df, "v")
    val st = p.state
    val p2 = new DenseRankLabelEncoding(Map("state_path" -> dir))
    p2.restore(st)
    val out = p2.transformFrame(df, "v", "code")
    assert(out.orderBy("v").select("code").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("DenseRankLabelEncoding runs from PipelineConfig") {
    val yaml =
      """pipeline:
        |  - input: [v]
        |    transformer: DenseRankLabelEncoding
        |    params: {encoding_range: one_to_n}
        |    output: "{col_name}_code"
        |""".stripMargin
    val df = Seq("b", "a", "b").toDF("v")
    val pipe = new DataPipeline(PipelineConfig.fromYaml(yaml))
    val out = pipe.fitTransform(df, MLSchema(Map("v" -> MLType.Categorical)))
    assert(out.orderBy("v").select("v_code").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 2L))
    assert(pipe.outputSchema.get.fields("v_code") == MLType.Int)
  }

  test("HashedTextVectorization: stateless, fixed dim, l2 norm, empty doc safe") {
    val df = Seq("alpha beta alpha", "").toDF("t")
    val p = new HashedTextVectorization(Map("dim" -> 8, "norm" -> "none"))
    val out = df.withColumn("f", p.transform($"t")).select("f").collect()
    val v0 = out(0).getSeq[Double](0)
    assert(v0.length == 8 && v0.sum == 3.0) // 3 tokens total
    assert(out(1).getSeq[Double](0).sum == 0.0)

    val l2 = new HashedTextVectorization(Map("dim" -> 8))
    val nrm = df.withColumn("f", l2.transform($"t")).select("f").collect()
    val n0 = math.sqrt(nrm(0).getSeq[Double](0).map(x => x * x).sum)
    assert(math.abs(n0 - 1.0) < 1e-12)
    // empty doc stays all-zero under l2 (no 0/0 NaN)
    assert(nrm(1).getSeq[Double](0).forall(_ == 0.0))
  }

  test("HashedTextVectorization l2: native kernel is bit-identical to the HOF spelling") {
    // the spelling the kernel replaced, kept as the reference
    def reference(counts: org.apache.spark.sql.Column) = {
      val l2 = sqrt(aggregate(counts, lit(0.0), (acc, v) => acc + v * v))
      when(l2 === 0.0, counts).otherwise(transform(counts, v => v / l2))
    }
    def bits(r: org.apache.spark.sql.Row): Option[Seq[Option[Long]]] =
      if (r.isNullAt(1)) None
      else Some(r.getSeq[java.lang.Double](1).map(d =>
        Option(d).map(java.lang.Double.doubleToRawLongBits(_))))
    def rows(df: DataFrame, c: org.apache.spark.sql.Column) =
      df.select(col("i"), c).collect().map(r => r.getInt(0) -> bits(r)).toMap
    def assertSame(got: Map[Int, Option[Seq[Option[Long]]]],
        want: Map[Int, Option[Seq[Option[Long]]]], what: String): Unit = {
      val bad = want.keys.toSeq.sorted.filter(i => !got.get(i).contains(want(i)))
      assert(got.keySet == want.keySet && bad.isEmpty,
        s"$what: kernel diverged from the HOF spelling at rows ${bad.take(3)}: " +
          bad.take(1).map(i => s"${got.get(i)} vs ${want(i)}").mkString)
    }
    val docs = Seq("alpha beta alpha gamma", "", "   ", null, "the quick brown fox the fox")
    val textDf = docs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    for (dim <- Seq(1, 16, 1024)) {
      val counts = transform(graft.ops.TextAnalysis.hashedTokenFeatures(col("t"), dim),
        _.cast("double"))
      val want = rows(textDf, reference(counts))
      assert(want(1).get.forall(_.contains(0L)) && want(2).get.forall(_.contains(0L)) &&
        want(3).isEmpty,
        s"dim $dim: reference keeps blank docs all-zero and a null doc null")
      val p = new HashedTextVectorization(Map("dim" -> dim))
      for (mode <- Seq("codegen", "interpreted")) {
        val got = PropertyTestKit.withExecutedMode(spark, mode)(rows(textDf, p.transform(col("t"))))
        assertSame(got, want, s"dim $dim $mode")
      }
    }
    // random real-valued arrays (every rounding of the sum and the division
    // shows), and arrays the vectorizer never produces: null, NaN and
    // infinite elements
    import org.scalacheck.Gen
    val random = PropertyTestKit.sampled(Gen.listOfN(60, Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3).map(Double.box)))))
    val arrays = random ++ Seq[Seq[java.lang.Double]](Seq(), Seq(0.0, 0.0), Seq(3.0, null, 4.0),
      Seq(1.0, Double.NaN), Seq(Double.PositiveInfinity, 2.0), Seq(1e-200, 3e-200), null)
    val arrDf = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("i", "a")
    val want = rows(arrDf, reference(col("a")))
    for (mode <- Seq("codegen", "interpreted")) {
      val got = PropertyTestKit.withExecutedMode(spark, mode)(
        rows(arrDf, graft.functions.L2Normalize.l2_normalize(col("a"))))
      assertSame(got, want, s"$mode arrays")
    }
  }

  test("HashedTextVectorization runs from PipelineConfig (the unbounded-vocab TF path)") {
    val yaml =
      """pipeline:
        |  - input: [t]
        |    transformer: HashedTextVectorization
        |    params: {dim: 16}
        |    output: "feat"
        |""".stripMargin
    val df = Seq("one two", "three").toDF("t")
    val out = new DataPipeline(PipelineConfig.fromYaml(yaml))
      .fitTransform(df, MLSchema(Map("t" -> MLType.Text)))
    assert(out.select("feat").head().getSeq[Double](0).length == 16)
  }

  test("TFIDF uncapped fit refuses past the ceiling; uncapped=true / max_features accepted") {
    val df = Seq("aa bb cc dd ee", "ff gg hh ii jj").toDF("t")
    val guarded = new TfIdfVectorization(Map("uncapped_vocab_ceiling" -> 3))
    val e = intercept[IllegalStateException] { guarded.fit(df, "t") }
    assert(e.getMessage.contains("max_features") &&
      e.getMessage.contains("HashedTextVectorization"))
    // explicit opt-in collects the full (10-term) vocabulary
    val opted = new TfIdfVectorization(Map("uncapped_vocab_ceiling" -> 3, "uncapped" -> true))
    opted.fit(df, "t")
    assert(opted.fittedVocabulary.length == 10)
    // a cap bounds the collect regardless of ceiling
    val capped = new TfIdfVectorization(Map("uncapped_vocab_ceiling" -> 3, "max_features" -> 2))
    capped.fit(df, "t")
    assert(capped.fittedVocabulary.length == 2)
  }

  test("Compress.compress refuses past the row ceiling, pointing at the per-partition path") {
    val df = spark.range(10).toDF("id")
    val e = intercept[IllegalStateException] {
      graft.io.Compress.compress(df, rowCeiling = 5L)
    }
    assert(e.getMessage.contains("compressPerPartition"))
    // at/below the ceiling the payload round-trips as before
    val ok = graft.io.Compress.compress(df, rowCeiling = 10L)
    assert(graft.io.Compress.decompress(spark, ok, Some(df.schema)).count() == 10)
  }

  test("SCol.unique refuses past the distinct-value ceiling") {
    import graft.sdf.SDF
    val sdf = SDF(spark.range(100).toDF("id"))
    val e = intercept[IllegalStateException] { sdf("id").uniqueCapped(50) }
    assert(e.getMessage.contains("nunique"))
    assert(sdf("id").uniqueCapped(100).length == 100)
  }

  test("DenseRankLabelEncoding: long labels above 2^53 keep exact numeric code order") {
    // adjacent longs past double precision — a double sort key collapses
    // them onto one value and the tie makes code assignment arbitrary; the
    // decimal(38,0) key must keep the exact native order
    val base = (1L << 53)
    val df = Seq(base + 3, base + 1, base + 2, base + 1).toDF("v")
    val got = enc(df, Map("encoding_range" -> "zero_to_n_minus_one"))
      .select("v", "code").distinct().orderBy("v").as[(Long, Long)].collect().toSeq
    assert(got == Seq((base + 1, 0L), (base + 2, 1L), (base + 3, 2L)))
  }

  test("DenseRankLabelEncoding: input columns named like the temp names survive") {
    // an input frame that legitimately carries __dre_key__/__dre_label__/
    // __dre_code__ columns must keep them — the join-side temp names are
    // generated collision-free, not reserved
    val df = Seq(("b", "k0", "l0", 7L), ("a", "k1", "l1", 8L))
      .toDF("v", "__dre_key__", "__dre_label__", "__dre_code__")
    val p = new DenseRankLabelEncoding(Map("encoding_range" -> "zero_to_n_minus_one"))
    p.fit(df, "v")
    val out = p.transformFrame(df, "v", "code")
    assert(out.columns.toSeq ==
      Seq("v", "__dre_key__", "__dre_label__", "__dre_code__", "code"))
    val rows = out.orderBy("v").select("v", "__dre_code__", "code")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("a", 8L, 0L), ("b", 7L, 1L)))
    // inverse path under the same collision pressure
    val inv = p.inverseTransformFrame(out, "code", "back")
    assert(inv.columns.count(_ == "__dre_label__") == 1)
    assert(inv.orderBy("v").select("back").as[String].collect().toSeq == Seq("a", "b"))
  }
}
