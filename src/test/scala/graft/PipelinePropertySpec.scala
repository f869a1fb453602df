package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MLSchema, MLType}
import graft.processor.{DataPipeline, Nto1ColumnProcessor, PipelineConfig, ProcessorRegistry,
  SingleColumnProcessor, StepConfig}

/** Randomized orchestration differential: a generated sequence of text
  * processor steps is serialized to YAML, parsed back, fitted and applied
  * through the DataPipeline — and the result must equal applying the same
  * transforms directly, in order, on the driver. This pins the pipeline
  * WIRING (config parsing, column-pattern matching, output templating,
  * step ordering) against the processors it orchestrates, on a fresh
  * random pipeline every run.
  */
class PipelinePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val pythonPunct = """!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"""

  // driver mirror of each step, applied to a plain Scala string
  private def mirror(step: StepConfig): String => String = step.transformer match {
    case "CaseTransformation" =>
      if (step.params.get("case").map(_.toString).getOrElse("lower") == "upper") _.toUpperCase
      else _.toLowerCase
    case "HtmlTagRemoval" => _.replaceAll("<.*?>", "")
    case "PunctuationCleaner" =>
      val r = step.params.get("replacement_char").map(_.toString).getOrElse(" ").head
      s => s.map(c => if (pythonPunct.contains(c)) r else c)
    case "StringRemoval" =>
      val rem = step.params("removal_list").asInstanceOf[Seq[String]]
      s => rem.foldLeft(s)((acc, x) => acc.replace(x, ""))
    case other => throw new IllegalArgumentException(other)
  }

  test("yaml-configured pipeline equals direct in-order application") {
    import org.scalacheck.Gen
    val stepGen: Gen[StepConfig] = Gen.oneOf(
      Gen.oneOf("lower", "upper").map(m =>
        StepConfig(Seq("txt"), "CaseTransformation", Map("case" -> m), "{col_name}")),
      Gen.const(StepConfig(Seq("txt"), "HtmlTagRemoval", Map.empty, "{col_name}")),
      Gen.oneOf(" ", "_").map(r =>
        StepConfig(Seq("txt"), "PunctuationCleaner", Map("replacement_char" -> r), "{col_name}")),
      Gen.someOf(Seq("foo", "bar", "the")).suchThat(_.nonEmpty).map(rs =>
        StepConfig(Seq("txt"), "StringRemoval", Map("removal_list" -> rs.toSeq), "{col_name}")))
    val docs = Seq(
      "The <b>Quick</b> foo, bar; the end!",
      "plain text",
      "punct!!! <i>heavy</i>: (stuff)... the foo",
      "MiXeD CaSe <div>bar</div> the_foo-bar",
      "").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (trial <- 1 to 3) {
      val steps = Seq.fill(sampled(Gen.chooseNum(1, 5)))(sampled(stepGen))
      val yaml = PipelineConfig.toYaml(PipelineConfig(steps, Nil))
      val parsed = PipelineConfig.fromYaml(yaml)
      // stringly params survive the YAML trip; re-typed list params do too
      val pipe = new DataPipeline(parsed)
      val schema = MLSchema(Map("txt" -> MLType.Text))
      val df = docs.toDF("id", "txt")
      pipe.fit(df, schema)
      val got = pipe.transform(df, schema)
        .select(col("id"), col("txt")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val mirrors = parsed.steps.map(mirror)
      docs.foreach { case (id, t) =>
        val want = mirrors.foldLeft(t)((acc, f) => f(acc))
        assert(got(id) == want, s"trial $trial doc $id: '${got(id)}' vs '$want'")
      }
    }
  }

  test("random deep param trees round-trip the config writer exactly") {
    import org.scalacheck.Gen
    // shapes with EXACT round-trip identity: scalars, Seqs, Maps, nested
    val scalarGen: Gen[Any] = Gen.oneOf(
      Gen.alphaNumStr.map(s => "s" + s.take(8)), // non-numeric-looking strings
      Gen.chooseNum(-100000, 100000),
      Gen.chooseNum(-1e3, 1e3).map(d => math.rint(d * 100) / 100),
      Gen.oneOf(true, false))
    def treeGen(depth: Int): Gen[Any] =
      if (depth == 0) scalarGen
      else Gen.frequency(
        3 -> scalarGen,
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, treeGen(depth - 1)).map(_.toList)),
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, Gen.zip(Gen.identifier.map("k" + _.take(6)), treeGen(depth - 1)))
            .map(_.toMap)))
    for (trial <- 1 to 20) {
      val params = Map(
        "p1" -> sampled(treeGen(3)),
        "p2" -> sampled(treeGen(2)))
      val cfg = PipelineConfig(
        Seq(StepConfig(Seq("txt"), "HtmlTagRemoval", params, "{col_name}")), Nil)
      assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg)) == cfg,
        s"trial $trial YAML round-trip diverged for $params")
      assert(PipelineConfig.fromYaml(PipelineConfig.toJson(cfg)) == cfg,
        s"trial $trial JSON round-trip diverged for $params")
    }
  }

  test("non-Seq Scala containers and tuples normalize to the Seq shape in one trip") {
    // Set / Vector / Array / Tuple2 params all serialize as YAML lists
    // (toJavaDeep's Iterable/Array/pair conversion — the r10 advice
    // hardening); they parse back as Lists, and a second trip is identity
    def normalize(a: Any): Any = a match {
      case (x, y) => List(normalize(x), normalize(y))
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> normalize(v) }
      case i: Iterable[_] => i.toList.map(normalize)
      case arr: Array[_] => arr.toList.map(normalize)
      case other => other
    }
    val params: Map[String, Any] = Map(
      "set" -> Set("a", "b", "c"),
      "vec" -> Vector(1, 2, 3),
      "arr" -> Array("x", "y"),
      "pair" -> (("lhs", "rhs")),
      "nested" -> Map("inner" -> Vector(("p", "q"), ("r", null))))
    val cfg = PipelineConfig(
      Seq(StepConfig(Seq("txt"), "HtmlTagRemoval", params, "{col_name}")), Nil)
    val once = PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg))
    val want = params.map { case (k, v) => k -> normalize(v) }
    assert(once.steps.head.params == want,
      s"one-trip normalization diverged:\n${once.steps.head.params}\nvs\n$want")
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(once)) == once, "fixpoint")

    // an unserializable param type fails LOUD at write time, however deep
    val bad = PipelineConfig(Seq(StepConfig(Seq("txt"), "HtmlTagRemoval",
      Map("deep" -> Map("inner" -> Seq(1, new Object))), "{col_name}")), Nil)
    val ex = intercept[IllegalArgumentException](PipelineConfig.toYaml(bad))
    assert(ex.getMessage.contains("unserializable"))
  }

  test("MLType pattern matching and {col_name} templating route steps correctly") {
    // input pattern "text" (an MLType name) must match the TEXT column
    // only; the templated output writes a NEW column per input
    val cfg = PipelineConfig(Seq(
      StepConfig(Seq("text"), "CaseTransformation", Map("case" -> "upper"), "{col_name}_up")), Nil)
    val df = Seq((1L, "abc", "keep")).toDF("id", "t1", "cat")
    val schema = MLSchema(Map("t1" -> MLType.Text, "cat" -> MLType.Categorical))
    val pipe = new DataPipeline(cfg).fit(df, schema)
    val out = pipe.transform(df, schema)
    assert(out.columns.toSet == Set("id", "t1", "cat", "t1_up"))
    val row = out.head()
    assert(row.getAs[String]("t1_up") == "ABC")
    assert(row.getAs[String]("t1") == "abc", "templated output must not clobber the input")
    assert(row.getAs[String]("cat") == "keep", "categorical column must not match 'text'")
  }

  test("staged fit: every binding's state equals fitting each processor on its own, in order") {
    import org.scalacheck.Gen
    // stage 1: the imputations, four label encodings, TF-IDF (its own fit
    // beside the stage's aggregate) and a SKIP step (no `absent` column);
    // stage 2 opens at the encoding of `cat`, which stage 1 imputed in place
    // with a new label, so a fit against the unimputed `cat` would miss it
    val steps = Seq(
      StepConfig(Seq("cat"), "CategoricalMissingValueImputation",
        Map("strategy" -> "constant", "fill_value" -> "unset"), "{col_name}"),
      StepConfig(Seq("bin"), "CategoricalMissingValueImputation", Map.empty, "{col_name}"),
      StepConfig(Seq("num"), "NumericMissingValueImputation",
        Map("strategy" -> "median"), "{col_name}"),
      StepConfig(Seq("dlab", "big", "day", "ts"), "LabelEncoding", Map.empty, "{col_name}_enc"),
      StepConfig(Seq("absent"), "LabelEncoding", Map.empty, "{col_name}_enc"),
      StepConfig(Seq("txt"), "TFIDFVectorization", Map("max_features" -> 6), "txt_tfidf"),
      StepConfig(Seq("cat"), "LabelEncoding", Map.empty, "cat_enc"),
      StepConfig(Seq("bin"), "LabelEncoding", Map("encoding_range" -> "binary_zero_one"), "bin01"),
      StepConfig(Seq("bin"), "LabelEncoding",
        Map("encoding_range" -> "binary_plus_minus_one"), "binpm"),
      StepConfig(Seq("txt", "cat"), "TextConcatenation",
        Map("column_order" -> "sort_by_shortest_first"), "joined"))
    val schema = MLSchema(Map("cat" -> MLType.Categorical, "num" -> MLType.Float,
      "txt" -> MLType.Text, "bin" -> MLType.Categorical))
    val two53 = 1L << 53
    val dayOf = (d: Int) => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d))
    val tsOf = (s: Int) => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + s))
    val rowGen = for {
      cat <- Gen.frequency(4 -> Gen.oneOf("red", "green", "blue"), 1 -> Gen.const(null))
      num <- Gen.frequency(4 -> Gen.chooseNum(-5, 5).map(i => Double.box(i * 1.5)),
        1 -> Gen.const(null))
      // NaN and null are no labels; -0.0 and 0.0 are one label
      dlab <- Gen.oneOf[java.lang.Double](2.5, -1.0, 0.0, -0.0, Double.NaN, null)
      // 2^53 and 2^53 + 1 cast to the same double
      big <- Gen.oneOf[java.lang.Long](two53, two53 + 1, two53 + 2, -7L, null)
      day <- Gen.chooseNum(0, 40).map(dayOf)
      ts <- Gen.chooseNum(0, 3).map(tsOf)
      txt <- Gen.oneOf("a bb", "ccc dd ee", "ff", "")
      bin <- Gen.oneOf("yes", "no")
    } yield (i: Long) => (i, cat, num, dlab, big, day, ts, txt, bin)
    for (trial <- 1 to 2) {
      val rows = List.tabulate(40)(i => sampled(rowGen)(i.toLong))
        .updated(0, sampled(rowGen)(0L).copy(_2 = null))
      val df = rows.toDF("id", "cat", "num", "dlab", "big", "day", "ts", "txt", "bin")
      val pipe = new DataPipeline(PipelineConfig(steps, Nil)).fit(df, schema)
      // the reference: step by step, every binding fitted against the frame
      // its step sees, then the step applied
      var cur = df
      val want = steps.filter(_.input.forall(df.columns.contains)).map { s =>
        val groups = if (s.transformer == "TextConcatenation") Seq(s.input) else s.input.map(Seq(_))
        val binds = groups.map { ins =>
          val p = ProcessorRegistry.create(s.transformer, s.params)
          p match {
            case q: SingleColumnProcessor => q.fit(cur, ins.head)
            case q: Nto1ColumnProcessor => q.fit(cur, ins)
          }
          (ins, p, s.output.replace("{col_name}", ins.sorted.mkString("_")))
        }
        binds.foreach { case (ins, p, o) =>
          cur = cur.withColumn(o, p match {
            case q: SingleColumnProcessor => q.transform(col(ins.head))
            case q: Nto1ColumnProcessor => q.transform(cur, ins)
          })
        }
        (s.transformer, binds.map { case (ins, p, o) => (ins, o, p.state) })
      }
      val got = pipe.steps.map(s =>
        (s.transformer, s.bindings.map { case (ins, p, o) => (ins, o, p.state) }))
      assert(got == want, s"trial $trial: staged fit diverged from the in-order fit")
      // the label rule itself, from the driver: sorted distinct values
      // (numeric order, ties by value), nulls and NaN dropped, toString
      def labels(col: String): Seq[String] =
        got.flatMap(_._2).collectFirst { case (Seq(`col`), _, st) if st.contains("labels") =>
          st("labels") }.get
          .split('\u001e').toSeq.map(_.split('\u001f').head)
      val dl = rows.flatMap(r => Option(r._4)).map(_.doubleValue).filterNot(_.isNaN)
        .map(d => if (d == 0.0) 0.0 else d).distinct.sorted(Ordering.Double.TotalOrdering)
      assert(labels("cat").contains("unset"), s"trial $trial: cat encoded before its imputation")
      assert(labels("dlab") == dl.map(_.toString), s"trial $trial: double labels")
      assert(labels("big") == rows.flatMap(r => Option(r._5)).map(_.longValue).distinct.sorted
        .map(_.toString), s"trial $trial: long labels")
      assert(labels("day") == rows.map(_._6).distinct.sortBy(_.getTime).map(_.toString),
        s"trial $trial: date labels")
      assert(labels("ts") == rows.map(_._7).distinct.sortBy(_.getTime).map(_.toString),
        s"trial $trial: timestamp labels")
    }
  }
}
