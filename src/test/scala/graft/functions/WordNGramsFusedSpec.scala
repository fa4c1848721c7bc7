package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Parity witnesses for the fused text expressions ([[WordNGrams]],
  * [[ChunkSegments]]) and for the lambda-free Catalyst forms the engine
  * uses instead of array HOFs (`arr.getField(f)` over array<struct>,
  * `array_join`, `sort_array`) against the higher-order-function
  * formulations they replaced — the HOF twins survive HERE, at spec
  * scale only (the StepFloorLookup pattern): the data paths plan the
  * native forms inside whole-stage codegen. */
class WordNGramsFusedSpec extends SparkSpec {
  import spark.implicits._

  // the exact HOF formulation gopherSignals used through round 9
  private def gramsHof(toks: Column, ns: Seq[Int]): Column =
    flatten(array(ns.map { n =>
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n) + lit(1)),
          i => struct(lit(n).as("__n"),
            array_join(slice(toks, i, lit(n)), " ").as("gram"))))
        .otherwise(array().cast("array<struct<__n:int,gram:string>>"))
    }: _*))

  // the exact HOF line derivation the q_x_repetition gate used
  private def chunkHof(toks: Column, chunk: Int): Column =
    array_join(
      transform(sequence(lit(0L), ((size(toks) - lit(1)) / lit(chunk)).cast("long")),
        i => array_join(
          slice(toks, (i * lit(chunk.toLong) + lit(1L)).cast("int"), lit(chunk)), " ")),
      "\n")

  private val fixtures = Seq(
    "the cat sat on the mat the cat sat again",
    "a b c d e f g h i j k l m n o p q",      // > 2 chunks of 8
    "one",                                      // single token
    "x y",                                      // below most gram sizes
    "  padded   whitespace  runs   here  ",
    "")                                         // empty text
    .toDF("text")
    .select(split(trim(col("text")), "\\s+").as("toks"))

  test("WordNGrams matches the transform(sequence) HOF, element for element") {
    val ns = Seq(2, 3, 4, 5)
    val rows = fixtures.select(
      WordNGrams.column(col("toks"), ns).as("fused"),
      gramsHof(col("toks"), ns).as("hof")).collect()
    rows.foreach { r => assert(r.get(0) == r.get(1), r.toString) }
  }

  test("WordNGrams skips null tokens inside a gram (array_join semantics)") {
    val withNulls = Seq(Seq[String]("a", null, "b", "c")).toDF("toks")
      .select(col("toks").cast("array<string>").as("toks"))
    val rows = withNulls.select(
      WordNGrams.column(col("toks"), Seq(2)).as("fused"),
      gramsHof(col("toks"), Seq(2)).as("hof")).collect()
    rows.foreach { r => assert(r.get(0) == r.get(1), r.toString) }
    // and the skipped-null gram is the joined survivors, no doubled space
    val grams = withNulls
      .select(explode(WordNGrams.column(col("toks"), Seq(2))).as("g"))
      .select(col("g.gram")).as[String].collect().toSeq
    assert(grams == Seq("a", "b", "b c"))
  }

  test("WordNGrams of a null array is null; too-short arrays emit nothing") {
    val df = Seq((Some(Seq("a", "b")), 1), (None, 2)).toDF("toks", "id")
    val out = df.select(col("id"),
      WordNGrams.column(col("toks"), Seq(3)).as("g")).collect()
    assert(out.find(_.getInt(0) == 1).get.getSeq[Any](1).isEmpty)
    assert(out.find(_.getInt(0) == 2).get.isNullAt(1))
  }

  // fixed-width lines as the q_x_repetition gate builds them
  private def lines(toks: Column, chunk: Int): Column =
    array_join(ChunkSegments.column(toks, chunk, " "), "\n")

  test("array_join(ChunkSegments) lines match the transform HOF") {
    val rows = fixtures.select(
      lines(col("toks"), 8).as("fused"),
      chunkHof(col("toks"), 8).as("hof")).collect()
    rows.foreach { r => assert(r.getString(0) == r.getString(1), r.toString) }
  }

  test("array_join(ChunkSegments) of an empty array is one empty line") {
    val df = Seq((Some(Seq.empty[String]), 1), (None, 2)).toDF("toks", "id")
    val out = df.select(col("id"), lines(col("toks"), 8).as("s")).collect()
    assert(out.find(_.getInt(0) == 1).get.getString(1) == "")
    assert(out.find(_.getInt(0) == 2).get.isNullAt(1))
  }

  test("ChunkSegments matches the transform(sequence) segment HOF exactly") {
    // the exact HOF formulation Boilerplate used through round 10
    val seg = 3
    def segHof(toks: Column): Column = {
      val nSegs = ceil(size(toks).cast("double") / lit(seg.toDouble)).cast("int")
      transform(sequence(lit(0), nSegs - lit(1)),
        i => array_join(slice(toks, i * seg + 1, lit(seg)), " "))
    }
    // non-empty fixtures only: the HOF's sequence(0, -1) edge on empty
    // arrays was never planned (Boilerplate filters empty text first)
    val rows = fixtures.filter(size(col("toks")) > 0).select(
      ChunkSegments.column(col("toks"), seg, " ").as("fused"),
      segHof(col("toks")).as("hof")).collect()
    rows.foreach { r => assert(r.get(0) == r.get(1), r.toString) }
  }

  test("ChunkSegments: empty array yields no segments; null array is null") {
    val df = Seq((Some(Seq.empty[String]), 1), (None, 2)).toDF("toks", "id")
    val out = df.select(col("id"),
      ChunkSegments.column(col("toks"), 3, " ").as("s")).collect()
    assert(out.find(_.getInt(0) == 1).get.getSeq[Any](1).isEmpty)
    assert(out.find(_.getInt(0) == 2).get.isNullAt(1))
  }

  test("array_join(getField) matches array_join(transform(getField))") {
    val df = Seq(1).toDF("x").select(
      array(
        struct(lit(2).as("i"), lit("b").as("s")),
        struct(lit(1).as("i"), lit("a").as("s")),
        struct(lit(3).as("i"), lit(null).cast("string").as("s"))).as("arr"))
    val sorted = df.select(sort_array(col("arr")).as("arr"))
    val rows = sorted.select(
      array_join(col("arr").getField("s"), " ").as("fused"),
      array_join(transform(col("arr"), e => e.getField("s")), " ").as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), r.toString)
      assert(r.getString(0) == "a b") // null field skipped, order by i
    }
    // a missing field is an analysis error, not a crash
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(array_join(col("arr").getField("nope"), " ")).collect()
    }
  }

  test("getField over array<struct> keeps nulls, like transform") {
    val df = Seq(1).toDF("x").select(
      array(
        struct(lit(2).as("i"), lit("b").as("s")),
        struct(lit(1).as("i"), lit("a").as("s")),
        struct(lit(3).as("i"), lit(null).cast("string").as("s"))).as("arr"))
    val rows = df.select(
      col("arr").getField("s").as("fused"),
      transform(col("arr"), e => e.getField("s")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), r.toString)
      assert(r.getSeq[Any](0) == Seq("b", "a", null)) // null KEPT, not skipped
    }
  }

  test("the fused expressions stay inside whole-stage codegen (no lambdas)") {
    import org.apache.spark.sql.catalyst.expressions.{GetArrayStructFields, HigherOrderFunction, LambdaFunction}
    // repartition blocks ConvertToLocalRelation from folding the literal
    // fixture away — the projection must actually plan
    val structs = sort_array(arrays_zip(col("toks"), reverse(col("toks"))))
    val df = fixtures.repartition(2).select(
      WordNGrams.column(col("toks"), Seq(2, 3)).as("g"),
      lines(col("toks"), 8).as("s"),
      structs.getField("toks").as("f"),
      array_join(structs.getField("toks"), " ").as("j"))
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan
    val exprs = graft.PlanWalk.allNodes(plan)
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists {
      case _: HigherOrderFunction | _: LambdaFunction => true
      case _ => false
    })
    assert(exprs.exists(_.isInstanceOf[GetArrayStructFields]), plan.toString)
    // the `*(n)` prefix is the WholeStageCodegen marker in the rendered
    // plan — a CodegenFallback expression would strip it from the Project
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan.toString).isDefined,
      plan.toString)
  }

  test("generated inputs: built-in array forms equal their HOF twins") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def orNull[A](g: Gen[A]): Gen[A] =
      Gen.frequency(1 -> Gen.const(null.asInstanceOf[A]), 6 -> g)
    val token = orNull(Gen.oneOf("a", "b", "cc", "", "d\u00e9j\u00e0", "x y"))
    val toks = orNull(Gen.choose(0, 40).flatMap(Gen.listOfN(_, token)))
    val struct = orNull(for {
      i <- orNull(Gen.choose(-2, 2).map(Int.box))
      s <- token
    } yield Row(i, s))
    val structs = orNull(Gen.choose(0, 12).flatMap(Gen.listOfN(_, struct)))
    val longs = Gen.choose(0, 30).flatMap(Gen.listOfN(_,
      Gen.oneOf(Gen.choose(-3L, 3L), Gen.oneOf(Long.MinValue, Long.MaxValue))))
    val row = for { t <- toks; a <- structs; n <- longs } yield (t, a, n)
    // the generated rows plus the edges every seed must keep covering:
    // empty and all-null token / struct arrays
    val edges = Seq(
      (Nil, Nil, Nil), (List(null, null), List(null, Row(null, null)), List(0L, 0L)))
    val data = ((0 until 400).map(i => row(Gen.Parameters.default, Seed(1000L + i)).get) ++
      edges).zipWithIndex.map { case ((t, a, n), i) => Row(i, t, a, n) }
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("toks", ArrayType(StringType)),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("i", IntegerType), StructField("s", StringType))))),
      StructField("nums", ArrayType(LongType, containsNull = false))))
    val df = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(3)
    val chunks = 1 to 9
    // the HOF twin's domain edge: at chunk 1 an empty array gives
    // sequence(0, -1), whose i = -1 reaches slice(start = 0) and throws;
    // the expected value there is the one empty line of every other chunk
    def chunkHofTotal(toks: Column, c: Int): Column =
      if (c > 1) chunkHof(toks, c)
      else when(size(toks) === 0, lit("")).otherwise(chunkHof(toks, c))
    val hofField = transform(col("arr"), e => e.getField("s"))
    val out = df.select(Seq(col("id"),
        col("arr").getField("s"), hofField,
        array_join(col("arr").getField("s"), " "), array_join(hofField, " "),
        sort_array(col("nums")), array_sort(col("nums"))) ++
      chunks.flatMap(c => Seq(lines(col("toks"), c), chunkHofTotal(col("toks"), c))): _*)
      .collect()
    assert(out.length == data.length)
    out.foreach { r =>
      val at = s"id=${r.getInt(0)} row=${data(r.getInt(0))}"
      (1 until r.length by 2).foreach(j => assert(r.get(j) == r.get(j + 1), s"col $j $at"))
    }
  }

  test("SimHash60Md5 fused expression matches the oracled HOF ladder bit-for-bit") {
    import graft.operators.Dedup
    val texts = Seq(
      "the cat sat on the mat the cat sat again",
      "a", "a a a a", "  padded   runs  ", "",
      "punctuation, UTF-8 \u00fcml\u00e4uts and \u4e2d\u6587 tokens!",
      "Mixed CASE Tokens repeated Mixed CASE Tokens")
      .toDF("text").repartition(2)
    val rows = texts.select(
      Dedup.simhash60Md5(col("text")).as("fused"),
      Dedup.simhash60Md5Hof(col("text")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // a 60-bit fingerprint never sets bits 60-63
    rows.foreach(r => assert((r.getLong(0) >>> 60) == 0L, r.toString))
  }

  test("Bpe.segment whole-doc replace fold matches the per-word HOF formulation") {
    import graft.operators.Bpe
    // the exact pre-round-12 per-word formulation, HOF twin at spec scale
    def segmentHof(text: Column, merges: Seq[(String, String)]): Column = {
      val norm = regexp_replace(lower(text), "[^a-z ]", "")
      def symbolize(w: Column) = concat(lit("|"), regexp_replace(w, "(.)", "$1|"))
      val words = filter(split(norm, " "), w => length(w) > 0)
      val merged = transform(words, w =>
        merges.foldLeft(symbolize(w))((s, m) =>
          replace(s, lit(s"|${m._1}|${m._2}|"), lit(s"|${m._1}${m._2}|"))))
      flatten(transform(merged, s2 => filter(split(s2, "[|]"), t => length(t) > 0)))
    }
    val docs = Seq(
      "banana banana bandana", "aaaa aa a", "The Quick! Brown? fox 123",
      "  double  spaces  survive  normalization  ", "", "one",
      "an anana banan anana ban")
      .toDF("text").repartition(2)
    val merges = Bpe.learn(docs, "text", 6).map(m => (m._2, m._3))
    val rows = docs.select(
      Bpe.segment(col("text"), merges).as("fused"),
      segmentHof(col("text"), merges).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
    // and the fused path plans no lambdas
    val plan = {
      val df = docs.select(Bpe.segment(col("text"), merges).as("t"))
      df.collect(); df.queryExecution.executedPlan
    }
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    assert(!graft.PlanWalk.allNodes(plan)
      .exists(_.expressions.exists(_.exists {
        case _: HigherOrderFunction | _: LambdaFunction => true
        case _ => false
      })))
  }
}
