package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r22: the codegen'd gram kernels (gram_rep_stats / dsir_pairs)
  * must be BIT-IDENTICAL to the SQL-expression forms they replace —
  * pinned by main-vs-reference session pairs on the graded queries
  * (the reference session plans [[KernelReference]]'s expression
  * forms in the kernels' place) plus direct adversarial corpora on the
  * shared expression builders. The kernels replace per-gram string
  * builds + interpreted (CodegenFallback) higher-order folds in the
  * scan hot loop; results may not move. */
class GramKernelSpec extends AnyFunSuite {
  import TestSpark._

  test("t9/t12/t23/t26 are bit-identical under the gramKernel flip") {
    for ((name, q, kernel) <- Seq(
      ("t9_repetition", text.Text.t9Repetition _, "gram_rep_stats"),
      ("t12_repetition_family", text.Text.t12RepetitionFamily _, "gram_rep_stats"),
      ("t23_dsir", text.Text.t23Dsir _, "dsir_pairs"),
      ("t26_importance_resample", text.Text.t26ImportanceResample _, "dsir_pairs"))) {
      val (on, off) = KernelReference.rows(kernel)(q(_, SfDir))
      assert(on.nonEmpty, s"$name returned no rows")
      assert(on == off, s"$name differs from its KernelReference form")
    }
  }

  test("streaming corpus gate keep-set is flip-invariant (shared repetitionSignals)") {
    val (a, b) = KernelReference.rows("gram_rep_stats") { s =>
      streaming.Streaming.corpusIngestTransform(
        Tables.documents(s, SfDir).withColumn("ts", current_timestamp()))
        .select("doc_id").orderBy("doc_id")
    }
    assert(a.nonEmpty && a == b)
  }

  test("repetitionSignals kernel == expression form on adversarial token arrays") {
    import spark.implicits._
    // all-equal runs, alternating, shared prefixes, multi-byte and
    // non-BMP tokens, a control byte below ' ' (joined-string sort
    // order diverges from tuple order there — counts must not)
    val corpora: Seq[Seq[String]] = Seq(
      Seq.fill(40)("x"),
      (0 until 41).map(i => if (i % 2 == 0) "a" else "b"),
      Seq("a", "ab", "abc", "a", "ab", "a", "b", "a"),
      Seq("é", "漢字", "😀", "é", "漢字", "😀", "é"),
      Seq("x", "y", "x\u0001z", "x", "y", "x\u0001z", "q"),
      Seq("t1", "t2", "t3"), // exactly 3 tokens: one trigram
      (0 until 200).map(i => s"w${i % 7}"))
    // an RDD source: a local relation would fold the projection away
    // before the plan check sees it
    val (on, off) = KernelReference.rows("gram_rep_stats") { s =>
      s.createDataFrame(s.sparkContext.parallelize(corpora.map(Tuple1(_)), 1)).toDF("t")
        .select(text.Text.repetitionSignals($"t").as("s"))
    }
    assert(on == off)
  }

  /** t23's pre-kernel feature array: sorted md5 buckets of the word
    * uni+bigrams. */
  private val md5Buckets = {
    val h60 = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    sort_array(concat(
      transform(col("t"), w => h60(w) % text.Text.DsirBuckets),
      transform(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat_ws(" ", a, b)),
        g => h60(g) % text.Text.DsirBuckets)))
  }

  test("dsir_buckets kernel == md5-expression form on adversarial token arrays") {
    import spark.implicits._
    val corpora: Seq[Seq[String]] = Seq(
      Seq("spark", "join", "window", "spark"),
      Seq("é", "漢字", "😀", "é"),
      Seq("a", "a", "a", "a", "a"),
      Seq("only"), // unigram-only: no bigrams
      (0 until 100).map(i => s"tok$i"))
    val df = corpora.toDF("t")
    // each (h, c) pair expanded back to c copies of h: the sorted array
    val expanded = flatten(transform(
      functions.GraftFunctions.dsirPairs($"t", text.Text.DsirBuckets),
      p => array_repeat(p.getField("h"), p.getField("c").cast("int"))))
    val got = df.select(expanded.as("k"), md5Buckets.as("o")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"bucket mismatch: kernel=${r.getSeq[Long](0)} expr=${r.getSeq[Long](1)}")
    }
  }

  test("dsir_pairs kernel == runStarts/runPairs RLE over the sorted buckets") {
    import spark.implicits._
    val corpora: Seq[Seq[String]] = Seq(
      Seq("spark", "join", "window", "spark", "join"),
      Seq("a", "a", "a"),
      Seq("only"), // f has one element; the empty case (sequence(0,-1)
      // misbehaves there) can't occur: t23 filters size(t) >= 2
      (0 until 150).map(i => s"tok${i % 9}"))
    val df = corpora.toDF("t")
      .withColumn("f", md5Buckets)
    // the RLE expression pipeline t23 ran before r22, verbatim
    val st = expr("filter(sequence(0, size(f) - 1), i -> i = 0 OR f[i] != f[i - 1])")
    val rle = expr("transform(sequence(0, size(st) - 1), " +
      "k -> struct(f[st[k]] AS h, " +
      "cast(if(k + 1 < size(st), st[k + 1], size(f)) - st[k] AS bigint) AS c))")
    val got = df
      .withColumn("st", st)
      .select(
        functions.GraftFunctions.dsirPairs($"t", text.Text.DsirBuckets).as("k"),
        rle.as("o"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1),
        s"RLE mismatch: kernel=${r.getSeq(0)} expr=${r.getSeq(1)}")
    }
  }

  test("gram_rep_stats totals: empty and sub-n arrays yield (0,0,0)") {
    import spark.implicits._
    val df = Seq(Seq.empty[String], Seq("a"), Seq("a", "b")).toDF("t")
    val rows = df.select(functions.GraftFunctions.gramRepStats($"t", 3).as("s"))
      .select($"s.n_grams", $"s.n_distinct", $"s.max_run").collect()
    rows.foreach(r => assert(r.getInt(0) == 0 && r.getInt(1) == 0 && r.getInt(2) == 0))
  }
}
