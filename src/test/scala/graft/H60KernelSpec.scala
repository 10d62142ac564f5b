package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r22: the codegen'd h60-gram kernels (shingle_h60_set /
  * anchor_grams / gram_h60_distinct) must be BIT-IDENTICAL to the
  * md5-expression forms they replace — main-vs-reference session
  * pairs on the graded queries ([[KernelReference]]) plus direct
  * adversarial corpora per kernel. */
class H60KernelSpec extends AnyFunSuite {
  import TestSpark._

  test("d6/d11/d15 are bit-identical under the h60Kernel flip") {
    for ((name, q, kernel) <- Seq(
      ("d6_ngram_jaccard", dedup.Dedup.d6NgramJaccard _, "shingle_h60_set"),
      ("d11_substring_dup", dedup.Dedup.d11SubstringDup _, "anchor_grams"),
      ("d15_minhash_calibration", dedup.Dedup.d15MinhashCalibration _, "shingle_h60_set"))) {
      val (on, off) = KernelReference.rows(kernel)(q(_, SfDir))
      assert(on.nonEmpty, s"$name returned no rows")
      assert(on == off, s"$name differs from its KernelReference form")
    }
  }

  test("t27 is bit-identical under the gramKernel flip") {
    val (on, off) = KernelReference.rows("gram_h60_distinct")(text.Text.t27Novelty(_, SfDir))
    assert(on.nonEmpty && on == off)
  }

  test("shingle_h60_set kernel == array_distinct(md5-expression) form") {
    import spark.implicits._
    val n = 5
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaa", // one distinct shingle
      "ababababababab", // two distinct shingles
      "héllo wörld héllo wörld", // multi-byte
      "😀😀😀😀😀 non-bmp shingling 😀😀😀", // surrogate pairs
      "exact", // exactly one shingle (len == n)
      (0 until 400).map(i => ('a' + i % 26).toChar).mkString)
    val df = texts.toDF("text").filter(length($"text") >= n)
    val exprForm = array_distinct(transform(
      array_distinct(transform(sequence(lit(1), length($"text") - (n - 1)),
        i => $"text".substr(i, lit(n)))),
      x => conv(substring(md5(x), 1, 15), 16, 10).cast("long")))
    df.select(functions.GraftFunctions.shingleH60Set($"text", n).as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"shingle set mismatch on ${r}"))
  }

  test("anchor_grams kernel == md5-expression struct form") {
    import spark.implicits._
    val n = 5
    val corpora: Seq[Seq[String]] = Seq(
      (0 until 30).map(i => s"tok${i % 4}"),
      Seq("a", "b", "c", "d", "e"), // exactly one anchor
      Seq("é", "漢", "😀", "x", "y", "é", "漢", "😀", "x", "y"),
      Seq.fill(12)("same"))
    val df = corpora.toDF("t").filter(size($"t") >= n)
    val exprForm = transform(sequence(lit(1), size($"t") - (n - 1)), i =>
      struct(i.as("pos"),
        conv(substring(md5(concat_ws(" ", slice($"t", i, lit(n)))), 1, 15), 16, 10)
          .cast("long").as("gh")))
    df.select(functions.GraftFunctions.anchorGrams($"t", n).as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(
        r.getSeq[org.apache.spark.sql.Row](0) == r.getSeq[org.apache.spark.sql.Row](1)))
  }

  test("gram_h60_distinct kernel == array_distinct(md5-expression) form") {
    import spark.implicits._
    val n = 5
    val corpora: Seq[Seq[String]] = Seq(
      (0 until 40).map(i => s"w${i % 6}"), // heavy gram repeats
      Seq("a", "b", "c", "d", "e"),
      Seq("é", "漢", "😀", "x", "y", "z", "é", "漢", "😀", "x", "y", "z"))
    val df = corpora.toDF("t").filter(size($"t") >= n)
    val exprForm = array_distinct(
      transform(sequence(lit(1), size($"t") - (n - 1)),
        i => conv(substring(md5(concat_ws(" ", slice($"t", i, lit(n)))), 1, 15), 16, 10)
          .cast("long")))
    df.select(functions.GraftFunctions.gramH60Distinct($"t", n).as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }
}
