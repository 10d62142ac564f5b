package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r22: the codegen'd PQ distance kernels (l2_sq_slice / qdot /
  * fdot / adc_sum) must be BIT-IDENTICAL to the interpreted expression
  * forms they replace — pinned by main-vs-reference session pairs on
  * the graded PQ queries ([[KernelReference]]) plus direct adversarial
  * inputs on each kernel. */
class PqKernelSpec extends AnyFunSuite {
  import TestSpark._

  test("v6/v7/v8/v10/v19 are bit-identical under the pqKernel flip") {
    for ((name, q, kernels) <- Seq(
      ("v6_pq_adc", sim.Sim.v6PqAdc _, Seq("l2_sq_slice", "adc_sum")),
      ("v7_quantized_rerank", sim.Sim.v7QuantizedRerank _, Seq("qdot")),
      ("v8_ivf_pq", sim.Sim.v8IvfPq _, Seq("l2_sq_slice", "adc_sum")),
      ("v10_mips", sim.Sim.v10Mips _, Seq("fdot")),
      ("v19_pq_recall", sim.Sim.v19PqRecall _, Seq("l2_sq_slice", "adc_sum")))) {
      val (on, off) = KernelReference.rows(kernels: _*)(q(_, SfDir))
      assert(on.nonEmpty, s"$name returned no rows")
      assert(on == off, s"$name differs from its KernelReference form")
    }
  }

  test("l2_sq_slice kernel == slice/zip_with/aggregate form, all subspaces") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(64)((rnd.nextFloat() - 0.5f) * 8f)
    val rows = Seq.fill(24)((vec(), vec(), rnd.nextInt(16))) ++
      // adversarial: identical vectors (distance exactly 0), negated
      // pair, zero vector, denormal-ish tiny components
      Seq({ val v = vec(); (v, v, 3) },
        { val v = vec(); (v, v.map(-_), 0) },
        (Seq.fill(64)(0f), vec(), 15),
        (Seq.fill(64)(1e-30f), Seq.fill(64)(-1e-30f), 7))
    val df = rows.toDF("a", "b", "m")
    val exprForm = aggregate(
      zip_with(
        slice($"a", $"m" * sim.Sim.PqDsub + 1, lit(sim.Sim.PqDsub)),
        slice($"b", $"m" * sim.Sim.PqDsub + 1, lit(sim.Sim.PqDsub)),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val got = df.select(
      functions.GraftFunctions.l2SqSlice($"a", $"b", $"m", sim.Sim.PqDsub).as("k"),
      exprForm.as("o")).collect()
    got.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
      s"l2 mismatch: kernel=${r.getDouble(0)} expr=${r.getDouble(1)}"))
    // full-vector form (m = 0, dsub = 64) against the unsliced fold
    val fullExpr = aggregate(
      zip_with($"a", $"b", (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val full = df.select(
      functions.GraftFunctions.l2SqSlice($"a", $"b", lit(0), 64).as("k"),
      fullExpr.as("o")).collect()
    full.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("qdot kernel == zip_with/aggregate integer fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20)((Seq.fill(64)(rnd.nextInt(255).toLong - 127),
      Seq.fill(64)(rnd.nextInt(255).toLong - 127))) :+
      (Seq.fill(64)(127L), Seq.fill(64)(-127L))
    val df = rows.toDF("a", "b")
    val exprForm = aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), _ + _)
    df.select(functions.GraftFunctions.qdot($"a", $"b").as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("fdot kernel == zip_with/aggregate double fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Seq[Float] = Seq.fill(64)((rnd.nextFloat() - 0.5f) * 4f)
    val rows = Seq.fill(20)((vec(), vec())) :+ (Seq.fill(64)(0f), vec())
    val df = rows.toDF("a", "b")
    val exprForm = aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    df.select(functions.GraftFunctions.fdot($"a", $"b").as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("adc_sum kernel == zip_with(element_at)/aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 16 subspaces, sparse non-dense codeword ids (map lookup, not
    // array indexing), sums must fold in ascending m from 0.0
    val rows = Seq.fill(20) {
      val tabs = Seq.fill(16)((0 until 10).map(c => (c * 3 + 1) -> rnd.nextDouble()).toMap)
      val codes = Seq.fill(16)(rnd.nextInt(10) * 3 + 1)
      (tabs, codes)
    }
    val df = rows.toDF("tables", "codes")
    val exprForm = aggregate(
      zip_with($"tables", $"codes", (t, c) => element_at(t, c)),
      lit(0.0), (acc, v) => acc + v)
    df.select(functions.GraftFunctions.adcSum($"tables", $"codes").as("k"), exprForm.as("o"))
      .collect().foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }
}
