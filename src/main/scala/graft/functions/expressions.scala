package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (SURVEY §2 engine components).
  *
  * Each generates a direct static call into the kernels in
  * `impls.scala`, so they participate in whole-stage codegen like
  * built-in functions — no UDF serialization, no interpreted
  * fallback in the hot path. SQL + Column access is provided by
  * [[GraftExtensions]] (SparkSessionExtensions) and [[GraftFunctions]].
  */

private object Check {
  def string(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$fn expects STRING, got ${t.sql}")
  }
  def floatArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$fn expects ARRAY<FLOAT>, got ${t.sql}")
  }
}

/** 64-bit SimHash of a document (whitespace tokens). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult = Check.string(child, prettyName)
  override protected def nullSafeEval(input: Any): Any =
    SimHashImpl.simhash64(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Winnowing fingerprint set: distinct selected k-gram rolling hashes
  * (Schleimer/Wilkerson/Aiken, SIGMOD 2003), ascending. */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k > 0 && w > 0, "winnow(text, k, w): k and w must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"
  override def checkInputDataTypes(): TypeCheckResult = Check.string(child, prettyName)
  override protected def nullSafeEval(input: Any): Any =
    WinnowImpl.winnow(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowImpl.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** k-way MinHash signature over character shingles; component i is the
  * minimum over shingles of the 8-hex-char slice
  * `substr(md5((i div 4) || ':' || shingle), 1 + 8*(i mod 4), 8)` —
  * oracle-reproducible (md5 is identical in DuckDB) at ⌈k/4⌉ digests
  * per shingle. NULL for texts shorter than one shingle. */
case class MinHashSig(child: Expression, k: Int, shingleLen: Int) extends UnaryExpression {
  require(k > 0 && shingleLen > 0, "minhash_sig(text, k, len): k and len must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = Check.string(child, prettyName)
  override protected def nullSafeEval(input: Any): Any =
    MinHashImpl.signature(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, shingleLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashImpl.signature($c, $k, $shingleLen);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Word n-gram repetition stats (n_grams, n_distinct, max_run) of a
  * token array — the Gopher battery counts, computed in one index
  * sort over token tuples instead of gram-string builds +
  * array_distinct + an interpreted aggregate fold (bit-identical;
  * see [[GramStatsImpl.gramStats]]). This and the next eight kernels
  * (through [[AdcSum]]) are the queries' only scan path; the specs pin
  * each against the expression form it replaced through the
  * test-scope KernelReference session. */
case class GramRepStats(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, "gram_rep_stats(tokens, n): n must be >= 2")
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("max_run", IntegerType, nullable = false)))
  override def prettyName: String = "gram_rep_stats"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    GramStatsImpl.gramStats(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramStatsImpl.gramStats($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GramRepStats =
    copy(child = newChild)
}

/** The sorted DSIR hashed-n-gram bucket array (word uni+bigrams, first
  * 60 md5 bits mod `buckets`) of a token array, run-length encoded:
  * ascending (h, c) multiplicity structs — bit-identical to the
  * conv(substring(md5(·),1,15),16,10) % buckets expression pipeline
  * plus the runStarts/runPairs higher-order RLE over it, in one kernel
  * pass without per-gram hex/substring/base-conversion allocations
  * (see [[DsirImpl.dsirPairs]]). */
case class DsirPairs(child: Expression, buckets: Long) extends UnaryExpression {
  require(buckets > 0, "dsir_pairs(tokens, buckets): buckets must be positive")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "dsir_pairs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    DsirImpl.dsirPairs(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DsirImpl.dsirPairs($c, ${buckets}L)")
  override protected def withNewChildInternal(newChild: Expression): DsirPairs =
    copy(child = newChild)
}

/** (pos, gh) anchor-gram structs of a token array (d11's per-anchor
  * 60-bit md5 grams) — codegen'd, no per-gram string/hex/conv
  * allocations (bit-identical; see [[GramHashImpl.anchorGrams]]). */
case class AnchorGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "anchor_grams(tokens, n): n must be >= 1")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gh", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "anchor_grams"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    GramHashImpl.anchorGrams(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashImpl.anchorGrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): AnchorGrams =
    copy(child = newChild)
}

/** Distinct word-n-gram h60s of a token array, first-occurrence order
  * (t27's novelty gram set) — codegen'd (bit-identical; see
  * [[GramHashImpl.gramH60Distinct]]). */
case class GramH60Distinct(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "gram_h60_distinct(tokens, n): n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_h60_distinct"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    GramHashImpl.gramH60Distinct(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashImpl.gramH60Distinct($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GramH60Distinct =
    copy(child = newChild)
}

/** Distinct h60 set of the distinct character n-shingles of a text,
  * first-occurrence order (d6/d15's exact-verify shingle sets) —
  * each distinct shingle hashed once, straight from the document's
  * UTF-8 bytes (bit-identical; see [[GramHashImpl.shingleH60Set]]). */
case class ShingleH60Set(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle_h60_set(text, n): n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_h60_set"
  override def checkInputDataTypes(): TypeCheckResult = Check.string(child, prettyName)
  override protected def nullSafeEval(input: Any): Any =
    GramHashImpl.shingleH60Set(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashImpl.shingleH60Set($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleH60Set =
    copy(child = newChild)
}

/** Squared L2 over subspace `m` (dims [m·dsub, m·dsub+dsub)) of two
  * float vectors — the PQ family's distance primitive, codegen'd
  * instead of the interpreted slice/zip_with/aggregate chain
  * (bit-identical; see [[PqImpl.l2SqSlice]]). `m = 0, dsub = dims`
  * is the full-vector form. */
case class L2SqSlice(first: Expression, second: Expression, third: Expression, dsub: Int)
  extends TernaryExpression {
  require(dsub > 0, "l2_sq_slice(a, b, m, dsub): dsub must be positive")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq_slice"
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, m) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<FLOAT>, ARRAY<FLOAT>, INT), got (${a.sql}, ${b.sql}, ${m.sql})")
    }
  override protected def nullSafeEval(a: Any, b: Any, m: Any): Any =
    PqImpl.l2SqSlice(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      m.asInstanceOf[Int], dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, m) => s"graft.functions.PqImpl.l2SqSlice($a, $b, $m, $dsub)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): L2SqSlice =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Integer dot product of two long arrays (the int8 coarse score) —
  * exact integer arithmetic, same left fold as the zip_with/aggregate
  * expression it replaces (see [[PqImpl.qdot]]). */
case class QDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "qdot"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<BIGINT>, ARRAY<BIGINT>), got (${a.sql}, ${b.sql})")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqImpl.qdot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqImpl.qdot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): QDot =
    copy(left = newLeft, right = newRight)
}

/** Index-ordered exact double dot product of two float vectors (v10's
  * MIPS score) — same left fold as the zip_with/aggregate expression
  * it replaces (see [[PqImpl.fdot]]). */
case class FDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fdot"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<FLOAT>, ARRAY<FLOAT>), got (${a.sql}, ${b.sql})")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqImpl.fdot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqImpl.fdot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FDot =
    copy(left = newLeft, right = newRight)
}

/** ADC distance Σ_m tables[m][codes[m]] (ascending m, from 0.0) — the
  * zip_with(element_at)/aggregate fold in one codegen'd pass; null if
  * a code misses its table, like element_at + sum (see
  * [[PqImpl.adcSum]]). */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_sum"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(MapType(IntegerType, DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<MAP<INT,DOUBLE>>, ARRAY<INT>), got (${a.sql}, ${b.sql})")
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqImpl.adcSum(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val r = ctx.freshName("adcSum")
      s"""
      java.lang.Double $r = graft.functions.PqImpl.adcSum($t, $c);
      ${ev.isNull} = $r == null;
      ${ev.value} = ${ev.isNull} ? -1.0 : $r.doubleValue();
      """
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two float vectors (double accumulation in
  * index order — bit-reproducible by the DuckDB oracle expression). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def checkInputDataTypes(): TypeCheckResult =
    Check.floatArray(left, prettyName) match {
      case TypeCheckResult.TypeCheckSuccess => Check.floatArray(right, prettyName)
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineImpl.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineImpl.cosine($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
