package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SqlTestHooks}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The expression forms the nine codegen'd scan kernels replace, and a
  * reference session that plans them in the kernels' place.
  *
  * Every kernel is called by name (`call_function`), so a session whose
  * function registry maps each kernel name to its expression form runs
  * the graded queries with no kernel at all. [[session]] is that
  * session: `spark.newSession()` over the shared session's runtime
  * confs, with the nine names overridden by [[forms]]. [[rows]] runs a
  * query on both sessions and checks that the main plan calls the
  * kernels and the reference plan none of them; the specs then compare
  * the two row sets for exact equality. */
object KernelReference {
  /** First 60 md5 bits of a string, via hex substring + base conversion. */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram array for n >= 2 (t8's sequence/slice kernel). */
  private def wordNgrams(t: Column, n: Int): Column =
    transform(sequence(lit(1), size(t) - (n - 1)),
      i => concat_ws(" ", slice(t, i, lit(n))))

  /** `body(v)` with `v` evaluated once (a one-element higher-order
    * transform binds it to a lambda variable). */
  private def let(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** One kernel call's arguments. */
  private case class Call(args: Seq[Expression]) {
    def col(i: Int): Column = SqlTestHooks.column(args(i))
    def int(i: Int): Int = args(i).eval().asInstanceOf[Number].intValue
    def long(i: Int): Long = args(i).eval().asInstanceOf[Number].longValue
  }

  /** Kernel name → the expression form it replaced, over the call's
    * arguments. */
  private val forms: Map[String, Call => Column] = Map(
    // t9/t12 and the streaming gate: gram-array sizes, distinct count
    // and longest sorted run, over the bigram zip or the n-gram slices
    "gram_rep_stats" -> { c =>
      val t = c.col(0)
      val n = c.int(1)
      val g = if (n == 2) text.Text.wordBigrams(t) else wordNgrams(t, n)
      struct(size(g).as("n_grams"), size(array_distinct(g)).as("n_distinct"),
        text.Text.maxRun(g).cast("int").as("max_run"))
    },
    // t23: the sorted md5 bucket array of uni+bigrams, then the
    // runStarts/runPairs (bucket, count) RLE over it
    "dsir_pairs" -> { c =>
      val t = c.col(0)
      val b = c.long(1)
      val sorted = sort_array(concat(
        transform(t, w => h60(w) % b),
        transform(text.Text.wordBigrams(t), g => h60(g) % b)))
      let(sorted) { f =>
        let(filter(sequence(lit(0), size(f) - 1), i => i === 0 || f(i) =!= f(i - 1))) { st =>
          transform(sequence(lit(0), size(st) - 1), k =>
            struct(f(st(k)).as("h"),
              (when(k + 1 < size(st), st(k + 1)).otherwise(size(f)) - st(k))
                .cast("bigint").as("c")))
        }
      }
    },
    // t27: distinct word-n-gram h60s
    "gram_h60_distinct" -> { c =>
      val t = c.col(0)
      val n = c.int(1)
      array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
        i => h60(concat_ws(" ", slice(t, i, lit(n))))))
    },
    // d11: (pos, gh) per anchor slot
    "anchor_grams" -> { c =>
      val t = c.col(0)
      val n = c.int(1)
      transform(sequence(lit(1), size(t) - (n - 1)), i =>
        struct(i.as("pos"), h60(concat_ws(" ", slice(t, i, lit(n)))).as("gh")))
    },
    // d6/d15: distinct raw shingles first, then an outer distinct
    "shingle_h60_set" -> { c =>
      array_distinct(transform(array_distinct(dedup.Dedup.shingles(c.col(0), c.int(1))),
        x => h60(x)))
    },
    // v6/v8/v19: squared L2 over subspace m, or over the whole vector
    // (v8's centroid/rerank distances call it as m = 0, dsub = Dims)
    "l2_sq_slice" -> { c =>
      val (a, b, dsub) = (c.col(0), c.col(1), c.int(3))
      val sq = (x: Column, y: Column) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
      val terms = c.args(2) match {
        case Literal(0, _) if dsub == sim.Sim.Dims => zip_with(a, b, sq)
        case _ =>
          val m = c.col(2)
          zip_with(slice(a, m * dsub + 1, lit(dsub)), slice(b, m * dsub + 1, lit(dsub)), sq)
      }
      aggregate(terms, lit(0.0), (acc, v) => acc + v)
    },
    // v7: the int8 coarse score
    "qdot" -> { c =>
      aggregate(zip_with(c.col(0), c.col(1), (x, y) => x * y), lit(0L), _ + _)
    },
    // v10: the MIPS score
    "fdot" -> { c =>
      aggregate(zip_with(c.col(0), c.col(1), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    },
    // v6/v8/v19: the ADC table-lookup sum
    "adc_sum" -> { c =>
      aggregate(zip_with(c.col(0), c.col(1), (t, cd) => element_at(t, cd)),
        lit(0.0), (acc, v) => acc + v)
    })

  /** The shared session's twin with every kernel name mapped to its
    * expression form. */
  lazy val session: SparkSession = {
    val main = TestSpark.spark
    val ref = main.newSession()
    main.conf.getAll.foreach { case (k, v) => if (ref.conf.isModifiable(k)) ref.conf.set(k, v) }
    forms.foreach { case (name, form) =>
      SqlTestHooks.overrideFunction(ref, name, args => form(Call(args)))
    }
    ref
  }

  /** Kernel names called anywhere in `df`'s optimized plan. */
  def plannedKernels(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p.expressions.flatMap(_.collect { case e => e.prettyName }) }
      .flatten.toSet.intersect(forms.keySet)

  /** `q`'s rows on the main session and on [[session]], after checking
    * that the main plan calls every one of `kernels` and the reference
    * plan no kernel. */
  def rows(kernels: String*)(q: SparkSession => DataFrame): (Seq[Row], Seq[Row]) = {
    val (main, ref) = (q(TestSpark.spark), q(session))
    val called = plannedKernels(main)
    assert(kernels.toSet.subsetOf(called), s"main plan calls $called, expected $kernels")
    assert(plannedKernels(ref).isEmpty, s"reference plan calls ${plannedKernels(ref)}")
    (main.collect().toSeq, ref.collect().toSeq)
  }
}
