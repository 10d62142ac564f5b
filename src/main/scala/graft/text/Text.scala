package graft.text

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for the training-data pipeline (SURVEY §2.F):
  * tokenization stats, language ID, quality scoring, document
  * fingerprinting, winnowing, corpus n-gram frequencies, and
  * deterministic train/val/test splitting.
  *
  * Scale notes (100 TB): every per-document metric is a pure codegen'd
  * Column expression over the text — scan-rate, zero shuffles until
  * the final (small) aggregate. The winnowing fingerprint set is
  * computed map-side by a custom Catalyst expression; only (doc_id,
  * 8-byte fingerprint) pairs ever shuffle, never document text, and
  * ubiquitous fingerprints are dropped before the pair join (the
  * standard stop-fingerprint guard that keeps the join output linear
  * instead of quadratic in corpus size).
  */
object Text {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens with empties removed (leading-space artifacts).
    * `private[graft]` so the streaming corpus-ingest gate tokenizes
    * identically to the batch quality query. */
  private[graft] def toks(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** t3's keep-gate token bounds (shared with the streaming ingest
    * pipeline so the two gates cannot drift). */
  val MinTokens = 10
  val MaxTokens = 2000

  /** Winnowing parameters, shared by the t5 query, its oracle and the
    * fingerprint expression call (same no-drift discipline as the
    * dedup module's lshCte constants). */
  val WinnowK = 8
  val WinnowW = 4

  /** Language marker profiles — deterministic stopword lists. `zh` has
    * no Latin-script stopwords (a production system scores CJK unigram
    * coverage instead), so its profile never fires on ASCII text. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "los", "las", "una", "y"),
    "fr" -> Seq("le", "les", "une", "est", "et"),
    "zh" -> Seq("的", "了"),
  )

  // ---------------------------------------------------------------------
  // t1: tokenization stats — whitespace token counts plus a BPE-style
  // pre-tokenizer count (letter runs / digit runs / single symbols,
  // the usual byte-pair pre-split). All array expressions, map-side.
  // ---------------------------------------------------------------------
  private val PreTokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  // ---------------------------------------------------------------------
  // t16: TOKEN-BUDGET quota sampling — the data-MIXING pass of a
  // training run (Dolma/Pile recipe shape): each source contributes at
  // most [[TokenBudget]] tokens, and which documents fill the quota is
  // decided by CONTENT-ADDRESSED order (md5(text), t7's discipline) so
  // the sample is reproducible across runs, machines and shard layouts
  // — not by file order, which at 100 TB is nondeterministic. Shape:
  // one exchange on source; the per-source hash-ordered cumulative
  // token sum and the final per-source rollup share that partitioning.
  // Per-source sort is the honest cost of an EXACT quota (the paper
  // pipelines sort too); the sort key is (32-char hash, id) — narrow —
  // and sources are bounded (a catalog, not a cardinality that grows
  // with corpus rows). A threshold-hash approximation (keep h < p)
  // would avoid the sort but only hits the budget in expectation; this
  // operator is the exact form.
  // ---------------------------------------------------------------------
  val TokenBudget = 400L

  def t16TokenBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select($"source", $"doc_id", md5($"text").as("h"),
        size(toks($"text")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .withColumn("keep", $"cum_tok" <= TokenBudget)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tokens_total"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", $"n_tok").otherwise(0L)).as("tokens_kept"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------------
  // t25: DATA-MIX REPORT — the (lang, source) composition table every
  // training-data card leads with (docs, tokens, corpus share) plus
  // the per-group up/down-sampling factor that would equalize the mix
  // to a uniform target (the starting point DoReMi/Pile mixture
  // tuning iterates from): factor = total/(G·tokens), so factor < 1
  // means the group must be down-sampled. Shape: one scan with
  // map-side token counts, one combine-enabled (lang, source)
  // groupBy; the grand totals are a 1-row aggregate over the
  // CATALOG-BOUNDED group rows, broadcast back (q15's scalar-subquery
  // shape — never an unpartitioned window). The group-row exchange is
  // reused across the two branches; only the post-shuffle agg re-runs,
  // over category-bounded rows. Each graded ratio is ONE IEEE divide
  // of exact int64s.
  // ---------------------------------------------------------------------
  def t25MixReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.documents(s, d)
      .select($"lang", $"source", size(toks($"text")).cast("long").as("n_tok"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tokens"))
    val tot = g.agg(sum($"tokens").as("tok_total"), count(lit(1)).as("n_groups"))
    g.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"n_docs", $"tokens",
        ($"tokens".cast("double") / $"tok_total".cast("double"))
          .as("corpus_share"),
        ($"tok_total".cast("double") / ($"n_groups" * $"tokens").cast("double"))
          .as("uniform_factor"))
      .orderBy($"lang", $"source")
  }

  // ---------------------------------------------------------------------
  // t27: N-GRAM NOVELTY — per document, the fraction of its distinct
  // word-5-grams appearing for the FIRST time in doc_id order (the
  // "is the crawl still adding new content" curve data teams plot as
  // a corpus grows; a collapsing novelty tail means the next TB buys
  // nothing). Grams are 60-bit md5 hashes (d6/d11 discipline — no raw
  // text past the scan); first-seen = one combine-enabled min per
  // gram; the join back to per-doc grams rides the SAME gh
  // partitioning the aggregate produced (exchange reuse, t8's
  // distinct-reduce shape), then one (doc) rollup + one divide.
  // ---------------------------------------------------------------------
  val NoveltyN = 5

  def t27Novelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // distinct gram h60s straight from digest bytes, one md5 per gram
    // slot, no hex/substring/conv allocations (equal to the md5
    // expression form: KernelReference)
    val gramSet = GraftFunctions.gramH60Distinct($"t", NoveltyN)
    val grams = Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"))
      .filter(size($"t") >= NoveltyN)
      .select($"doc_id", explode(gramSet).as("gh"))
    val first = grams.groupBy($"gh").agg(min($"doc_id").as("first_doc"))
    // d3's trade: force the sort-merge join so the probe side and the
    // first-seen aggregate SHARE one hashpartitioning(gh) exchange
    // (ReusedExchange — the gram explode computes once); a broadcast
    // would shingle the corpus twice and stops being possible once
    // the gram table outgrows the driver.
    grams.join(first.hint("merge"), "gh")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        $"n_novel".cast("double") / $"n_grams".cast("double"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t28: TOKENIZER FERTILITY per language — the multilingual budget
  // diagnostic every vocab-size decision starts from (fertility =
  // subword tokens per word; a language at 2× fertility consumes 2×
  // context per sentence, the standard metric in tokenizer papers):
  // words via the whitespace rule, subwords via t1's BPE-style
  // pre-tokenizer split, ONE combine-enabled (lang) groupBy over
  // map-side counts, fertility + chars-per-subtoken each one divide
  // of exact int64s.
  // ---------------------------------------------------------------------
  def t28TokenizerFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang",
        size(toks($"text")).cast("long").as("n_words"),
        size(regexp_extract_all(lower($"text"), lit(PreTokenRe), lit(0)))
          .cast("long").as("n_sub"),
        length($"text").cast("long").as("n_chars"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_words").as("words"),
        sum($"n_sub").as("subtokens"),
        sum($"n_chars").as("chars"))
      .select($"lang", $"n_docs", $"words", $"subtokens",
        ($"subtokens".cast("double") / $"words".cast("double")).as("fertility"),
        ($"chars".cast("double") / $"subtokens".cast("double"))
          .as("chars_per_subtoken"))
      .orderBy($"lang")
  }

  def t1Tokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", toks($"text").as("t"),
        size(regexp_extract_all(lower($"text"), lit(PreTokenRe), lit(0)))
          .as("n_subtokens"))
      .select(
        $"doc_id",
        size($"t").as("n_tokens"),
        size(array_distinct($"t")).as("n_distinct"),
        aggregate($"t", lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
        $"n_subtokens")
      .withColumn("avg_token_len", $"sum_len".cast("double") / $"n_tokens")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t2: language ID — n-gram/stopword-profile scoring. Each profile
  // score is a token-membership count; prediction is argmax with
  // alphabetical tie-break (greatest + CASE chain, identical in the
  // oracle). Emits the confusion matrix against the labeled lang.
  // ---------------------------------------------------------------------
  def t2Langid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"lang", toks($"text").as("t"))
    val scored = profiles.foldLeft(base) { case (df, (l, words)) =>
      df.withColumn(s"s_$l", size(filter($"t", x => x.isin(words: _*))))
    }
    val m = greatest(profiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = profiles.foldLeft(when(lit(false), "")) { case (c, (l, _)) =>
      c.when(col(s"s_$l") === m, l)
    }
    scored
      .withColumn("pred_lang", pred)
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  // ---------------------------------------------------------------------
  // t3: quality scoring — length / punctuation / digit / stopword
  // ratios plus a keep flag, the standard pre-training corpus filter.
  // ---------------------------------------------------------------------
  def t3Quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stop = profiles.toMap.apply("en")
    Tables.documents(s, d)
      .select($"doc_id", length($"text").as("n_chars"), toks($"text").as("t"),
        (length($"text") - length(regexp_replace($"text", "[0-9]", ""))).as("n_digits"),
        (length($"text") - length(regexp_replace($"text", "[.,!?;:]", ""))).as("n_punct"))
      .select($"doc_id", $"n_chars",
        size($"t").as("n_tokens"),
        size(filter($"t", x => x.isin(stop: _*))).as("n_stop"),
        $"n_digits", $"n_punct")
      .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_tokens")
      .withColumn("digit_ratio", $"n_digits".cast("double") / $"n_chars")
      .withColumn("punct_ratio", $"n_punct".cast("double") / $"n_chars")
      .withColumn("keep",
        $"n_tokens" >= MinTokens && $"n_tokens" <= MaxTokens && $"stop_ratio" >= 0.005)
      .select($"doc_id", $"n_chars", $"n_tokens", $"n_stop", $"stop_ratio",
        $"digit_ratio", $"punct_ratio", $"keep")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t4: document fingerprint — md5 of casefolded, punctuation-collapsed
  // text; dup-groups by fingerprint. md5 (not engine-native hash) so
  // the oracle reproduces values byte-for-byte.
  // ---------------------------------------------------------------------
  def t4Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        md5(trim(regexp_replace(lower($"text"), "[^a-z0-9]+", " "))).as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc_id"))
      .orderBy($"fingerprint")
  }

  // ---------------------------------------------------------------------
  // t5: winnowing (behavioral spec in TextSpec + FNV oracle) — per-doc
  // fingerprint sets from the custom Winnow expression (k-gram rolling
  // hash, window-min selection), then overlap pairs. Fingerprints
  // occurring in >20 docs are dropped (stop-fingerprints) before the
  // pair join so output stays linear at corpus scale.
  // ---------------------------------------------------------------------
  def t5Winnow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fps = Tables.documents(s, d)
      .select($"doc_id", explode(GraftFunctions.winnow($"text", WinnowK, WinnowW)).as("fp"))
    val rare = fps.groupBy($"fp")
      .agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2 && $"nd" <= 20)
    val f = fps.join(rare.select($"fp"), "fp")
    f.as("a").join(f.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
      .orderBy($"n_shared".desc, $"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------------
  // t6: corpus-level top-k word bigrams — the n-gram frequency table
  // a tokenizer-training / contamination-check pass computes. Bigram
  // arrays are built map-side (zip of the token array with its tail,
  // no self-join); explode feeds a count aggregate whose map-side
  // partial combine collapses each partition's duplicates before the
  // shuffle, so shuffled rows ≈ distinct bigrams per partition, not
  // corpus tokens. Top-k via TakeOrderedAndProject (no global sort).
  // ---------------------------------------------------------------------
  val TopNgrams = 20

  def t6TopkNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(toks(lower($"text")).as("t"))
      // a 0/1-token doc has no bigrams — and slice() throws on the
      // negative length the unguarded expression would produce
      .filter(size($"t") >= 2)
      .select(explode(zip_with(
        slice($"t", lit(1), size($"t") - 1),
        slice($"t", lit(2), size($"t") - 1),
        (a, b) => concat_ws(" ", a, b))).as("ngram"))
      .groupBy($"ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ngram")
      .limit(TopNgrams)
  }

  // ---------------------------------------------------------------------
  // t7: deterministic train/val/test split — content-addressed
  // bucketing on md5(doc_id), the reproducible alternative to random
  // sampling: any engine (and any rerun, at any scale, on any
  // partitioning) assigns each document to the same split. Buckets
  // 0-7 train, 8 val, 9 test. Pure map-side hash + one small rollup.
  // ---------------------------------------------------------------------
  /** Content-addressed 10-way split bucket: value of the first 6 hex
    * digits of md5(doc_id), mod 10 (shared by t7 and t8). */
  private def bucket10: Column =
    pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long"), lit(10L))

  def t7SampleSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = bucket10
    Tables.documents(s, d)
      .select($"doc_id", length($"text").as("len"), bucket.as("b"))
      .withColumn("split",
        when($"b" <= 7, "train").when($"b" === 8, "val").otherwise("test"))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"len").as("sum_chars"),
        (sum($"len").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy($"split")
  }

  // ---------------------------------------------------------------------
  // t8: train/test CONTAMINATION check — the decontamination pass every
  // pre-training pipeline runs before evaluation: word 5-grams of each
  // test document are probed against the distinct 5-gram set of the
  // train split (t7's content-addressed buckets), reporting per-doc
  // leaked-n-gram counts and ratio. Shapes that survive 100 TB: n-grams
  // are built map-side (array expressions, no self-join); both sides
  // reduce to DISTINCT (map-side partial) before the probe join, so
  // the shuffle carries each distinct n-gram once per side — and in
  // production the join key would be a 64-bit n-gram hash rather than
  // the string (same plan, smaller bytes; kept as the string here for
  // oracle exactness).
  // ---------------------------------------------------------------------
  val ContamN = 5

  def t8Contamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"),
        when(bucket10 <= 7, "train").when(bucket10 === 8, "val")
          .otherwise("test").as("split"))
      .filter(size($"t") >= ContamN)
      .select($"doc_id", $"split",
        explode(transform(sequence(lit(1), size($"t") - (ContamN - 1)),
          i => concat_ws(" ", slice($"t", i, lit(ContamN))))).as("ng"))
    val train = grams.filter($"split" === "train").select($"ng").distinct()
    val test = grams.filter($"split" === "test").select($"doc_id", $"ng").distinct()
    // ONE pass over the test side: the left probe join marks hits and
    // a single aggregate produces both counts (count(hit) skips nulls)
    // — a separate totals/leaked pair would re-scan + re-explode the
    // whole corpus per reference
    test.join(train.withColumn("hit", lit(1)), Seq("ng"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_ngrams"), count($"hit").as("n_contaminated"))
      .withColumn("contamination_ratio",
        $"n_contaminated".cast("double") / $"n_ngrams")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t17: BLOOM-FILTER decontamination — t8's question answered the way
  // a 100 TB pipeline actually runs it (the Dolma release pipeline's
  // Bloom dedup shape): the train split's distinct-n-gram set reduces
  // to ONE fixed-size mergeable Bloom filter
  // ([[graft.functions.BloomFilterAgg]] — bitsets OR-merge map-side,
  // the shuffle carries 256 KB per partition, not the n-gram set),
  // which broadcasts to the test side and is probed map-side inside
  // codegen ([[graft.functions.BloomContains]]). Versus t8's exact
  // distinct-join: NO shuffle of the reference set at probe time, no
  // join state — the trade is the sized false-positive rate (~0.2% at
  // these parameters; never false negatives). The companion spec pins
  // flagged ⊇ exactly-contaminated per doc and bounds the measured FP
  // excess against t8's exact answer. Sketch output → rows-only
  // driver check (t13/s15 precedent); n-gram fingerprints are
  // xxhash64 (builtin, codegen'd).
  // ---------------------------------------------------------------------
  val BloomBits = 1 << 21 // 256 KB — ~20 bits/element headroom at sf0.1
  val BloomK = 3

  def t17BloomDecontam(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"),
        when(bucket10 <= 7, "train").when(bucket10 === 8, "val")
          .otherwise("test").as("split"))
      .filter(size($"t") >= ContamN)
      .select($"doc_id", $"split",
        explode(transform(sequence(lit(1), size($"t") - (ContamN - 1)),
          i => concat_ws(" ", slice($"t", i, lit(ContamN))))).as("ng"))
      .withColumn("fp", xxhash64($"ng"))
    val filt = grams.filter($"split" === "train")
      .agg(GraftFunctions.bloomAgg($"fp", BloomBits, BloomK).as("bf"))
    grams.filter($"split" === "test")
      .select($"doc_id", $"fp").distinct()
      .crossJoin(broadcast(filt))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(GraftFunctions.bloomContains($"bf", $"fp"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("flagged_ratio", $"n_flagged".cast("double") / $"n_ngrams")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t9: within-document REPETITION filter — the Gopher-style quality
  // rule (Rae et al. 2021 §A1.1: fraction of duplicated word n-grams)
  // that removes boilerplate/spam before pre-training. Word bigrams
  // are built map-side (zip of the token array with its tail — same
  // kernel as t6, per-doc instead of corpus-wide); the duplicate
  // fraction is 1 − distinct/total. Pure scan-rate array expressions,
  // zero shuffles before the output sort.
  // ---------------------------------------------------------------------
  /** Max duplicate-bigram fraction a kept document may have (splits
    * this corpus ~4:1 keep:drop; Gopher's production rule uses a
    * family of n-gram sizes with per-size thresholds). */
  val RepetitionMax = 0.05

  /** Word-bigram array of a token array with ≥ 2 tokens (zip of the
    * array with its tail — t6's kernel, per-doc). Shared by t9 and the
    * streaming corpus-ingest repetition gate. */
  private[graft] def wordBigrams(t: Column): Column =
    zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => concat_ws(" ", a, b))

  def t9Repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"))
      // a 0/1-token doc has no bigrams (and slice() would throw)
      .filter(size($"t") >= 2)
    // bigram counts from the index-sort kernel — no gram strings, no
    // hash-set distinct (equal to the bigram-array form: KernelReference)
    val s2 = GraftFunctions.gramRepStats($"t", 2)
    base.select($"doc_id", size($"t").as("n_tokens"),
        s2.getField("n_grams").as("n_bigrams"),
        s2.getField("n_distinct").as("n_distinct"))
      .withColumn("dup_ratio",
        lit(1.0) - $"n_distinct".cast("double") / $"n_bigrams")
      .withColumn("keep", $"dup_ratio" <= RepetitionMax)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t12: REPETITION RULE FAMILY — the full Gopher-style battery
  // (Rae et al. 2021 Table A1 pairs per-size duplicate-n-gram
  // fractions with top-n-gram mass fractions; t9 is the single
  // bigram rule). Per doc: duplicate fraction (1 − distinct/total)
  // for word 2- and 3-grams, plus the top-gram fraction — the share
  // of n-gram slots the single most frequent gram occupies (token-
  // slot proxy of Gopher's character fraction; bounded (0,1], unlike
  // occurrences×n/n_tokens which exceeds 1 on degenerate docs). A doc
  // is kept only if ALL four signals pass.
  //
  // Scale shape: ZERO shuffles before the output sort — the counts
  // come map-side from the gram_rep_stats kernel, whose top-gram
  // count is the longest run of the SORTED gram index array, not an
  // explode + per-(doc, gram) groupBy, so nothing leaves the map
  // side; the oracle rebuilds the same counts via unnest+GROUP BY,
  // where the shuffle is DuckDB's problem.
  // ---------------------------------------------------------------------
  val Dup2Max = 0.20
  val Dup3Max = 0.18
  val Top2Max = 0.18
  val Top3Max = 0.16

  /** Highest occurrence count of any element of a string array —
    * computed map-side as the longest run of the sorted array. The
    * empty-string initial `prev` can't collide: grams are non-empty. */
  private[graft] def maxRun(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The four Gopher battery signals of a token array with ≥ 3 tokens,
    * as one struct — shared by the t12 query and the streaming corpus
    * gate so the two can never drift. All map-side array expressions. */
  private[graft] def repetitionSignals(t: Column): Column = {
    // counts from the index-sort kernel (one evaluation per gram size
    // via whole-stage subexpression elimination; equal to the gram-array
    // form: KernelReference)
    val s2 = GraftFunctions.gramRepStats(t, 2)
    val s3 = GraftFunctions.gramRepStats(t, 3)
    struct(
      (lit(1.0) - s2.getField("n_distinct").cast("double") / s2.getField("n_grams")).as("dup2_frac"),
      (s2.getField("max_run").cast("double") / s2.getField("n_grams")).as("top2_frac"),
      (lit(1.0) - s3.getField("n_distinct").cast("double") / s3.getField("n_grams")).as("dup3_frac"),
      (s3.getField("max_run").cast("double") / s3.getField("n_grams")).as("top3_frac"))
  }

  /** t12's composite keep gate over [[repetitionSignals]]. */
  private[graft] def repetitionKeep(sig: Column): Column =
    sig.getField("dup2_frac") <= Dup2Max && sig.getField("dup3_frac") <= Dup3Max &&
      sig.getField("top2_frac") <= Top2Max && sig.getField("top3_frac") <= Top3Max

  def t12RepetitionFamily(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"))
      .filter(size($"t") >= 3) // need at least one trigram
      .select($"doc_id", size($"t").as("n_tokens"),
        repetitionSignals($"t").as("sig"))
      .select($"doc_id", $"n_tokens",
        $"sig.dup2_frac", $"sig.top2_frac", $"sig.dup3_frac", $"sig.top3_frac")
      .withColumn("keep",
        $"dup2_frac" <= Dup2Max && $"dup3_frac" <= Dup3Max &&
          $"top2_frac" <= Top2Max && $"top3_frac" <= Top3Max)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t10: SEQUENCE PACKING — the concat-stream chunking every
  // pre-training data loader runs: documents are concatenated in a
  // deterministic order and split into fixed-length context windows;
  // each doc gets the sequence id and offset where its tokens land.
  // Packing is per (source, shard) with shard = doc_id div 1000:
  // production packers work shard-local (a global concat order would
  // serialize the corpus), and the bounded shard size (≤1000 docs)
  // caps every window partition at any corpus scale — the window
  // shuffle is on (source, shard), perfectly parallel and skew-free
  // at 100 TB by construction, and each partition's running token
  // sum is a ≤1000-row in-memory scan. Only (ids, counts) shuffle;
  // text never leaves the map side.
  // ---------------------------------------------------------------------
  val PackLen = 512L
  val ShardDocs = 1000L

  def t10SeqPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"shard").orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        expr(s"doc_id div $ShardDocs").as("shard"),
        size(toks($"text")).as("n_tokens"))
      .withColumn("tok_start",
        sum($"n_tokens").over(w).cast("long") - $"n_tokens")
      .select($"doc_id", $"source", $"shard", $"n_tokens", $"tok_start",
        expr(s"tok_start div $PackLen").as("seq_id"),
        pmod($"tok_start", lit(PackLen)).as("seq_offset"))
      .orderBy($"source", $"shard", $"doc_id")
  }

  // ---------------------------------------------------------------------
  // t11: BM25 relevance scoring — the canonical retrieval scorer, used
  // in training-data curation to pull query-relevant subsets out of a
  // web corpus (quality-classifier seeding, domain filtering). Corpus
  // statistics (N, total doc length, per-term document frequencies)
  // reduce to ONE broadcastable row; per-document term frequencies and
  // the score are then pure map-side expressions against that row, so
  // the whole scorer is scan-rate at any corpus size, and the top-k
  // plans as the heap operator.
  //
  // The idf factor defaults to the rational Robertson form WITHOUT the
  // log — ln() is not a correctly-rounded operation and differs in the
  // last ulp across libm implementations, which would break the
  // bit-exact oracle; the rational variant is monotone in the same df
  // and keeps every op a single shared IEEE divide/multiply/add. The
  // ranking this produces differs from ln-BM25 only when term idfs
  // span orders of magnitude, because the sum across terms weights
  // rare terms much more without the log's compression.
  //
  // Production seam: spark.graft.bm25.ln=true switches to the
  // log-idf scorer in Lucene's form, ln(1 + (N − df + 0.5)/(df + 0.5))
  // — same plan shape (one broadcast stats row, map-side scoring, heap
  // top-k), only the idf arithmetic changes. The +1 matters: raw
  // Robertson ln((N−df+0.5)/(df+0.5)) goes NEGATIVE for any term with
  // df > N/2, and on this corpus all three query terms are that
  // common — measured Spearman between raw-ln and rational rankings
  // is −0.97, i.e. every ranking flips (the exact failure Lucene's
  // guard exists for). The graded oracle path keeps the default.
  // Per-term contributions are summed in FIXED literal order on both
  // engines.
  // ---------------------------------------------------------------------
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val Bm25Terms: Seq[String] = Seq("spark", "join", "window")

  /** Full per-document BM25 scores (doc_id, dl, score). `ln` picks the
    * production natural-log idf over the bit-exact rational one; the
    * two rankings' agreement is spec-pinned (QueriesSpec rank check). */
  def bm25Scores(s: SparkSession, d: String, ln: Boolean): DataFrame = {
    import s.implicits._
    val tfCols = Bm25Terms.zipWithIndex.map {
      case (term, i) => size(filter($"t", x => x === term)).as(s"tf_$i")
    }
    val docs = Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"))
      .select(Seq($"doc_id", size($"t").as("dl")) ++ tfCols: _*)
    val dfCols = Bm25Terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum($"dl").as("sum_dl") +: dfCols: _*)
    docs.crossJoin(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
      .withColumn("score", Bm25Terms.indices.map { i =>
        val tf = col(s"tf_$i").cast("double")
        val df = col(s"df_$i").cast("double")
        val rational = ($"n_docs".cast("double") - df + 0.5) / (df + 0.5)
        val idf = if (ln) log(lit(1.0) + rational) else rational
        idf * (tf * lit(Bm25K1 + 1.0)) /
          (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * $"dl".cast("double") / $"avgdl"))
      }.reduce(_ + _))
  }

  def t11Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ln = s.conf.getOption("spark.graft.bm25.ln").exists(_.toBoolean)
    val scored = bm25Scores(s, d, ln)
    // global top-k: TopKRewrite replaces this with the heap operator
    // (map-side partial → AllTuples merge of ≤ k rows per partition)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"doc_id")
    scored
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= Bm25TopK)
      .select($"rnk", $"doc_id", $"dl", $"score")
      .orderBy($"rnk")
  }

  // ---------------------------------------------------------------------
  // t13: APPROXIMATE heavy hitters — t6's corpus top-k bigrams through
  // the [[graft.functions.ApproxTopKAgg]] Misra-Gries summary
  // (ClickHouse `topK`): one bounded w-entry sketch per map partition
  // merges to the answer, so the shuffle carries w entries per
  // partition instead of every distinct n-gram — the shape that
  // survives a corpus whose distinct-gram cardinality itself is
  // corpus-sized. Sketch contents inside the ±n/(w+1) error band are
  // partition-order dependent (as with any mergeable sketch), so this
  // is a rows-only driver entry; the error bound, the
  // heavy-hitter-presence guarantee and agreement with t6's exact
  // counts are pinned by TopKAggSpec — s15's accepted HLL pattern.
  // ---------------------------------------------------------------------
  /** Sketch capacity. Sized as n/(w+1) ≤ ~the corpus's top counts —
    * on this deliberately flat synthetic corpus (top bigram ≈ 48 of
    * ~27k slots at sf0.01) that needs w ≫ k; production topK picks
    * w = k × load_factor against Zipfian text, where the heavies
    * clear the bound at tiny capacities. State stays bounded either
    * way: w entries per (group × partition). */
  val TopKSketchW = 2048

  def t13ApproxTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(toks(lower($"text")).as("t"))
      .filter(size($"t") >= 2)
      .select(explode(wordBigrams($"t")).as("ngram"))
      .agg(graft.functions.GraftFunctions
        .approxTopK($"ngram", TopNgrams, TopKSketchW).as("tk"))
      .select(posexplode($"tk"))
      .select(($"pos" + 1).as("rank"),
        $"col.item".as("ngram"), $"col.est".as("est_count"))
  }

  // ---------------------------------------------------------------------
  // t19: ClickHouse `topKWeighted` — heavy hitters by WEIGHT, not
  // occurrence: which tokens dominate the corpus's character budget
  // (weight = token length; the byte-mass question a tokenizer-budget
  // analysis asks). Same Misra-Gries summary as t13 with the
  // weighted update (δ = min(min-counter, wᵢ), remainder reinserted;
  // Berinde et al. 2010 — weight ≡ 1 degenerates to the classic
  // step bit-for-bit, TopKAggSpec-pinned). Same scale shape: w
  // entries per (group × partition) shuffle regardless of distinct
  // cardinality. Rows-only (sketch; W/(w+1) bound spec — t13/s15
  // precedent).
  // ---------------------------------------------------------------------
  def t19TopkWeighted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(toks(lower($"text"))).as("wd"))
      .select($"wd", length($"wd").cast("long").as("mass"))
      .agg(graft.functions.GraftFunctions
        .approxTopKWeighted($"wd", $"mass", TopNgrams, TopKSketchW).as("tk"))
      .select(posexplode($"tk"))
      .select(($"pos" + 1).as("rank"),
        $"col.item".as("word"), $"col.est".as("est_mass"))
  }

  // ---------------------------------------------------------------------
  // t14: unigram language-model scoring — the CCNet/Gopher quality
  // idiom (score each document against a model of the corpus itself;
  // outliers are boilerplate or noise). The GRADED columns are exact
  // rationals: mean token probability Σ_tokens c(w) / (n·total) and
  // the out-of-vocabulary fraction vs the top-[[TopVocab]] vocabulary
  // — each one double division of two exact int64s, so the oracle is
  // bit-identical. The production ln-perplexity variant (floating
  // point, engine-divergent — t11's precedent) is conf-gated behind
  // spark.graft.unigram.ln=true and pinned by a brute-force spec.
  //
  // Scale shape: nothing token-level ever joins — documents reduce
  // map-side to per-doc DISTINCT (word, k) pairs first (t8's
  // distinct-reduced discipline), the corpus count table is
  // vocab-sized, the w-join shuffles only (doc_id, w, k) triples, and
  // the top-V vocabulary (a constant-sized list) broadcasts. total is
  // a 1-row broadcast. TopVocab=20 / gate 0.4 are calibrated to this
  // corpus's 31-word vocabulary (d5-threshold precedent); production
  // uses the same constants ratio'd to a real vocabulary.
  // ---------------------------------------------------------------------
  val TopVocab = 20
  val OovMax = 0.4

  def t14UnigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ln = s.conf.getOption("spark.graft.unigram.ln").exists(_.toBoolean)
    val docWords = Tables.documents(s, d)
      .select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("k"))
    val cnt = docWords.groupBy($"w").agg(sum($"k").as("c"))
    val total = cnt.agg(sum($"c").as("total"))
    val vocab = cnt.orderBy($"c".desc, $"w").limit(TopVocab).select($"w".as("vw"))
    val aggs = Seq(
      sum($"k").as("n_tokens"),
      sum($"k" * $"c").as("sum_cnt"),
      sum(when($"vw".isNull, $"k").otherwise(0L)).as("n_oov")) ++
      (if (ln) Seq(sum($"k".cast("double") * log($"c".cast("double"))).as("sum_ln"))
       else Nil)
    val per = docWords
      .join(cnt, "w")
      .join(broadcast(vocab), $"w" === $"vw", "left")
      .groupBy($"doc_id")
      .agg(aggs.head, aggs.tail: _*)
    val out =
      if (!ln)
        per.crossJoin(broadcast(total))
          .select($"doc_id", $"n_tokens",
            ($"sum_cnt".cast("double") / ($"n_tokens" * $"total").cast("double"))
              .as("mean_prob"),
            ($"n_oov".cast("double") / $"n_tokens".cast("double")).as("oov_frac"))
      else
        per.crossJoin(broadcast(total))
          .select($"doc_id", $"n_tokens",
            ($"sum_cnt".cast("double") / ($"n_tokens" * $"total").cast("double"))
              .as("mean_prob"),
            ($"n_oov".cast("double") / $"n_tokens".cast("double")).as("oov_frac"),
            (($"sum_ln" - $"n_tokens".cast("double") * log($"total".cast("double")))
              / $"n_tokens".cast("double")).as("mean_logprob"))
    out
      .withColumn("keep", $"oov_frac" <= OovMax)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t15: PII detection + redaction — the scrubbing pass every released
  // training corpus runs (emails / IPv4s / phone numbers → typed
  // placeholder tokens). Semantics are a SEQUENTIAL redaction chain —
  // emails first, then IPs on the email-redacted text, then phones —
  // so one span can never double-count across classes; counts are the
  // match counts at each stage. Patterns avoid lookaround so the same
  // regex text is valid Java regex (Spark) and RE2 (DuckDB oracle);
  // the crafted-corpus spec pins the positive-match semantics that
  // this synthetic corpus (word-soup, zero PII — redaction is the
  // identity on it) cannot exercise, exactly the FakeCodec/d5
  // corpus-constraint precedent.
  //
  // Scale shape: three regexp passes fused into one codegen'd
  // projection — scan-rate map-side work, zero shuffles before the
  // output sort. At 100 TB this is the cheapest pass in the pipeline.
  // ---------------------------------------------------------------------
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val PiiPhoneRe = "\\+\\d{1,3}[ -]\\d{2,4}[ -]\\d{3,4}([ -]\\d{2,4})?"

  def t15PiiRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val afterEmail = regexp_replace($"text", PiiEmailRe, "<EMAIL>")
    Tables.documents(s, d)
      .select($"doc_id", $"text",
        size(regexp_extract_all($"text", lit(PiiEmailRe), lit(0))).as("n_emails"),
        afterEmail.as("t1"))
      .select($"doc_id", $"n_emails",
        size(regexp_extract_all($"t1", lit(PiiIpRe), lit(0))).as("n_ips"),
        regexp_replace($"t1", PiiIpRe, "<IP>").as("t2"))
      .select($"doc_id", $"n_emails", $"n_ips",
        size(regexp_extract_all($"t2", lit(PiiPhoneRe), lit(0))).as("n_phones"),
        regexp_replace($"t2", PiiPhoneRe, "<PHONE>").as("redacted"))
      .withColumn("clean", $"n_emails" + $"n_ips" + $"n_phones" === 0)
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"redacted", $"clean")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t18: lexical diversity — the exact-rational counterpart of the
  // ClickHouse `entropy`/`uniq` quality family and the
  // concentration side of Gopher's lexical filters. Per doc:
  // type-token ratio (distinct/total), Simpson concentration — the
  // probability two token draws WITHOUT replacement collide,
  // Σc(c−1) / (n(n−1)) — and the top-token fraction. Every graded
  // column is one double division of exact int64s (the ln-entropy
  // variant is engine-divergent — t11/t14 precedent — and the
  // Simpson index carries the same ordering information for
  // filtering). Scale shape: ZERO shuffles before the output sort —
  // Σc(c−1) and the top count are folds over the SORTED token array
  // (extending a run from k−1 to k adds 2(k−1) ordered pairs), so
  // like t12 nothing token-level ever leaves the map side.
  // ---------------------------------------------------------------------

  /** Σ c·(c−1) over element multiplicities of a string array —
    * map-side fold over the sorted array. Exact int64; empty-string
    * initial `prev` can't collide (tokens are non-empty). */
  private def pairSum(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("sum")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          (acc.getField("sum") + lit(2L) * (run - lit(1L))).as("sum"))
      },
      acc => acc.getField("sum"))

  def t18Diversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", toks(lower($"text")).as("t"))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        size(array_distinct($"t")).cast("long").as("n_distinct"),
        maxRun($"t").as("top_count"),
        pairSum($"t").as("pairs"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        ($"n_distinct".cast("double") / $"n_tokens".cast("double")).as("ttr"),
        when($"n_tokens" > 1L,
          $"pairs".cast("double") /
            ($"n_tokens" * ($"n_tokens" - lit(1L))).cast("double")).as("simpson"),
        ($"top_count".cast("double") / $"n_tokens".cast("double")).as("top_frac"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t20: CCNet quality partition — the head/middle/tail corpus split
  // (Wenzek 2020: rank the corpus by LM score, cut into tertiles;
  // training recipes then sample the buckets at different rates).
  // Ranking the WHOLE corpus needs a global total order — done with
  // the distributed-ranking idiom, not a single-partition window:
  // range-repartition on the (exact-rational, t14) score, local
  // row_number per range partition, plus per-partition offsets from a
  // triangular self-join over the tiny (≤ parallelism)-row counts
  // table. global rank = offset + local rank is invariant to where
  // the range boundaries land, every window partitions on a bounded
  // key, and nothing collects. Bucket rule is exact integer
  // (rank·3 vs n), ties broken by doc_id — fully deterministic.
  // The ranked projection is persist()ed: RangePartitioner seeds its
  // reservoir sample per physical exchange, so the counts/offsets/
  // total branches MUST scan the same materialized partitioning as
  // the ranked rows — with separate exchanges the boundaries (and so
  // the pid each row lands in) can differ once real-scale inputs
  // exceed the sample size, and "offset + local rank" silently stops
  // being a permutation. persist routes every branch through one
  // InMemoryRelation (the CacheManager dedupes repeat builder calls
  // by canonicalized plan, so the slim (doc_id, n_tokens, mean_prob,
  // pid) cache is bounded per session and cheap at any corpus size
  // relative to the corpus itself).
  // ---------------------------------------------------------------------
  def t20QualityBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nParts = s.sparkContext.defaultParallelism
    val scored = t14UnigramLm(s, d).select($"doc_id", $"n_tokens", $"mean_prob")
    val sorted = Tables.persistOnce(scored
      .repartitionByRange(nParts, $"mean_prob".desc, $"doc_id")
      .withColumn("pid", spark_partition_id()))
    val counts = sorted.groupBy($"pid").agg(count(lit(1)).as("c"))
    val offsets = counts.as("a")
      .join(counts.as("b"), $"b.pid" < $"a.pid", "left")
      .groupBy($"a.pid")
      .agg(coalesce(sum($"b.c"), lit(0L)).as("offset"))
    val total = counts.agg(sum($"c").as("n"))
    val wLocal = Window.partitionBy($"pid").orderBy($"mean_prob".desc, $"doc_id")
    sorted
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(total))
      .withColumn("rank", $"offset" + row_number().over(wLocal))
      .withColumn("bucket",
        when($"rank" * 3 <= $"n", "head")
          .when($"rank" * 3 <= $"n" * 2, "middle")
          .otherwise("tail"))
      .select($"doc_id", $"n_tokens", $"mean_prob", $"rank", $"bucket")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t21: quality-weighted corpus sampling — the CCNet/DoReMi recipe
  // step AFTER t20's partition: each quality bucket is sampled at its
  // own rate (head kept whole, middle thinned, tail mostly dropped),
  // with a CONTENT-ADDRESSED deterministic draw (t7's md5 discipline):
  // no RNG state, bit-reproducible across runs, partitionings and
  // engines, and the "t21:" salt decorrelates the draw from t7's
  // split buckets (a doc's sampling fate must be independent across
  // decisions keyed on the same id). The ≤-per-mille rule is exact
  // integer. Scale shape: t20's ranking plus one map-side draw+filter
  // — zero added shuffles; output bounded by the kept sample.
  // ---------------------------------------------------------------------
  val SamplePerMille: Map[String, Long] =
    Map("head" -> 1000L, "middle" -> 500L, "tail" -> 100L)

  def t21BucketSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val draw = pmod(
      conv(substring(md5(concat(lit("t21:"), $"doc_id".cast("string"))), 1, 6),
        16, 10).cast("long"),
      lit(1000L))
    t20QualityBuckets(s, d)
      .withColumn("draw", draw)
      .withColumn("rate",
        when($"bucket" === "head", SamplePerMille("head"))
          .when($"bucket" === "middle", SamplePerMille("middle"))
          .otherwise(SamplePerMille("tail")))
      .filter($"draw" < $"rate")
      .select($"doc_id", $"n_tokens", $"mean_prob", $"rank", $"bucket", $"draw")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // t22: per-document KEYWORD EXTRACTION — top-3 TF-IDF terms per doc,
  // the tagging/labeling pass of a curation pipeline (domain routing,
  // topic mixing, dataset cards). Shapes: per-doc (word, tf) pairs are
  // computed MAP-SIDE as a fold over the sorted token array (t12
  // discipline — no per-(doc, word) corpus shuffle; the exploded rows
  // are distinct words per doc, bounded by doc length); document
  // frequencies reduce from those same rows with one combine-enabled
  // shuffle to a vocabulary-sized table that BROADCASTS back (t14's
  // vocab discipline); the per-doc top-3 plans as the TopKPerGroup
  // heap. Scoring uses t11's rational Robertson idf — no ln(), every
  // graded double is one divide + one multiply of exact int64s, so
  // the ranking is bit-deterministic in both engines.
  // ---------------------------------------------------------------------
  val KeywordTopK = 3

  /** Run starts of a SORTED array column (indices where a new value
    * begins). With [[runPairs]] this turns the array into (value,
    * count) multiplicities in O(len) — replacing the
    * O(distinct·len) filter-per-distinct idiom, which at 5000 docs
    * was ~70% of t23's measured cost (5.4 s → see PLANS.md r12). */
  private def runStarts(arr: String): Column =
    expr(s"filter(sequence(0, size($arr) - 1), " +
      s"i -> i = 0 OR $arr[i] != $arr[i - 1])")

  /** (value, count) structs from a sorted array + its run starts. */
  private def runPairs(arr: String, st: String, v: String, c: String): Column =
    expr(s"transform(sequence(0, size($st) - 1), " +
      s"k -> struct($arr[$st[k]] AS $v, " +
      s"cast(if(k + 1 < size($st), $st[k + 1], size($arr)) - $st[k] AS bigint) AS $c))")

  def t22Keywords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // sorted tokens → runs: distinct words with counts, all map-side
    val pairs = Tables.documents(s, d)
      .select($"doc_id", sort_array(toks(lower($"text"))).as("t"))
      .withColumn("st", runStarts("t"))
      .select($"doc_id", size($"t").as("dl"),
        explode(runPairs("t", "st", "word", "tf")).as("p"))
      .select($"doc_id", $"dl", $"p.word", $"p.tf")
    val dfTab = pairs.groupBy($"word").agg(count(lit(1)).as("df"))
    val stats = pairs.agg(countDistinct($"doc_id").as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")
    pairs
      .join(broadcast(dfTab), "word")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        $"tf".cast("double")
          * (($"n_docs".cast("double") - $"df".cast("double") + 0.5)
             / ($"df".cast("double") + 0.5)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= KeywordTopK)
      .select($"doc_id", $"rnk", $"word", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rnk")
  }

  /** t23 feature-space size (hashed n-gram buckets) and the target
    * language defining p_target. */
  val DsirBuckets = 1024L
  val DsirTarget = "en"

  // ---------------------------------------------------------------------
  // t23: DSIR importance weights (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling") — the data-
  // SELECTION pass: score every raw document by how target-like its
  // hashed n-gram profile is, w(x) ∝ p_target(x)/p_raw(x); sampling
  // by these weights reshapes a raw crawl toward a target domain
  // (here: the 'en' slice). Features are word uni+bigrams hashed to
  // 1024 buckets (the paper's hashed n-gram model); both feature
  // models are add-one-smoothed bucket frequencies.
  //
  // Bit-exact discipline: the paper's log-likelihood-ratio is a sum
  // of ln() terms — not correctly rounded, so (t11's idf precedent)
  // the graded score is the RATIONAL surrogate Σ c_f·r_f / n with
  // r_f = (cnt_t+1)(R+B) / ((cnt_r+1)(T+B)), each factor exact-int,
  // combined in double with three IEEE ops per feature and the sum
  // folded in sorted-feature order on BOTH engines (the addition
  // chain is part of the contract). Shapes: per-doc (bucket, count)
  // pairs fold MAP-SIDE from the sorted feature array (t22
  // discipline); bucket totals reduce to ONE 1024-row broadcast (the
  // feature models are corpus-independent in size); per-doc score is
  // one (doc_id) combine shuffle + a codegen'd ordered fold. Nothing
  // after the map side scales beyond (docs × distinct buckets/doc).
  // ---------------------------------------------------------------------
  def t23Dsir(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the kernel computes the sorted bucket array straight from digest
    // bytes (no per-gram hex/substring/conv string allocations in the
    // scan) and run-length-encodes it in the same pass (equal to the
    // md5 expression form + runStarts/runPairs RLE: KernelReference)
    val pairs = Tables.documents(s, d)
      .select($"doc_id", $"lang", toks(lower($"text")).as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", $"lang",
        explode(GraftFunctions.dsirPairs($"t", DsirBuckets)).as("p"))
      .select($"doc_id", $"lang", $"p.h", $"p.c")
    val stats = pairs.groupBy($"h").agg(
      sum($"c").as("cnt_r"),
      sum(when($"lang" === DsirTarget, $"c").otherwise(0L)).as("cnt_t"))
    val totals = stats.agg(sum($"cnt_r").as("tot_r"), sum($"cnt_t").as("tot_t"))
    val fold = aggregate(
      sort_array(collect_list(struct($"h", $"term"))),
      lit(0.0), (acc, x) => acc + x.getField("term"))
    pairs
      .join(broadcast(stats), "h")
      .crossJoin(broadcast(totals))
      .withColumn("term",
        $"c".cast("double") *
          ((($"cnt_t" + 1L).cast("double") * ($"tot_r" + DsirBuckets).cast("double"))
            / (($"cnt_r" + 1L).cast("double") * ($"tot_t" + DsirBuckets).cast("double"))))
      .groupBy($"doc_id")
      .agg(
        sum($"c").as("n_feats"),
        count(lit(1)).as("n_distinct"),
        fold.as("score_sum"))
      .select($"doc_id", $"n_feats", $"n_distinct",
        ($"score_sum" / $"n_feats".cast("double")).as("dsir_weight"))
      .orderBy($"doc_id")
  }

  /** t24 stopword list (Gopher's rule uses a small English function-
    * word set; shared constant so query/oracle/spec cannot drift). */
  val GopherStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  // ---------------------------------------------------------------------
  // t24: Gopher quality rules (Rae et al. 2021, appendix A1.1) — the
  // NON-repetition battery (t12 is the repetition half): word-count
  // bounds, mean-word-length band, symbol-to-word ratio, alphabetic-
  // word fraction, and the ≥2-distinct-stopwords rule. Every DECISION
  // is an integer comparison (3n ≤ L ≤ 10n for the length band,
  // 5·n_alpha ≥ 4·n for the 80% rule, 10·n_sym ≤ n for the ratio) —
  // no IEEE op ever picks a side, the one double is the display mean.
  // Shape: pure codegen'd array expressions per document, zero
  // shuffles before the ordered output — scan-rate at 100 TB, the
  // same gate a streaming ingest would fuse map-side.
  // ---------------------------------------------------------------------
  def t24GopherRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stopsArr = array(GopherStops.map(lit): _*)
    Tables.documents(s, d)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id",
        size($"t").cast("long").as("n_words"),
        length(concat_ws("", $"t")).cast("long").as("n_chars"),
        size(filter($"t", w => w.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
        size(filter($"t", w => w.rlike("^[#…]+$"))).cast("long").as("n_sym"),
        size(array_intersect(array_distinct($"t"), stopsArr)).cast("long")
          .as("n_stops"))
      .select($"doc_id", $"n_words", $"n_alpha", $"n_stops",
        ($"n_chars".cast("double") / $"n_words".cast("double"))
          .as("mean_word_len"),
        ($"n_words" >= 50L && $"n_words" <= 2500L).as("ok_count"),
        ($"n_chars" >= $"n_words" * 3L && $"n_chars" <= $"n_words" * 10L)
          .as("ok_len"),
        ($"n_alpha" * 5L >= $"n_words" * 4L).as("ok_alpha"),
        ($"n_sym" * 10L <= $"n_words").as("ok_sym"),
        ($"n_stops" >= 2L).as("ok_stops"))
      .withColumn("keep",
        $"ok_count" && $"ok_len" && $"ok_alpha" && $"ok_sym" && $"ok_stops")
      .orderBy($"doc_id")
  }

  /** t26's acceptance multiplier: p(doc) = min(1, α·w). A FIXED α
    * keeps the pass embarrassingly parallel and deterministic — the
    * calibrated form (α from a target token budget / the corpus mean
    * weight) adds one broadcast aggregate and is the documented
    * production variant; a global mean would also make every p depend
    * on an engine-ordered double sum, which the graded contract
    * avoids. */
  val DsirAlpha = 0.5

  // ---------------------------------------------------------------------
  // t26: DSIR IMPORTANCE RESAMPLING — the SELECTION half of Xie 2023
  // (t23 scores, t26 samples): each document is kept iff its
  // content-addressed uniform u = md5(text)[0:15]/16^15 falls under
  // p = min(1, α·w) — deterministic across runs, machines and shard
  // layouts (t7's discipline; no RNG state, no seed plumbing), and
  // exactly the hash-threshold acceptance a 100 TB pass wants: zero
  // coordination, the keep decision rides the same scan that computed
  // the weight. Output is the per-language selection report (kept
  // counts, kept tokens, mean accepted weight via v16's bounded-state
  // discipline: each kept weight floor-quantized to int64 at 1e-6 and
  // summed exactly — order-independent, combine-enabled, O(1)
  // per-language state instead of a corpus-sized sorted fold).
  // Exactness: u is one divide of exact integers, p one multiply +
  // min, the compare is on two mirrored doubles, and floor(w·1e6) is
  // one deterministic IEEE op on a bit-identical double.
  // ---------------------------------------------------------------------
  def t26ImportanceResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = t23Dsir(s, d).select($"doc_id", $"dsir_weight")
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang",
        size(toks($"text")).cast("long").as("n_tok"),
        (conv(substring(md5($"text"), 1, 15), 16, 10).cast("double") /
          lit(1152921504606846976.0)).as("u"))
    docs.join(w, "doc_id")
      .withColumn("p", least(lit(1.0), lit(DsirAlpha) * $"dsir_weight"))
      .withColumn("keep", $"u" < $"p")
      .select($"doc_id", $"lang", $"n_tok", $"keep",
        when($"keep", floor($"dsir_weight" * lit(1000000.0)).cast("long"))
          .otherwise(0L).as("qw"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", $"n_tok").otherwise(0L)).as("tokens_kept"),
        sum($"qw").as("q_kept"))
      .select($"lang", $"n_docs", $"n_kept", $"tokens_kept",
        when($"n_kept" > 0L,
          $"q_kept".cast("double") / $"n_kept".cast("double") / lit(1000000.0))
          .as("mean_kept_weight"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------------
  // t29: VOCABULARY GROWTH (Heaps' law) — distinct vocabulary vs
  // cumulative tokens per source at doc-count checkpoints, the
  // corpus-health curve data teams read before mixing sources (a
  // flattening curve ⇒ the source has exhausted its novelty; Heaps
  // 1978, and the practical check behind dataset-mix reports). A
  // word's FIRST occurrence doc (min doc_id per (source, word)) is a
  // combine-enabled aggregate; doc order rank per source only matters
  // up to the largest checkpoint, so the rank list is a TopKPerGroup
  // HEAP selection (k = max checkpoint), never a corpus-sized window
  // sort — then each checkpoint sums new-word/token counts over its
  // ≤k bounded rank rows via a broadcast triangular join (q37's
  // idiom). All-integer until the one type-token-ratio divide;
  // ln-entropy variants are engine-divergent (t11/t14 precedent) and
  // deliberately absent.
  // ---------------------------------------------------------------------
  val VocabCheckpoints: Seq[Int] = Seq(10, 100, 400)

  def t29VocabGrowth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kMax = VocabCheckpoints.max
    val docs = Tables.documents(s, d)
      .select($"source", $"doc_id", toks(lower($"text")).as("ws"))
    // per-doc token count + per-source doc rank, heap-bounded at kMax
    val wRank = Window.partitionBy($"source").orderBy($"doc_id")
    val ranked = docs
      .select($"source", $"doc_id", size($"ws").cast("long").as("n_tok"))
      .withColumn("rnk", row_number().over(wRank))
      .filter($"rnk" <= kMax)
    // first-occurrence doc per (source, word): one combine-enabled min
    val firstDoc = docs
      .select($"source", $"doc_id", explode(array_distinct($"ws")).as("w"))
      .groupBy($"source", $"w")
      .agg(min($"doc_id").as("first_doc"))
      .groupBy($"source", $"first_doc")
      .agg(count(lit(1)).as("n_new"))
    val perRank = ranked
      .join(firstDoc,
        $"doc_id" === $"first_doc" && ranked("source") === firstDoc("source"),
        "left")
      .select(ranked("source"), $"rnk", $"n_tok",
        coalesce($"n_new", lit(0L)).as("n_new"))
    val cps = VocabCheckpoints.map(c => lit(c)).toArray
    perRank
      .crossJoin(broadcast(
        s.range(1).select(explode(array(cps: _*)).as("checkpoint"))))
      .filter($"rnk" <= $"checkpoint")
      .groupBy($"source", $"checkpoint")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("cum_tokens"),
        sum($"n_new").as("cum_distinct"))
      .select($"source", $"checkpoint", $"n_docs", $"cum_tokens",
        $"cum_distinct",
        ($"cum_distinct".cast("double") / $"cum_tokens".cast("double"))
          .as("type_token_ratio"))
      .orderBy($"source", $"checkpoint")
  }

  val queries: Map[String, Q] = Map(
    "t29_vocab_growth" -> (t29VocabGrowth _),
    "t26_importance_resample" -> (t26ImportanceResample _),
    "t24_gopher_rules" -> (t24GopherRules _),
    "t23_dsir" -> (t23Dsir _),
    "t22_keywords" -> (t22Keywords _),
    "t21_bucket_sample" -> (t21BucketSample _),
    "t20_quality_buckets" -> (t20QualityBuckets _),
    "t19_topk_weighted" -> (t19TopkWeighted _),
    "t18_diversity" -> (t18Diversity _),
    "t15_pii_redact" -> (t15PiiRedact _),
    "t14_unigram_lm" -> (t14UnigramLm _),
    "t13_approx_topk" -> (t13ApproxTopk _),
    "t8_contamination" -> (t8Contamination _),
    "t17_bloom_decontam" -> (t17BloomDecontam _),
    "t9_repetition" -> (t9Repetition _),
    "t12_repetition_family" -> (t12RepetitionFamily _),
    "t10_seq_pack" -> (t10SeqPack _),
    "t11_bm25" -> (t11Bm25 _),
    "t28_tokenizer_fertility" -> (t28TokenizerFertility _),
    "t27_novelty" -> (t27Novelty _),
    "t25_mix_report" -> (t25MixReport _),
    "t1_tokens" -> (t1Tokens _),
    "t16_token_budget" -> (t16TokenBudget _),
    "t2_langid" -> (t2Langid _),
    "t3_quality" -> (t3Quality _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_winnow" -> (t5Winnow _),
    "t6_topk_ngrams" -> (t6TopkNgrams _),
    "t7_sample_split" -> (t7SampleSplit _),
  )

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private val scoreCols = profiles.map { case (l, ws) =>
    s"len(list_filter(t, x -> x IN ${sqlList(ws)})) AS s_$l"
  }.mkString(", ")

  private val predCase = "CASE " + profiles.map { case (l, _) =>
    s"WHEN s_$l = m THEN '$l'"
  }.mkString(" ") + " END"

  /** t5's DuckDB oracle rebuilds winnowing from the definition: k-gram
    * rolling FNV hashes (signed-long view, [[graft.OracleSql]]), then
    * the DISTINCT selected values per document. Rightmost-tie
    * selection affects selected POSITIONS only, never values, so the
    * distinct selected set equals the distinct sliding-window minima
    * (global min when the doc has ≤ w k-grams) — which windowed SQL
    * expresses directly. */
  private val t5Oracle: String = {
    import graft.OracleSql._
    val k = WinnowK
    val w = WinnowW
    s"""WITH st AS (
         SELECT doc_id, text, unnest(range(1, len(text) - ${k - 2})) AS i
         FROM documents),
       pos AS (
         SELECT doc_id, i, ${toSigned(fnvU(s"substr(text, i, $k)"))} AS h
         FROM st),
       wmn AS (
         SELECT doc_id, i, h,
                min(h) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin,
                count(*) OVER (PARTITION BY doc_id) AS n
         FROM pos),
       sel AS (
         SELECT DISTINCT doc_id, wmin AS fp FROM wmn WHERE n > $w AND i <= n - ${w - 1}
         UNION
         SELECT doc_id, min(h) AS fp FROM pos GROUP BY doc_id HAVING count(*) <= $w),
       rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 20),
       pr AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM sel a JOIN rare r ON a.fp = r.fp
                    JOIN sel b ON b.fp = a.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, n_shared FROM pr WHERE n_shared >= 3
       ORDER BY n_shared DESC, doc_a, doc_b"""
  }

  /** t11's DuckDB oracle — same fixed-order per-term sum, same single
    * IEEE ops, rational idf (see [[t11Bm25]]). */
  private val t11Oracle: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (term, i) =>
      s"CAST(len(list_filter(t, x -> x = '$term')) AS INT) AS tf_$i"
    }.mkString(", ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")
    // constants enter as CAST(... AS DOUBLE) so DuckDB performs the
    // SAME runtime IEEE ops as the Spark plan's Scala-folded doubles
    // (a bare 1.2 literal is a DuckDB DECIMAL — different rounding)
    val k1 = s"CAST($Bm25K1 AS DOUBLE)"
    val b = s"CAST($Bm25B AS DOUBLE)"
    val contribs = Bm25Terms.indices.map { i =>
      s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
          * (CAST(tf_$i AS DOUBLE) * ($k1 + 1.0))
          / (CAST(tf_$i AS DOUBLE) + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE) / avgdl))"""
    }.mkString(" + ")
    s"""WITH tk AS (
         SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
         FROM documents),
       docs AS (
         SELECT doc_id, CAST(len(t) AS INT) AS dl, $tfCols FROM tk),
       stats AS (
         SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfCols
         FROM docs),
       sc AS (
         SELECT doc_id, dl, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl,
                $contribs AS score
         FROM docs, stats),
       rk AS (
         SELECT doc_id, dl, score,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
         FROM sc)
       SELECT rnk, doc_id, dl, score FROM rk WHERE rnk <= $Bm25TopK ORDER BY rnk"""
  }

  /** t23's oracle body — hoisted so t26's resampling pass can replay
    * the weight computation verbatim. */
  private val T23Sql: String =
      s"""WITH tk AS (
           SELECT doc_id, lang,
                  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         tk2 AS (SELECT * FROM tk WHERE len(t) >= 2),
         fe AS (
           SELECT doc_id, lang,
                  list_concat(
                    list_transform(t, w ->
                      CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % $DsirBuckets),
                    list_transform(range(1, len(t)), i ->
                      CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15) AS BIGINT)
                        % $DsirBuckets)) AS f
           FROM tk2),
         u AS (SELECT doc_id, lang, unnest(f) AS h FROM fe),
         p AS (SELECT doc_id, lang, h, CAST(count(*) AS BIGINT) AS c
               FROM u GROUP BY 1, 2, 3),
         st AS (
           SELECT h, CAST(sum(c) AS BIGINT) AS cnt_r,
                  CAST(sum(CASE WHEN lang = '$DsirTarget' THEN c ELSE 0 END) AS BIGINT) AS cnt_t
           FROM p GROUP BY 1),
         tot AS (
           SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
                  CAST(sum(cnt_t) AS BIGINT) AS tot_t
           FROM st),
         term AS (
           SELECT p.doc_id, p.h, p.c,
                  CAST(p.c AS DOUBLE) *
                    ((CAST(st.cnt_t + 1 AS DOUBLE) * CAST(tot.tot_r + $DsirBuckets AS DOUBLE))
                     / (CAST(st.cnt_r + 1 AS DOUBLE) * CAST(tot.tot_t + $DsirBuckets AS DOUBLE)))
                    AS term
           FROM p JOIN st USING (h) CROSS JOIN tot),
         sc AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  list_sum(list_transform(
                    list(struct_pack(h := h, term := term) ORDER BY h),
                    x -> x.term)) AS score_sum
           FROM term GROUP BY 1)
         SELECT doc_id, n_feats, n_distinct,
                score_sum / CAST(n_feats AS DOUBLE) AS dsir_weight
         FROM sc ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    // t29: same tokenization, same min-doc first occurrence, same
    // rank-≤-checkpoint triangular sums; all integers, one divide.
    "t29_vocab_growth" -> {
      val cpList = VocabCheckpoints.mkString(", ")
      s"""WITH dt AS (
           SELECT source, doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         rk AS (
           SELECT source, doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
           FROM dt QUALIFY rnk <= ${VocabCheckpoints.max}),
         fw AS (
           SELECT source, w, min(doc_id) AS first_doc
           FROM (SELECT source, doc_id, unnest(list_distinct(ws)) AS w FROM dt)
           GROUP BY 1, 2),
         nn AS (
           SELECT source, first_doc, CAST(count(*) AS BIGINT) AS n_new
           FROM fw GROUP BY 1, 2),
         pr AS (
           SELECT rk.source, rnk, n_tok,
                  coalesce(n_new, CAST(0 AS BIGINT)) AS n_new
           FROM rk LEFT JOIN nn
             ON rk.doc_id = nn.first_doc AND rk.source = nn.source),
         cp AS (SELECT unnest([$cpList]) AS checkpoint)
         SELECT source, checkpoint,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS cum_tokens,
                CAST(sum(n_new) AS BIGINT) AS cum_distinct,
                CAST(sum(n_new) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE) AS type_token_ratio
         FROM pr, cp WHERE rnk <= checkpoint
         GROUP BY 1, 2 ORDER BY source, checkpoint"""
    },
    // t26: t23's weight pipeline replayed verbatim, the same
    // 60-bit-hash uniform (integer→double conversion is correctly
    // rounded on both engines, the 2^60 divide exact), the same
    // min(1, α·w) acceptance, the same 1e-6 floor-quantized int64
    // weight sums (order-independent — exact on both engines).
    "t26_importance_resample" ->
      s"""WITH w AS ($T23Sql),
         dv AS (
           SELECT doc_id, lang,
                  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
                  CAST(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS DOUBLE)
                    / 1152921504606846976.0 AS u
           FROM documents),
         j AS (
           SELECT dv.doc_id, dv.lang, dv.n_tok, dv.u, w.dsir_weight,
                  least(1.0, $DsirAlpha * w.dsir_weight) AS p
           FROM dv JOIN w ON dv.doc_id = w.doc_id),
         k AS (SELECT *, u < p AS keep FROM j)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
                CASE WHEN sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0 THEN
                  CAST(sum(CASE WHEN keep THEN CAST(floor(dsir_weight * 1000000.0) AS BIGINT) ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                  / 1000000.0
                END AS mean_kept_weight
         FROM k GROUP BY 1 ORDER BY lang""",
    // t24: identical token split, the same all-integer rule
    // comparisons; the only IEEE op is the display mean divide.
    "t24_gopher_rules" ->
      s"""WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
           FROM documents),
         c AS (
           SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS n_words,
                  CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS n_chars,
                  CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
                  CAST(len(list_filter(t, x -> regexp_matches(x, '^[#…]+$$'))) AS BIGINT) AS n_sym,
                  CAST(len(list_intersect(list_distinct(t), [${GopherStops.map(w => s"'$w'").mkString(",")}])) AS BIGINT) AS n_stops
           FROM tk)
         SELECT doc_id, n_words, n_alpha, n_stops,
                CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
                (n_words >= 50 AND n_words <= 2500) AS ok_count,
                (n_chars >= n_words * 3 AND n_chars <= n_words * 10) AS ok_len,
                (n_alpha * 5 >= n_words * 4) AS ok_alpha,
                (n_sym * 10 <= n_words) AS ok_sym,
                (n_stops >= 2) AS ok_stops,
                (n_words >= 50 AND n_words <= 2500 AND
                 n_chars >= n_words * 3 AND n_chars <= n_words * 10 AND
                 n_alpha * 5 >= n_words * 4 AND
                 n_sym * 10 <= n_words AND n_stops >= 2) AS keep
         FROM c ORDER BY doc_id""",
    // t23: same 1024-bucket hashed features, same smoothed-ratio
    // arithmetic (three IEEE ops per feature), same h-sorted addition
    // chain (list ORDER BY h → left-fold sum, matching Spark's
    // sort_array fold; 0.0 + x == x so the inits agree).
    "t23_dsir" -> T23Sql,
    // t22: same (word, tf) multiplicities via unnest+GROUP BY, same
    // rational idf — the score is the identical divide+multiply tree,
    // the rank the identical (score DESC, word) order.
    "t22_keywords" ->
      s"""WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         u AS (SELECT doc_id, unnest(t) AS word FROM tk),
         tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
                FROM u GROUP BY 1, 2),
         df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
         sc AS (
           SELECT f.doc_id, f.word, f.tf, d.df,
                  CAST(f.tf AS DOUBLE)
                    * ((CAST(n.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                       / (CAST(d.df AS DOUBLE) + 0.5)) AS score
           FROM tf f JOIN df d USING (word) CROSS JOIN n),
         rk AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, word) AS BIGINT) AS rnk
           FROM sc)
         SELECT doc_id, rnk, word, tf, df, score
         FROM rk WHERE rnk <= $KeywordTopK ORDER BY doc_id, rnk""",
    // t18: rebuilds the same multiplicities via unnest+GROUP BY
    // (the shuffle is DuckDB's problem); graded columns are the same
    // single divisions of exact int64s.
    "t18_diversity" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
           FROM documents),
         w AS (SELECT doc_id, unnest(t) AS w FROM tk),
         c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_distinct,
                  CAST(max(c) AS BIGINT) AS top_count,
                  CAST(sum(c*(c-1)) AS BIGINT) AS pairs
           FROM c GROUP BY 1)
         SELECT doc_id, n_tokens, n_distinct,
                CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
                CASE WHEN n_tokens > 1
                     THEN CAST(pairs AS DOUBLE) /
                          CAST(n_tokens * (n_tokens - 1) AS DOUBLE) END AS simpson,
                CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_frac
         FROM agg ORDER BY doc_id""",
    "t5_winnow" -> t5Oracle,
    "t11_bm25" -> t11Oracle,
    "t12_repetition_family" ->
      s"""WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         gr AS (
           SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                  list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
                  list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
           FROM tk WHERE len(t) >= 3),
         u2 AS (SELECT doc_id, unnest(g2) AS g FROM gr),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM u2 GROUP BY 1, 2),
         a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total2,
                       count(*) AS distinct2, CAST(max(c) AS BIGINT) AS top2
                FROM c2 GROUP BY 1),
         u3 AS (SELECT doc_id, unnest(g3) AS g FROM gr),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM u3 GROUP BY 1, 2),
         a3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total3,
                       count(*) AS distinct3, CAST(max(c) AS BIGINT) AS top3
                FROM c3 GROUP BY 1),
         f AS (
           SELECT gr.doc_id, gr.n_tokens,
                  CAST(1 AS DOUBLE) - CAST(distinct2 AS DOUBLE) / total2 AS dup2_frac,
                  CAST(top2 AS DOUBLE) / total2 AS top2_frac,
                  CAST(1 AS DOUBLE) - CAST(distinct3 AS DOUBLE) / total3 AS dup3_frac,
                  CAST(top3 AS DOUBLE) / total3 AS top3_frac
           FROM gr JOIN a2 USING (doc_id) JOIN a3 USING (doc_id))
         SELECT doc_id, n_tokens, dup2_frac, top2_frac, dup3_frac, top3_frac,
                (dup2_frac <= $Dup2Max AND dup3_frac <= $Dup3Max AND
                 top2_frac <= $Top2Max AND top3_frac <= $Top3Max) AS keep
         FROM f ORDER BY doc_id""",
    "t9_repetition" ->
      s"""WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         bg AS (
           SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                  list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
           FROM tk WHERE len(t) >= 2)
         SELECT doc_id, n_tokens,
                CAST(len(bg) AS INT) AS n_bigrams,
                CAST(len(list_distinct(bg)) AS INT) AS n_distinct,
                CAST(1 AS DOUBLE) - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_ratio,
                (CAST(1 AS DOUBLE) - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)) <= $RepetitionMax AS keep
         FROM bg ORDER BY doc_id""",
    "t10_seq_pack" ->
      s"""WITH tk AS (
           SELECT doc_id, source, doc_id // $ShardDocs AS shard,
                  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, shard, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS tok_start
           FROM tk)
         SELECT doc_id, source, shard, n_tokens, tok_start,
                CAST(tok_start // $PackLen AS BIGINT) AS seq_id,
                CAST(tok_start % $PackLen AS BIGINT) AS seq_offset
         FROM c ORDER BY source, shard, doc_id""",
    // t15: same sequential chain; RE2 and Java regex agree on these
    // lookaround-free patterns, and DuckDB needs the 'g' flag to match
    // Spark's replace-all semantics.
    "t15_pii_redact" ->
      s"""WITH a AS (
           SELECT doc_id, text,
                  CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS INT) AS n_emails,
                  regexp_replace(text, '$PiiEmailRe', '<EMAIL>', 'g') AS t1
           FROM documents),
         b AS (
           SELECT doc_id, n_emails,
                  CAST(len(regexp_extract_all(t1, '$PiiIpRe')) AS INT) AS n_ips,
                  regexp_replace(t1, '$PiiIpRe', '<IP>', 'g') AS t2
           FROM a),
         c AS (
           SELECT doc_id, n_emails, n_ips,
                  CAST(len(regexp_extract_all(t2, '$PiiPhoneRe')) AS INT) AS n_phones,
                  regexp_replace(t2, '$PiiPhoneRe', '<PHONE>', 'g') AS redacted
           FROM b)
         SELECT doc_id, n_emails, n_ips, n_phones, redacted,
                (n_emails + n_ips + n_phones) = 0 AS clean
         FROM c ORDER BY doc_id""",
    // t14: graded columns are single divisions of exact int64 sums.
    "t14_unigram_lm" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS w
           FROM documents),
         dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
         cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dw GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
         vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT $TopVocab),
         per AS (
           SELECT dw.doc_id, CAST(sum(dw.k) AS BIGINT) AS n_tokens,
                  CAST(sum(dw.k * cnt.c) AS BIGINT) AS sum_cnt,
                  CAST(sum(CASE WHEN v.w IS NULL THEN dw.k ELSE 0 END) AS BIGINT) AS n_oov
           FROM dw JOIN cnt ON dw.w = cnt.w LEFT JOIN vocab v ON dw.w = v.w
           GROUP BY 1)
         SELECT doc_id, n_tokens,
                CAST(sum_cnt AS DOUBLE) / CAST(n_tokens * total AS DOUBLE) AS mean_prob,
                CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_frac,
                (CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)) <= $OovMax AS keep
         FROM per, tot ORDER BY doc_id""",
    // t20: t14's exact mean_prob CTEs, global row_number over the
    // same (mean_prob DESC, doc_id) order, same integer tertile rule.
    "t20_quality_buckets" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS w
           FROM documents),
         dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
         cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dw GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
         per AS (
           SELECT dw.doc_id, CAST(sum(dw.k) AS BIGINT) AS n_tokens,
                  CAST(sum(dw.k * cnt.c) AS BIGINT) AS sum_cnt
           FROM dw JOIN cnt ON dw.w = cnt.w
           GROUP BY 1),
         scored AS (
           SELECT doc_id, n_tokens,
                  CAST(sum_cnt AS DOUBLE) / CAST(n_tokens * total AS DOUBLE) AS mean_prob
           FROM per, tot),
         r AS (
           SELECT doc_id, n_tokens, mean_prob,
                  row_number() OVER (ORDER BY mean_prob DESC, doc_id) AS rank,
                  count(*) OVER () AS n
           FROM scored)
         SELECT doc_id, n_tokens, mean_prob, CAST(rank AS BIGINT) AS rank,
                CASE WHEN rank*3 <= n THEN 'head'
                     WHEN rank*3 <= n*2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""",
    // t21: t20's rank CTEs + the salted-md5 per-mille draw (t7's hex
    // conversion) and the exact integer rate rule.
    "t21_bucket_sample" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS w
           FROM documents),
         dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM tok GROUP BY 1, 2),
         cnt AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dw GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
         per AS (
           SELECT dw.doc_id, CAST(sum(dw.k) AS BIGINT) AS n_tokens,
                  CAST(sum(dw.k * cnt.c) AS BIGINT) AS sum_cnt
           FROM dw JOIN cnt ON dw.w = cnt.w
           GROUP BY 1),
         scored AS (
           SELECT doc_id, n_tokens,
                  CAST(sum_cnt AS DOUBLE) / CAST(n_tokens * total AS DOUBLE) AS mean_prob
           FROM per, tot),
         r AS (
           SELECT doc_id, n_tokens, mean_prob,
                  row_number() OVER (ORDER BY mean_prob DESC, doc_id) AS rank,
                  count(*) OVER () AS n
           FROM scored),
         bk AS (
           SELECT doc_id, n_tokens, mean_prob, CAST(rank AS BIGINT) AS rank,
                  CASE WHEN rank*3 <= n THEN 'head'
                       WHEN rank*3 <= n*2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
                  md5('t21:' || CAST(doc_id AS VARCHAR)) AS h
           FROM r),
         dd AS (
           SELECT doc_id, n_tokens, mean_prob, rank, bucket,
                  CAST(($hexBucketSql) % 1000 AS BIGINT) AS draw
           FROM bk)
         SELECT doc_id, n_tokens, mean_prob, rank, bucket, draw
         FROM dd
         WHERE draw < CASE bucket WHEN 'head' THEN 1000
                                  WHEN 'middle' THEN 500 ELSE 100 END
         ORDER BY doc_id""",
    // t16: same content-addressed per-source cumulative gate.
    "t16_token_budget" ->
      s"""WITH x AS (
           SELECT source, doc_id, md5(text) AS h,
                  CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT *, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
           FROM x)
         SELECT source,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens_total,
                CAST(sum(CASE WHEN cum_tok <= $TokenBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN cum_tok <= $TokenBudget THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
         FROM c GROUP BY 1 ORDER BY 1""",
    // t28: same word/subword/char counts, integer sums, one divide
    // per ratio.
    "t28_tokenizer_fertility" ->
      """WITH b AS (
           SELECT lang,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS n_words,
                  CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_sub,
                  CAST(len(text) AS BIGINT) AS n_chars
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_words) AS BIGINT) AS words,
                CAST(sum(n_sub) AS BIGINT) AS subtokens,
                CAST(sum(n_sub) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
                  AS fertility,
                CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE)
                  AS chars_per_subtoken
         FROM b GROUP BY 1 ORDER BY lang""",
    // t27: same 60-bit gram hashes (d11's formula), same min-doc
    // first-seen rule, integer counts + one divide.
    "t27_novelty" ->
      s"""WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(range(1, len(t) - ${NoveltyN - 2}), i ->
                    CAST('0x' || substr(md5(array_to_string(t[i:i+${NoveltyN - 1}], ' ')), 1, 15) AS BIGINT)))) AS gh
           FROM tok WHERE len(t) >= $NoveltyN),
         f AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY 1)
         SELECT g.doc_id,
                CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS novelty
         FROM g JOIN f USING (gh) GROUP BY 1 ORDER BY doc_id""",
    // t25: same token counts, same integer sums, one divide per ratio.
    "t25_mix_report" ->
      """WITH b AS (
           SELECT lang, source,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents),
         g AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS tokens
           FROM b GROUP BY 1, 2),
         tot AS (
           SELECT CAST(sum(tokens) AS BIGINT) AS tok_total,
                  CAST(count(*) AS BIGINT) AS n_groups
           FROM g)
         SELECT lang, source, n_docs, tokens,
                CAST(tokens AS DOUBLE) / CAST(tok_total AS DOUBLE) AS corpus_share,
                CAST(tok_total AS DOUBLE) / CAST(n_groups * tokens AS DOUBLE)
                  AS uniform_factor
         FROM g CROSS JOIN tot ORDER BY lang, source""",
    "t1_tokens" ->
      """WITH tk AS (
           SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
           FROM documents)
         SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                CAST(len(list_distinct(t)) AS INT) AS n_distinct,
                CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS sum_len,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_subtokens,
                CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t) AS avg_token_len
         FROM tk ORDER BY doc_id""",
    "t2_langid" ->
      s"""WITH tk AS (
           SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
           FROM documents),
         sc AS (SELECT doc_id, lang, $scoreCols FROM tk),
         mx AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM sc),
         pr AS (SELECT lang, $predCase AS pred_lang FROM mx)
         SELECT lang, pred_lang, count(*) AS n_docs
         FROM pr GROUP BY 1, 2 ORDER BY lang, pred_lang""",
    "t3_quality" ->
      s"""WITH b AS (
           SELECT doc_id, CAST(len(text) AS INT) AS n_chars,
                  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t,
                  CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits,
                  CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct
           FROM documents),
         c AS (
           SELECT doc_id, n_chars, CAST(len(t) AS INT) AS n_tokens,
                  CAST(len(list_filter(t, x -> x IN ${sqlList(profiles.toMap.apply("en"))})) AS INT) AS n_stop,
                  n_digits, n_punct
           FROM b)
         SELECT doc_id, n_chars, n_tokens, n_stop,
                CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
                CAST(n_digits AS DOUBLE) / n_chars AS digit_ratio,
                CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
                (n_tokens >= $MinTokens AND n_tokens <= $MaxTokens
                 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.005) AS keep
         FROM c ORDER BY doc_id""",
    "t4_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
                count(*) AS n_docs, min(doc_id) AS min_doc_id
         FROM documents GROUP BY 1 ORDER BY fingerprint""",
    "t6_topk_ngrams" ->
      """WITH tk AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
           FROM documents),
         b AS (
           SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram
           FROM tk)
         SELECT ngram, count(*) AS n
         FROM b GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20""",
    // first-6-hex-digit value of md5(doc_id), mod 10 → split bucket
    "t7_sample_split" ->
      s"""WITH b AS (
           SELECT doc_id, len(text) AS len, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         s AS (
           SELECT len, ($hexBucketSql) % 10 AS bk FROM b),
         sp AS (
           SELECT len, CASE WHEN bk <= 7 THEN 'train' WHEN bk = 8 THEN 'val' ELSE 'test' END AS split
           FROM s)
         SELECT split, count(*) AS n_docs,
                CAST(sum(len) AS BIGINT) AS sum_chars,
                CAST(sum(len) AS DOUBLE) / count(*) AS avg_chars
         FROM sp GROUP BY 1 ORDER BY split""",
    "t8_contamination" ->
      s"""WITH b AS (
           SELECT doc_id, lower(text) AS text, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         s AS (
           SELECT doc_id, text, ($hexBucketSql) % 10 AS bk FROM b),
         tk AS (
           SELECT doc_id,
                  CASE WHEN bk <= 7 THEN 'train' WHEN bk = 8 THEN 'val' ELSE 'test' END AS split,
                  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
           FROM s),
         g AS (
           SELECT doc_id, split,
                  unnest(list_transform(range(1, len(t) - ${ContamN - 2}),
                         i -> array_to_string(t[i:i+${ContamN - 1}], ' '))) AS ng
           FROM tk WHERE len(t) >= $ContamN),
         tr AS (SELECT DISTINCT ng FROM g WHERE split = 'train'),
         te AS (SELECT DISTINCT doc_id, ng FROM g WHERE split = 'test'),
         tot AS (SELECT doc_id, count(*) AS n_ngrams FROM te GROUP BY 1),
         ct AS (SELECT doc_id, count(*) AS n_contaminated
                FROM te JOIN tr USING (ng) GROUP BY 1)
         SELECT tot.doc_id, tot.n_ngrams,
                COALESCE(ct.n_contaminated, 0) AS n_contaminated,
                CAST(COALESCE(ct.n_contaminated, 0) AS DOUBLE) / tot.n_ngrams AS contamination_ratio
         FROM tot LEFT JOIN ct USING (doc_id) ORDER BY doc_id""",
  )

  /** SQL for the integer value of the first 6 hex digits of column `h`
    * (shared by the t7/t8 oracles — mirrors [[bucket10]]). */
  private lazy val hexBucketSql: String = (1 to 6).map { i =>
    val w = math.pow(16, 6 - i).toLong
    s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $w"
  }.mkString(" + ")
}
