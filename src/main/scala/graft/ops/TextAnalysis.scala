package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.FnvHash

/** Text analysis over `documents` (SURVEY.md §2, t01–t05): language ID,
  * quality scoring, token counting, content fingerprinting, corpus n-gram
  * profiling. All single-pass, codegen'd column expressions — the shapes
  * a 100 TB pre-training filter pipeline runs per document.
  */
object TextAnalysis {
  private type Q = (SparkSession, String) => DataFrame

  private def norm(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))
  private def toks(c: Column): Column = split(lower(norm(c)), " ")

  /** Stopword-profile hit count. */
  private def hits(t: Column, words: Seq[String]): Column =
    size(filter(t, w => w.isin(words.map(lit(_)): _*)))

  // language marker profiles over the corpus vocabulary (synthetic text;
  // with a real corpus these are per-language stopword lists)
  private val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("data", "group", "hash"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("query", "row", "scan"),
    "fr" -> Seq("join", "merge", "sort"),
    "zh" -> Seq("table", "column", "stream"))

  // t01: n-gram/stopword-profile language ID — argmax profile hits with
  // deterministic lexicographic tie-break.
  val t01_langid: Q = (s, d) => {
    val withHits = Profiles.foldLeft(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), toks(col("text")).as("t"))) {
      case (df, (l, ws)) => df.withColumn(s"n_$l", hits(col("t"), ws))
    }
    val langs = Profiles.map(_._1)
    val predicted = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"n_$l") >= col(s"n_$o")).reduce(_ && _)
      when(isMax, lit(l)).otherwise(rest)
    }
    withHits
      .withColumn("predicted_lang", predicted)
      .withColumn("correct", (col("predicted_lang") === col("lang")).cast("int"))
      .select(Seq(col("doc_id"), col("lang")) ++
        langs.map(l => col(s"n_$l")) ++
        Seq(col("predicted_lang"), col("correct")): _*)
      .orderBy("doc_id")
  }

  // t02: quality scoring from length/stopword/punctuation ratios.
  val t02_quality: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .withColumn("len_chars", length(col("text")))
      .withColumn("n_tokens", size(toks(col("text"))))
      .withColumn("stop_hits", hits(toks(col("text")), Seq("the", "a", "of")))
      .withColumn("punct_chars",
        length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("score", round(
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          (col("stop_hits") / col("n_tokens")) * 0.3 +
          (lit(1.0) - col("punct_chars") / col("len_chars")) * 0.2, 4))
      .drop("text")
      .orderBy("doc_id")

  // t10: quality-stratified corpus sampling — the curation step that
  // downsamples low-quality documents into a training mix. The keep
  // decision is a pure hash of doc_id (md5 hex → percent), NOT an RNG
  // sample: the same rows are kept on any cluster, any partition layout,
  // any rerun — shuffle-free, trivially resumable, and exactly
  // reproducible by the DuckDB oracle (a seeded sampleBy would be none
  // of those). Buckets from the t02 score: high keeps all, mid 50%,
  // low 20%.
  val t10_quality_sample: Q = (s, d) => {
    val pct = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long"), lit(100L))
    t02_quality(s, d)
      .withColumn("bucket",
        when(col("score") >= 0.8, "high")
          .when(col("score") >= 0.6, "mid")
          .otherwise("low"))
      .withColumn("rate",
        when(col("bucket") === "high", 100L)
          .when(col("bucket") === "mid", 50L).otherwise(20L))
      .withColumn("keep", pct < col("rate"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        round(avg("score"), 4).as("avg_score"),
        sum(when(col("keep"), col("n_tokens"))).as("kept_tokens"))
      .orderBy("bucket")
  }

  // t11 (rows-only; spec: CMS one-sided error bound + determinism):
  // heavy hitters via Count-Min Sketch — frequent-token counts WITHOUT
  // an exact token groupBy. At 100 TB the exact vocabulary aggregation
  // shuffles the full token universe; the CMS is a fixed-size mergeable
  // sketch (map-side partials, bytes through the shuffle) probed for
  // the candidates. The exact counts ride along as the ground truth
  // column (this corpus is small enough), mirroring the q09/q32 and
  // q35/q38 exact/approx twin pattern.
  val t11_heavy_hitters: Q = (s, d) => {
    import s.implicits._
    val tokens = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("tok"))
    // ONE pass builds the sketch (eps=0.001, conf=0.99, fixed seed —
    // fully deterministic); it lands on the driver as a few KB.
    val cmsBytes = tokens
      .agg(count_min_sketch(col("tok"), lit(0.001), lit(0.99), lit(42)).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(cmsBytes))
    val top = tokens.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(20)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), cms.estimateCount(r.getString(0))))
    s.createDataset(top.toSeq)
      .toDF("tok", "n_exact", "n_est")
      .orderBy(col("n_exact").desc, col("tok"))
  }

  // s20: STREAMING heavy hitters — t11's streaming twin (the 8th
  // batch↔streaming pair): the corpus token-frequency table accumulates
  // per micro-batch under Structured Streaming's file source. Every
  // document arrives exactly once, so per-batch exact token counts SUM
  // into the corpus-global frequency (s19's fold discipline:
  // localCheckpoint bounds the lineage, state rows are (tok, n) —
  // Heaps-law-bounded vocabulary, never corpus-sized). The snapshot
  // closes over the FINAL drained state and cuts the exact top-20; the
  // oracle is the batch token-count SQL, so the hash match proves the
  // accumulated state composes seam-free. At 100 TB the exact state
  // swaps for t11's Count-Min sketch in the SAME fold — sketches are
  // mergeable, the foreachBatch shape is unchanged.
  val s20_streaming_topk: Q = (s, d) => {
    val B = 3
    val docs = Tables.documents(s, d).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_s20_")
    try {
      def land(b: Int): Unit =
        graft.sources.SourceSinks.landSingleParquet(
          docs.filter(col("doc_id") % B === b),
          dir.resolve(f"batch_$b%02d.parquet"))
      var freq: DataFrame = null
      val onMicroBatch: (DataFrame, Long) => Unit = (batchDf, _) =>
        if (!batchDf.isEmpty) {
          val bf = batchDf.select(explode(toks(col("text"))).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("n"))
          freq = (if (freq == null) bf
            else freq.unionByName(bf).groupBy("tok").agg(sum("n").as("n")))
            .localCheckpoint(true)
        }
      val stream = s.readStream.schema(docs.schema).parquet(dir.toString)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch(onMicroBatch)
        .queryName(s"graft_s20_${System.nanoTime()}").start()
      try {
        for (b <- 0 until B) { land(b); q.processAllAvailable() }
      } finally q.stop()
      require(freq != null, "stream delivered no batches")
      freq.orderBy(col("n").desc, col("tok")).limit(20)
    } finally {
      graft.sources.SourceSinks.deleteDir(dir)
      docs.unpersist()
      ()
    }
  }

  // t03: token counting per source — whitespace tokens plus a BPE-ish
  // regex segmentation (letter runs / digit runs / single symbols).
  val t03_token_count: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        size(toks(col("text"))).as("n_ws"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("n_bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("total_ws_tokens"),
        sum("n_bpe").as("total_bpe_tokens"),
        round(avg("n_ws"), 4).as("avg_ws_tokens"))
      .orderBy("source")

  // t04 (rows-only): FNV-1a 64-bit content fingerprint via the custom
  // codegen'd Catalyst expression.
  val t04_doc_fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        FnvHash.fnv_fingerprint(norm(col("text"))).as("fingerprint"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  // t05: corpus character-3-gram frequency profile, top 50.
  val t05_ngram_profile: Q = (s, d) => {
    val n = norm(lower(col("text")))
    Tables.documents(s, d)
      .select(explode(
        when(length(n) >= 3,
          transform(sequence(lit(1), length(n) - 2), i => n.substr(i, lit(3))))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(50)
  }

  // t06: fixed-size token chunking with overlap (window 50, stride 40) —
  // the LLM-training prep step that splits documents into training
  // sequences. One row per chunk with a content hash; chunk count is
  // ceil((n-50)/40)+1. The token array is materialized behind an
  // exchange before the per-chunk lambdas reference it (lambda
  // re-evaluation discipline, see Dedup d03).
  val t06_chunking: Q = (s, d) => {
    val W = 50; val S = 40
    val nChunks = when(size(col("t")) <= W, lit(1))
      .otherwise(ceil((size(col("t")) - W).cast("double") / S).cast("int") + 1)
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .repartition(col("doc_id")) // materialize tokens once
      .select(col("doc_id"), size(col("t")).as("n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"), col("t"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        least(lit(W), col("n") - col("chunk_idx") * S).cast("bigint").as("n_toks"),
        md5(concat_ws(" ", slice(col("t"), col("chunk_idx") * S + 1, lit(W)))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // t07: corpus vocabulary profile — token frequencies with Zipf rank,
  // top 30. Explode→agg is the one shuffle; limit(30) plans as a
  // distributed TakeOrderedAndProject (per-partition heaps, driver
  // merge of 30-row tops), and ONLY THEN does the row_number window
  // run — over the already-materialized 30 rows, a constant-size
  // single partition at any corpus scale (t34 ranks the FULL vocab
  // and needs the bucket machinery; this lane does not).
  val t07_vocab: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(30)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("tok"))).cast("int"))
      .select("rank", "tok", "n")

  // t08: TF-IDF top-5 terms per document — the corpus term-weighting
  // pass. tf and df are two aggregations over the exploded token table;
  // the df side is vocabulary-sized (small) so Catalyst broadcasts it
  // into the scoring join; the per-doc top-5 is one window on doc_id.
  // Scores round(4) before ranking so both engines rank identical
  // values (ln() may differ in the last ulp across libm impls).
  val t08_tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tokens.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  // PII regexes — RE2-compatible (no backrefs/lookaround) so the same
  // pattern string runs in Spark's java.util.regex and DuckDB's RE2.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  // t09: PII scrubbing — the redaction pass a training corpus runs before
  // release (emails / phone numbers / IPv4s → fixed tokens). The synthetic
  // corpus contains no PII, so each doc is first augmented with
  // deterministic doc_id-derived PII (identically in the oracle SQL), which
  // makes the redaction *observable*: counts are exact and the scrubbed
  // hash proves byte-identical replacement. Single codegen'd projection —
  // no shuffle at all until the final presentation sort.
  val t09_pii_scrub: Q = (s, d) => {
    val pii = concat(col("text"),
      lit(" contact u"), col("doc_id"), lit("@example.com tel 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" ip 10."),
      (col("doc_id") % 256).cast("string"), lit(".0."),
      (col("doc_id") % 100).cast("string"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      pii, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"), Ipv4Re, "[IP]")
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(pii, lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(pii, lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(pii, lit(Ipv4Re), lit(0))).as("n_ips"),
        (size(regexp_extract_all(scrubbed, lit(EmailRe), lit(0)))
          + size(regexp_extract_all(scrubbed, lit(PhoneRe), lit(0)))
          + size(regexp_extract_all(scrubbed, lit(Ipv4Re), lit(0)))).as("pii_left"),
        (length(pii) - length(scrubbed)).as("chars_redacted"),
        md5(scrubbed).as("clean_hash"))
      .orderBy("doc_id")
  }

  // t12: repetition scoring (the Gopher/MassiveText repetition filters,
  // adapted to single-line docs): duplicate word-2-gram fraction and the
  // mass of the single most repeated 2-gram. Shape: posexplode tokens →
  // lead() per doc for bigrams → two keyed aggregations — all codegen'd,
  // ONE shuffle on doc_id (the window and both aggs share partitioning),
  // no higher-order-function lambdas touching non-attribute children
  // (the d03 re-evaluation trap).
  val t12_repetition: Q = (s, d) => {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("next_tok", lead(col("tok"), 1).over(w))
      .filter(col("next_tok").isNotNull)
      .select(col("doc_id"), concat(col("tok"), lit(" "), col("next_tok")).as("bg"))
    bigrams
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum("cnt").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max("cnt").as("top_count"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        round(lit(1) - col("n_distinct_bigrams") / col("n_bigrams").cast("double"), 4)
          .as("dup_bigram_frac"),
        round(col("top_count") / col("n_bigrams").cast("double"), 4)
          .as("top_bigram_frac"))
      .withColumn("repetitive", col("dup_bigram_frac") > 0.2)
      .orderBy("doc_id")
  }

  // t13: training-mix construction — per-source sampling WEIGHTS with
  // epoch upsampling (the data-mixture step of a pre-training run:
  // high-quality sources repeat >1 epoch, low-quality ones subsample).
  // rate% of 100 = full epochs for every doc; the fractional remainder
  // keeps docs by the same deterministic md5 percentile as t10 — so the
  // mix is reproducible on any cluster layout, no RNG. One narrow agg.
  val t13_source_mix: Q = (s, d) => {
    val idx = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val rate = when(idx % 4 === 0, 150L).when(idx % 4 === 1, 100L)
      .when(idx % 4 === 2, 50L).otherwise(20L)
    val pct = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long"), lit(100L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_tokens"))
      .withColumn("rate", rate)
      .withColumn("n_copies",
        (col("rate") / 100L).cast("long") + (pct < col("rate") % 100).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("rate")).as("rate"), // constant per source; min = deterministic
        sum("n_copies").as("n_emitted"),
        round(sum("n_copies") / count(lit(1)).cast("double"), 4).as("achieved_epochs"),
        sum(col("n_copies") * col("n_tokens")).as("emitted_tokens"))
      .orderBy("source")
  }

  // t14: fixed-length sequence PACKING — greedy contiguous packing of
  // documents into 2048-token training sequences, per source shard
  // (windowed cumsum PARTITIONED BY source: no global window, so the
  // shape survives 100×; global packing order is a non-goal — real
  // packers work per shard exactly like this). Reports per-shard
  // sequence counts and fill/waste — the tokens-per-step audit.
  val t14_sequence_packing: Q = (s, d) => {
    val SeqLen = 2048L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_idx", ((col("cum") - col("n_tokens")) / SeqLen).cast("long"))
      .groupBy(col("source"), col("seq_idx"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"),
        sum("n_docs").as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg(col("n_tokens") / lit(SeqLen.toDouble)), 4).as("avg_fill"))
      .orderBy("source")
  }

  // t15: corpus-level BOILERPLATE detection (the CCNet/RefinedWeb shape:
  // find segments repeated across many documents, then measure each
  // source's contamination by them). Stage 1 ranks word-3-grams by
  // DISTINCT-document frequency and keeps the top 50 — a (doc_id, gram)
  // dedup + one keyed agg, both map-side-combinable; the 50-row result
  // broadcasts. Stage 2 re-scans the grams and joins the broadcast top
  // list — no shuffle carries text, and at 100 TB the gram instances
  // would carry a 64-bit hash instead of the string (the d02 discipline);
  // the string is kept here so the DuckDB oracle can pin the exact grams.
  val t15_boilerplate: Q = (s, d) => {
    // grams via posexplode + lead (t12's pattern): the token array is
    // materialized ONCE per row and the 3-gram assembled from window
    // leads — a wordGrams lambda here would re-split the text per gram
    // position (the §4 lambda re-evaluation trap; measured 6× on this op)
    def grams(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      df.select(col("doc_id"), col("source"),
          posexplode(toks(col("text"))).as(Seq("pos", "tok")))
        .withColumn("t1", lead(col("tok"), 1).over(w))
        .withColumn("t2", lead(col("tok"), 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"), col("source"),
          concat_ws(" ", col("tok"), col("t1"), col("t2")).as("gram"))
    }
    val docs = Tables.documents(s, d)
    val top = grams(docs).select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram")).limit(50)
    grams(docs).join(broadcast(top.select("gram")), "gram")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("docs_hit"),
        count(lit(1)).as("boiler_hits"),
        countDistinct(col("gram")).as("grams_seen"))
      .orderBy("source")
  }

  // t16: unigram-LM QUALITY scoring — the CCNet/RedPajama perplexity
  // filter with the LM reduced to corpus unigram statistics: p(tok) =
  // count/total over the corpus, per-doc score = avg −ln p(tok). Two
  // keyed aggs (vocab, then per-doc) + one join; the vocab side is the
  // small relation (distinct tokens ≪ token instances — Zipf), so the
  // probability lookup broadcasts and the doc side stays one pass. At
  // 100 TB the vocab becomes a top-K table + OOV floor probability —
  // same plan, bounded broadcast.
  val t16_lm_score: Q = (s, d) => docNll(s, d).orderBy("doc_id")

  /** t16's per-document (doc_id, n_tokens, nll) engine, shared with the
    * t24 perplexity filter.
    */
  private def docNll(s: SparkSession, d: String): DataFrame = {
    val toksTable = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val vocab = toksTable.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
    val total = vocab.agg(sum("c").as("t"))
    toksTable
      .join(broadcast(vocab), "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c") / col("t"))), 4).as("nll"))
  }

  /** t24's keep rule: documents whose unigram cross-entropy lands in a
    * deci-nat bin strictly below this bound survive the filter (the
    * CCNet "head/middle" cut; the synthetic corpus distributes over
    * 3.3–3.7 nats, so 3.5 splits it).
    */
  val PerplexityKeepBelow = 3.5

  // t24: perplexity-BUCKET quality filter — the decision layer CCNet
  // stacks on t16's scoring: histogram the corpus by cross-entropy
  // (deci-nat bins) and keep the low-perplexity buckets. The doc→bin
  // assignment is pure column arithmetic over the t16 frame (no extra
  // shuffle beyond its per-doc agg); the report is one ≤dozens-of-bins
  // aggregation, so the filter costs t16 + ε at any corpus size. A
  // production pipeline would swap the corpus-unigram LM for a trained
  // KenLM — the plan shape (score → bin → bounded report) is identical.
  val t24_perplexity_filter: Q = (s, d) =>
    docNll(s, d)
      .withColumn("nll_bin", floor(col("nll") * 10) / lit(10.0))
      .groupBy(col("nll_bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(min("nll"), 4).as("min_nll"),
        round(max("nll"), 4).as("max_nll"))
      .withColumn("keep", col("nll_bin") < PerplexityKeepBelow)
      .orderBy("nll_bin")

  // t26: BIGRAM-LM scoring — t16's context upgrade: per-document mean
  // negative log of the corpus bigram MLE p(b|a) = c(a,b)/c(a·). The
  // model trains on the corpus itself so every bigram is observed and
  // the MLE needs no smoothing (exactly t16's unigram discipline one
  // order up). Shape: posexplode + lead per doc (t12's bigram engine —
  // no array-lambda re-evaluation trap), TWO keyed count aggregations
  // for the model, broadcast probability lookups, and the final per-doc
  // agg re-uses the window's doc_id partitioning. At 100 TB the bigram
  // table becomes top-K contexts + a backoff-to-unigram floor — same
  // plan, bounded broadcast (the KenLM serving shape).
  val t26_bigram_lm: Q = (s, d) => {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "a")))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), col("a"), col("b"))
    val counts = bg.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("double").as("cab"))
    val lefts = bg.groupBy(col("a"))
      .agg(count(lit(1)).cast("double").as("ca"))
    bg.join(broadcast(counts), Seq("a", "b"))
      .join(broadcast(lefts), Seq("a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("cab") / col("ca"))), 4).as("nll"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // t18/t19: REAL byte-pair-encoding tokenizer training + encoding — the
  // upgrade of t03's "BPE-ish regex" segmentation to the actual algorithm
  // (Sennrich et al. 2016). The scale design is the classic one: train
  // and encode over the WORD-FREQUENCY DICTIONARY, never the corpus. By
  // Heaps' law the dict is orders of magnitude smaller than the corpus,
  // every training iteration is one dict-sized pair-count aggregation,
  // and the only driver-side data is ONE argmax row per merge plus the
  // final merge table (≤ BpeMerges rows) — bounded metadata, the same
  // class as Similarity's centroid pulls.
  // ---------------------------------------------------------------------

  /** Merge operations t18 learns. A production tokenizer uses 30–100k;
    * the algorithm is scale-free in this constant — each merge costs one
    * dict aggregation regardless of corpus size.
    */
  val BpeMerges = 48

  private val EndOfWord = "</w>"

  /** (word, freq, syms) dictionary: corpus words with their frequency and
    * the initial symbol sequence (characters + end-of-word marker).
    */
  private[graft] def bpeDict(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        concat(filter(split(col("word"), ""), x => length(x) > 0),
          array(lit(EndOfWord))))

  /** Adjacent symbol pairs of a symbol array as (l, r) structs. */
  private def adjacentPairs(syms: Column): Column =
    zip_with(slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** One left-to-right non-overlapping merge pass of (a,b) → m over a
    * symbol array — the apply step of the training loop, as a native
    * fold expression (no UDF). `get` (not `element_at`) keeps the
    * empty-accumulator probe NULL-safe under ANSI mode.
    */
  private def mergePass(syms: Column, a: String, b: String, m: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
        .otherwise(concat(acc, array(x))))

  /** Training results are a pure function of the sf dir's documents, so
    * one train serves t18, t19, and repeated Verify/bench invocations.
    */
  private val trainedMerges =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, String, Long)]]

  /** Corpus-size statistic (no job) above which training stays fully
    * distributed; below it the Heaps-law-bounded dict collects to the
    * driver and trains in memory ([[bpeTrainLocal]]).
    */
  private val BpeLocalDictMaxBytes = 256L << 20

  /** Pick the training path from the relation's size statistic, the d03
    * discipline: a production vocab needs 30–100k merges, and the
    * distributed loop pays one dict-wide aggregation + driver round-trip
    * PER MERGE — 30–100k Spark jobs. The dict itself is Heaps-law
    * bounded (≪ corpus), so up to a corpus-bytes threshold the right
    * design is v07's driver-resident-model shape: ONE distributed dict
    * build, one bounded collect, in-memory exact training, merges
    * broadcast back. Past the threshold the executor-resident loop
    * remains the fallback. The spec pins local ≡ distributed ≡ the
    * independent reference trainer.
    */
  private[graft] def bpeTrain(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    trainedMerges.computeIfAbsent(d, _ => {
      val docsBytes = Tables.documents(s, d).queryExecution.optimizedPlan
        .stats.sizeInBytes
      if (docsBytes <= BpeLocalDictMaxBytes) {
        val dict = bpeDict(s, d).select("word", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        bpeTrainLocal(dict, BpeMerges)
      } else bpeTrainDistributed(s, d)
    })

  /** Driver-side EXACT trainer with incremental pair-count maintenance:
    * counts build once, then each merge updates them by the delta of the
    * words that actually contain the merged adjacency — identical output
    * to recount-from-scratch (the delta is exact), which the spec pins
    * against the independent reference trainer. Cost per merge is one
    * symbol scan over the dict + an argmax over live pairs, so a 1k-merge
    * vocab trains in seconds where the distributed loop would issue 1k
    * aggregation jobs (measured in the scale spec).
    */
  private[graft] def bpeTrainLocal(dict: Seq[(String, Long)],
      maxMerges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    var words: Array[(Vector[String], Long)] =
      dict.map { case (w, f) => (w.map(_.toString).toVector :+ EndOfWord, f) }.toArray
    val counts = mutable.Map.empty[(String, String), Long]
    for ((syms, f) <- words; i <- 0 until syms.length - 1) {
      val k = (syms(i), syms(i + 1))
      counts(k) = counts.getOrElse(k, 0L) + f
    }
    def localMergePass(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
          out += a + b; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.result()
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    // UTF-8 BYTE order, not Java String '<' (UTF-16 code units): the
    // distributed trainer's orderBy compares UTF8String binary, and the
    // two orders disagree for supplementary characters (U+10000+ sorts
    // below U+E000..U+FFFF in UTF-16 units) — a same-dataset vocab split
    // by the routing threshold must not depend on the path taken.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var rank = 1
    var done = false
    while (rank <= maxMerges && !done) {
      // argmax with the trainer's canonical tie-break: freq desc, then
      // lexicographic (l, r) in the distributed orderBy's binary order
      var best: ((String, String), Long) = (("", ""), -1L)
      counts.foreach { case (k, n) =>
        if (n > best._2 || (n == best._2 &&
            (utf8Lt(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
          best = (k, n)
      }
      if (best._2 < 2L) done = true
      else {
        val ((a, b), n) = best
        merges += ((rank, a, b, n))
        words = words.map { case (syms, f) =>
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            if (syms(i) == a && syms(i + 1) == b) has = true
            i += 1
          }
          if (!has) (syms, f)
          else {
            def add(m: mutable.Map[(String, String), Long], v: Vector[String], sign: Long): Unit = {
              var j = 0
              while (j < v.length - 1) {
                val k = (v(j), v(j + 1))
                val nn = m.getOrElse(k, 0L) + sign * f
                if (nn == 0L) m.remove(k) else m(k) = nn
                j += 1
              }
            }
            add(counts, syms, -1L)
            val merged = localMergePass(syms, a, b)
            add(counts, merged, 1L)
            (merged, f)
          }
        }
      }
      rank += 1
    }
    merges.result()
  }

  /** The fully distributed loop — the unbounded-dict fallback. Per
    * iteration: count adjacent-pair frequencies (dict-sized agg), pull
    * the single argmax row (freq desc, then lexicographic —
    * deterministic), apply the merge distributed, localCheckpoint to
    * truncate the fold lineage. Stops early when no pair occurs twice.
    * At cluster scale the checkpoint would go to a reliable dir with
    * generation unpersist; the dict stays executor-resident throughout —
    * never collected.
    */
  private[graft] def bpeTrainDistributed(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
      var vocab = bpeDict(s, d).localCheckpoint(true)
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var rank = 1
      var done = false
      while (rank <= BpeMerges && !done) {
        val best = vocab
          .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty || best(0).getAs[Long]("n") < 2L) done = true
        else {
          val (a, b) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"))
          merges += ((rank, a, b, best(0).getAs[Long]("n")))
          vocab = vocab.withColumn("syms", mergePass(col("syms"), a, b, a + b))
            .localCheckpoint(true)
        }
        rank += 1
      }
      merges.result()
  }

  // t18 (rows-only; spec: exact merge-table equality vs an independent
  // in-test reference trainer + determinism): distributed BPE TRAINING.
  val t18_bpe_train: Q = (s, d) => {
    import s.implicits._
    bpeTrain(s, d).toDF("rank", "left_sym", "right_sym", "pair_freq")
      .orderBy("rank")
  }

  /** Encodes one word with the ranked merges using the standard
    * lowest-rank-first loop (merge every occurrence of the best-ranked
    * present pair, repeat). Genuinely imperative — runs per DISTINCT
    * word inside mapPartitions with the ≤ BpeMerges-entry rank map
    * broadcast.
    */
  private[graft] def bpeEncodeWord(
      word: String, rankOf: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector :+ EndOfWord
    var continue = true
    while (continue && syms.length > 1) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rankOf.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) continue = false
      else {
        val a = syms(bestIdx); val b = syms(bestIdx + 1); val m = a + b
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += m; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  // t19 (rows-only; spec: per-doc equality vs an independent reference
  // encoder + the n_words ≤ n_bpe_tokens ≤ n_chars_eow invariant): BPE
  // ENCODING with the t18 tokenizer. Each DISTINCT word is encoded once
  // (the dict, not the corpus), then token counts join back to the
  // exploded corpus — the dict side is NOT assumed broadcastable (Heaps-
  // law millions of words at 100 TB), so the join is left to AQE.
  val t19_bpe_encode: Q = (s, d) => {
    import s.implicits._
    val rankOf = bpeTrain(s, d).map { case (r, a, b, _) => ((a, b), r) }.toMap
    val bc = s.sparkContext.broadcast(rankOf)
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .where(length(col("word")) > 0)
    val dict = words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val ranks = bc.value
        it.map(w => (w, bpeEncodeWord(w, ranks).length.toLong))
      }.toDF("word", "n_sub")
    words.join(dict, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_bpe_tokens"),
        sum(length(col("word")) + 1).as("n_chars_eow"))
      .orderBy("doc_id")
  }

  // t20: Unicode NFC canonicalization — the zeroth pass of a cleaning
  // pipeline (decomposed combining sequences → precomposed, so hashing /
  // dedup / tokenization see one spelling of café). The corpus is ASCII,
  // so non-NFC content is planted deterministically: doc_id%3==1 prefixes
  // a DECOMPOSED form (e + U+0301, A + U+030A), doc_id%3==2 the
  // PRECOMPOSED equivalent (é, Å) — after NFC both spell the identical
  // prefix, which the oracle (DuckDB's nfc_normalize) must agree on
  // char-for-char. Normalization runs in the native codegen'd
  // NfcNormalize expression (graft.functions.Normalize — a static JDK
  // Normalizer call inside whole-stage codegen, no UDF); everything else
  // is stock column arithmetic. One scan, no shuffle before the ordered
  // output.
  val t20_normalize: Q = (s, d) => {
    val v = pmod(col("doc_id"), lit(3))
    val decomposed = "Cafe\u0301 A\u030Arhus \u2014 " // e+U+0301, A+U+030A
    val precomposed = "Caf\u00e9 \u00c5rhus \u2014 "  // U+00E9, U+00C5
    val raw = when(v === 1, concat(lit(decomposed), col("text")))
      .when(v === 2, concat(lit(precomposed), col("text")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .withColumn("nfc", graft.functions.Normalize.nfc_normalize(col("raw")))
      .select(col("doc_id"),
        length(col("raw")).as("len_raw"),
        length(col("nfc")).as("len_nfc"),
        (col("nfc") =!= col("raw")).cast("int").as("changed"),
        substring(col("nfc"), 1, 10).as("nfc_prefix"))
      .orderBy("doc_id")
  }

  // t21: DSIR-style importance weighting (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling"): score
  // every document by how target-like its hashed-n-gram profile is.
  // Target = the en slice of the corpus, source = the rest; features =
  // unigrams hashed into 64 buckets (md5-prefix bucketing — engine-
  // portable and deterministic); per-doc weight = Σ_tok log of the
  // smoothed target/source bucket-probability ratio. Plan shape: one
  // explode→groupBy builds the 64-row bucket table (map-side partials,
  // bytes through the shuffle), which broadcasts back onto the token
  // stream — at 100 TB the model is still 64 rows, the corpus is
  // touched twice, and nothing wide shuffles (the per-doc re-agg keys
  // on doc_id, pre-partitioned by the explode's parent).
  val t21_dsir: Q = (s, d) => {
    val hex = "0123456789abcdef"
    def bucket(tok: Column): Column =
      ((instr(lit(hex), substring(md5(tok), 1, 1)) - 1) * 16 +
        (instr(lit(hex), substring(md5(tok), 2, 1)) - 1)) % 64
    val tokTbl = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tok"))
      .withColumn("b", bucket(col("tok")))
    val stats = tokTbl.groupBy(col("b")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("src"))
    val tot = stats.agg(sum("tgt").as("tgt_tot"), sum("src").as("src_tot"))
    val lam = stats.crossJoin(broadcast(tot))
      .withColumn("lam",
        log((col("tgt") + 0.5) / (col("tgt_tot") + 32.0)) -
          log((col("src") + 0.5) / (col("src_tot") + 32.0)))
      .select(col("b"), col("lam"))
    tokTbl.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"), round(sum("lam"), 4).as("w"))
      .orderBy("doc_id")
  }

  // t23: temperature-scaled data mixing — the sampling-weight step of a
  // multi-source training run (the Llama/mT5 recipe): source probability
  // p_i = tokens_i/Σ, sampling weight w_i ∝ p_i^α with α=0.3 (upweights
  // the tail, downweights the head), expected epochs over a declared
  // token budget = B·w_i/tokens_i — the number every data-mixing design
  // review asks for (how many times will the small source repeat?). The
  // whole model is a 20-row per-source aggregate and two scalar
  // normalizers; at 100 TB the corpus is scanned once for token counts
  // and the rest is broadcast arithmetic.
  val t23_mix_temperature: Q = (s, d) => {
    val alpha = 0.3
    val budget = 1000000.0
    val perSrc = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text")))).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).cast("double").as("tot"))
    val withP = perSrc.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("tot"))
    val z = withP.agg(sum(pow(col("p"), alpha)).as("z"))
    withP.crossJoin(broadcast(z))
      .withColumn("w", pow(col("p"), alpha) / col("z"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p"), 6).as("p"),
        round(col("w"), 6).as("w"),
        round(lit(budget) * col("w") / col("n_tokens").cast("double"), 4).as("epochs"))
      .orderBy("source")
  }

  // t25 (rows-only; spec: ≡ recompute from the two verified lanes):
  // TOKENIZER FERTILITY per predicted language — the metric teams read
  // before fixing a vocab size/merge budget (multilingual fertility,
  // XLM-R/BLOOM analyses): BPE tokens per word and characters per BPE
  // token, grouped by t01's predicted language over t19's per-doc
  // encoding counts. Composes two verified lanes with one doc_id join +
  // one ≤n_langs aggregation — nothing new touches the corpus.
  val t25_fertility: Q = (s, d) => {
    val langs = t01_langid(s, d).select(col("doc_id"), col("predicted_lang"))
    t19_bpe_encode(s, d).join(langs, "doc_id")
      .groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        round(sum("n_bpe_tokens") / sum("n_words"), 4).as("fertility"),
        round(sum("n_chars_eow") / sum("n_bpe_tokens"), 4).as("chars_per_token"))
      .orderBy("predicted_lang")
  }

  /** t27's minimum pair frequency (shared with the oracle). */
  val PmiMinCount = 5

  // t27: PMI COLLOCATION MINING (pointwise mutual information over
  // adjacent word pairs — the "New York"/"machine learning" phrase
  // detector every corpus pipeline runs before tokenizer training):
  // PMI(a,b) = ln(N·c(a,b) / (c(a·)·c(·b))) over t26's bigram engine
  // (posexplode+lead — no array-lambda re-evaluation trap), with a
  // min-count floor so rare pairs can't saturate the top by chance
  // (Church & Hanks '90). Three keyed count aggs; marginals and the
  // 1-row total broadcast back to the (already small) surviving pair
  // set; top-20 is a TakeOrdered on (pmi, a, b). At 100 TB the bigram
  // relation shuffles once on (a,b) and the marginals stay
  // Heaps-bounded — the same discipline as t26's model build.
  val t27_pmi_collocations: Q = (s, d) => {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "a")))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .select(col("a"), col("b"))
    val pairs = bg.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("double").as("cab"))
      .filter(col("cab") >= PmiMinCount)
    val la = bg.groupBy(col("a")).agg(count(lit(1)).cast("double").as("ca"))
    val rb = bg.groupBy(col("b")).agg(count(lit(1)).cast("double").as("cb"))
    val tot = bg.agg(count(lit(1)).cast("double").as("n"))
    pairs
      .join(broadcast(la), Seq("a"))
      .join(broadcast(rb), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("cab").cast("long").as("n_ab"),
        round(log(col("cab") * col("n") / (col("ca") * col("cb"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(20)
  }

  // t28: WEIGHTED sampling without replacement (Efraimidis–Spirakis,
  // IPL'06 — the quality-weighted corpus picker: docs win slots in
  // proportion to their t02 quality score): per item the key is
  // ln(u)/w with u a DETERMINISTIC md5-derived uniform (q43's
  // hash-not-RNG discipline — same winners on any cluster, layout, or
  // rerun; exactly reproducible by the oracle) and w the ROUNDED t02
  // score (both engines divide by the identical 4-decimal double);
  // top-3 per source via the bounded topk_by heap — map-side state is
  // k rows per source per partition, no global or per-source sort.
  // This is q43's stratified sampler upgraded from uniform to
  // importance-weighted — together they cover the two sampling modes
  // a curation pipeline needs.
  /** t28's scored frame (score + Efraimidis-Spirakis key per doc) —
    * shared with s36's streaming fold so twin equality is structural.
    */
  def weightedSampleScores(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("len_chars", length(col("text")))
      .withColumn("n_tokens", size(toks(col("text"))))
      .withColumn("stop_hits", hits(toks(col("text")), Seq("the", "a", "of")))
      .withColumn("punct_chars",
        length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .withColumn("score", round(
        least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          (col("stop_hits") / col("n_tokens")) * 0.3 +
          (lit(1.0) - col("punct_chars") / col("len_chars")) * 0.2, 4))
      // u ∈ (0, 1]: 48 md5 bits (+1 so ln never sees 0) over 16^12 + 1 —
      // exact in a double on both engines
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("double") + 1.0) / lit(math.pow(16, 12) + 1))
      .withColumn("k", log(col("u")) / col("score"))

  val t28_weighted_sample: Q = (s, d) => {
    val scored = weightedSampleScores(s, d)
    scored.groupBy(col("source"))
      .agg(graft.functions.TopK.topk_by(
        struct(col("doc_id"), col("score")), col("k"), col("doc_id"), 3).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
        col("r.doc_id"), col("r.score"))
      .orderBy("source", "rn")
  }

  // t29: per-document SHINGLE NOVELTY — the memorization-risk /
  // boilerplate profile dual to d18's removal pass: for each doc, the
  // fraction of its distinct word-5-grams that occur in NO other
  // document (corpus-unique). Low novelty = template/boilerplate mass;
  // high = fresh text. One explode to (doc_id, shingle), one
  // shingle-keyed count agg, one shingle-keyed join back (ids + a small
  // long cross the shuffles — d02's discipline), one doc_id rollup.
  // Docs under 5 tokens have no shingles and drop out on both engines.
  val t29_shingle_novelty: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("sh"))
    val freq = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("ndocs")) // shingles are distinct per doc
    sh.join(freq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        round(avg((col("ndocs") === 1).cast("int")), 4).as("novelty"))
      .orderBy("doc_id")
  }

  // t30: LANGUAGE-ID CONFUSION MATRIX — t01's evaluation rollup (the
  // scoreboard a classifier change is judged by, as v16 is for ANN and
  // d16 for dedup): per (true, predicted) counts + the per-true-lang
  // recall fraction, denominators broadcast. Composes the verified t01
  // frame; the ≤|langs|² output is bounded at any corpus size and the
  // rollup adds one ≤25-key shuffle.
  val t30_langid_eval: Q = (s, d) => {
    val scored = t01_langid(s, d)
      .select(col("lang"), col("predicted_lang"))
    val cm = scored.groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = scored.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n_true"))
    cm.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("predicted_lang"), col("n"),
        round(col("n") / col("n_true"), 4).as("frac"))
      .orderBy("lang", "predicted_lang")
  }

  // t31: FLESCH READING-EASE readability scoring — the classic
  // 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word) formula
  // with the standard distributed-friendly approximations: sentences =
  // terminal-punctuation runs (min 1 — this corpus has none, so every
  // doc is one "sentence"); syllables = vowel-group count with a +1
  // correction per vowel-less word (every word contributes ≥1
  // syllable). Single-pass, all regexp_count/HOF column expressions —
  // one more per-document score in the quality-filter family (t02/t16),
  // zero shuffles beyond the scan.
  val t31_readability: Q = (s, d) => {
    val t = toks(col("text"))
    val words = size(t).cast("double")
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      .cast("double")
    val syllables = (regexp_count(lower(col("text")), lit("[aeiouy]+")) +
      size(filter(t, w => !w.rlike("[aeiouy]")))).cast("double")
    Tables.documents(s, d)
      .select(col("doc_id"), words.cast("long").as("n_words"),
        sentences.cast("long").as("n_sentences"),
        syllables.cast("long").as("n_syllables"),
        round(lit(206.835) - lit(1.015) * (words / sentences) -
          lit(84.6) * (syllables / words), 4).as("flesch"))
      .orderBy("doc_id")
  }

  // t32: CHARACTER-DISTRIBUTION SHANNON ENTROPY per document — the
  // gibberish/encoding-noise detector (low entropy = repeated filler,
  // high = random bytes; natural text sits in a band). Computed per ROW
  // with no shuffle: histogram = per-alphabet-symbol count over the char
  // array, entropy = −Σ p·log₂p via aggregate() — O(|Σ|·n) per row with
  // the alphabet bounded, and the per-doc histogram never leaves the
  // task (a chars-explode groupBy would shuffle every character in the
  // corpus). Each intermediate array is materialized as a real column —
  // attribute references inside the lambdas, NOT inlined expression
  // trees, which interpreted HOFs would otherwise re-evaluate per
  // element (measured: the inlined form is minutes-per-batch; this is
  // milliseconds). Spark's split(text, '') emits a trailing "" (Java
  // split limit=-1); array_remove aligns the chars with DuckDB's
  // string_split.
  val t32_char_entropy: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("cs", array_remove(split(col("text"), ""), ""))
      .withColumn("alphabet", array_distinct(col("cs")))
      .withColumn("counts", transform(col("alphabet"),
        ch => size(filter(col("cs"), c => c === ch)).cast("double")))
      .select(col("doc_id"), size(col("cs")).cast("long").as("n_chars"),
        size(col("alphabet")).as("n_distinct_chars"),
        round(-aggregate(col("counts"), lit(0.0),
          (acc, k) => acc + k / size(col("cs")).cast("double") *
            log(2.0, k / size(col("cs")).cast("double"))), 4).as("entropy"))
      .orderBy("doc_id")
  }

  /** t33's code-score threshold — shared with the oracle. */
  val CodeScoreThreshold = 0.03

  // t33: CODE-VS-PROSE DETECTION — the pre-training corpus router
  // (code to the code pipeline, prose to the text one). Score = density
  // of code punctuation ({};()=[]<>:"") per char; classified over a
  // two-source frame — documents.text (prose) UNION a deterministic
  // slice of events.props (JSON — code-shaped) — so the lane proves
  // SEPARATION, not just a constant column. Pure regexp_count over each
  // row; the union is two independent scans, no shuffle before the
  // final order.
  val t33_code_detect: Q = (s, d) => {
    def score(kind: String, idc: Column, text: Column)(df: DataFrame): DataFrame =
      df.select(lit(kind).as("kind"), idc.as("id"),
        round(regexp_count(text, lit("[{}();=\\[\\]<>:\"]")) /
          greatest(length(text), lit(1)).cast("double"), 4).as("code_score"))
    val docs = Tables.documents(s, d)
      .transform(score("prose", col("doc_id"), col("text")))
    val props = Tables.events(s, d).filter(col("event_id") % 100 === 0)
      .transform(score("json", col("event_id"), col("props")))
    docs.unionAll(props)
      .withColumn("is_code", (col("code_score") > CodeScoreThreshold).cast("int"))
      .orderBy("kind", "id")
  }

  // t34: ZIPF RANK-FREQUENCY FIT over the corpus vocabulary — the
  // distribution sanity check of a scraped corpus (natural language
  // fits log f ≈ c + s·log r with s near −1; generated/spam text
  // doesn't). Vocabulary is Heaps-bounded (~√corpus types) but still
  // grows with SF, so the rank comes from the two-level bucket
  // machinery (Relational.bucketRank: a running count per frequency
  // bucket + a broadcast count prefix over the bounded bucket axis —
  // never a single-partition window over the vocab); the log-log fit
  // is the native regr_* moment pass of q64.
  val t34_zipf_fit: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("n"))
      // LAZY persist (q66's pattern): dedupes the tokenize+count across
      // the pruning-divergent rank branches; no build job
      .persist()
    Relational.bucketRank(vocab, "n", "tok")
      .withColumn("rank", col("rk").cast("double"))
      .agg(count(lit(1)).as("n_types"),
        round(expr("regr_slope(log10(n), log10(rank))"), 4).as("slope"),
        round(expr("regr_intercept(log10(n), log10(rank))"), 4).as("intercept"),
        round(expr("regr_r2(log10(n), log10(rank))"), 6).as("r2"))
  }

  /** t35/t36 unigram-LM tokenizer parameters (Kudo 2018 /
    * SentencePiece's unigram model — the OTHER production tokenizer
    * family beside t18's BPE). Pieces up to 6 chars; the seed and the
    * pruned vocab are capped so the model stays a broadcastable
    * driver-side artifact (v07's discipline, same as bpeTrainLocal).
    */
  val UniMaxPieceLen = 6
  val UniSeedCap = 1500
  val UniVocabTarget = 300
  val UniEmIters = 3

  private val trainedUnigram =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]

  /** Unigram model for an sf dir: Heaps-bounded dict collects once,
    * trains in memory (the t18 scale argument — EM is per-dict-word,
    * not per-corpus-token), result cached per dir like trainedMerges.
    */
  private[graft] def unigramTrain(s: SparkSession, d: String): Seq[(String, Double)] =
    trainedUnigram.computeIfAbsent(d, _ => {
      val dict = bpeDict(s, d).select("word", "freq").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      unigramTrainLocal(dict)._1
    })

  private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

  /** Driver-side EXACT unigram-LM trainer: seed = all single chars
    * (mandatory — guarantees every word stays segmentable) + the most
    * frequent multi-char substrings; EM with true forward–backward
    * expected counts over ALL segmentations of each dict word
    * (freq-weighted, log-space); prune to the vocab target keeping all
    * singles; final EM pass re-normalizes the survivors. Returns the
    * (piece, logprob) model sorted by descending probability, plus the
    * corpus log-likelihood trace (the spec pins EM's monotone-ascent
    * property on it). Dict is sorted first so float accumulation order
    * — and therefore the model — is deterministic.
    */
  private[graft] def unigramTrainLocal(dict0: Seq[(String, Long)])
      : (Seq[(String, Double)], Seq[Double]) = {
    import scala.collection.mutable
    val dict = dict0.sortBy(_._1)
    val subFreq = mutable.Map[String, Long]().withDefaultValue(0L)
    for {
      (w, f) <- dict
      i <- 0 until w.length
      len <- 1 to math.min(UniMaxPieceLen, w.length - i)
    } subFreq(w.substring(i, i + len)) += f
    val singles = dict.flatMap(_._1.map(_.toString)).distinct.sorted
    val multi = subFreq.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, f) => (-f, p) }
      .take(math.max(UniSeedCap - singles.size, 0)).map(_._1)
    var vocab: Vector[String] = (singles ++ multi).toVector
    def norm(cnt: Map[String, Double]): Map[String, Double] = {
      val tot = cnt.values.sum
      cnt.map { case (k, v) => k -> v / tot }
    }
    var probs = norm(vocab.map(p => p -> subFreq(p).toDouble).toMap)
    val llTrace = mutable.ArrayBuffer[Double]()
    def emStep(): Unit = {
      val pieces = probs.keySet
      val logp = probs.map { case (k, v) => k -> math.log(v) }
      val exp = mutable.Map[String, Double]().withDefaultValue(0.0)
      var ll = 0.0
      for ((w, f) <- dict) {
        val n = w.length
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        for (j <- 1 to n; len <- 1 to math.min(UniMaxPieceLen, j)) {
          val p = w.substring(j - len, j)
          if (pieces(p))
            alpha(j) = logAdd(alpha(j), alpha(j - len) + logp(p))
        }
        val beta = Array.fill(n + 1)(Double.NegativeInfinity)
        beta(n) = 0.0
        for (i <- n - 1 to 0 by -1; len <- 1 to math.min(UniMaxPieceLen, n - i)) {
          val p = w.substring(i, i + len)
          if (pieces(p))
            beta(i) = logAdd(beta(i), logp(p) + beta(i + len))
        }
        val z = alpha(n)
        ll += f * z
        for (i <- 0 until n; len <- 1 to math.min(UniMaxPieceLen, n - i)) {
          val p = w.substring(i, i + len)
          if (pieces(p))
            exp(p) += f * math.exp(alpha(i) + logp(p) + beta(i + len) - z)
        }
      }
      llTrace += ll
      probs = norm(exp.toMap)
    }
    for (_ <- 1 to UniEmIters) emStep()
    // prune: all singles survive (coverage), top multi by probability
    val keptMulti = vocab.filter(_.length > 1)
      .sortBy(p => (-probs.getOrElse(p, 0.0), p))
      .take(math.max(UniVocabTarget - singles.size, 0))
      .filter(p => probs.getOrElse(p, 0.0) > 0)
    vocab = (singles ++ keptMulti).toVector
    probs = norm(vocab.map(p => p -> math.max(probs.getOrElse(p, 0.0), 1e-100)).toMap)
    llTrace.clear() // the spec's monotonicity gate reads the FINAL phase
    for (_ <- 1 to UniEmIters) emStep()
    val model = probs.toSeq.map { case (p, v) => (p, math.log(v)) }
      .sortBy { case (p, lp) => (-lp, p) }
    (model, llTrace.toSeq)
  }

  /** Viterbi best segmentation of one word under the unigram model —
    * ties break to the LONGER final piece so the decode is
    * deterministic. Runs per DISTINCT word inside mapPartitions with
    * the ≤ UniVocabTarget-entry model broadcast (t19's shape).
    */
  private[graft] def unigramEncodeWord(
      w: String, logp: Map[String, Double]): Vector[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestLen = Array.fill(n + 1)(0)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var len = 1
      while (len <= math.min(UniMaxPieceLen, j)) {
        val p = w.substring(j - len, j)
        logp.get(p) match {
          case Some(lp) if best(j - len) != Double.NegativeInfinity =>
            val cand = best(j - len) + lp
            if (cand > best(j) + 1e-12 ||
                (math.abs(cand - best(j)) <= 1e-12 && len > bestLen(j))) {
              best(j) = cand; bestLen(j) = len
            }
          case _ => ()
        }
        len += 1
      }
      j += 1
    }
    var k = n
    var acc: List[String] = Nil
    while (k > 0) { val len = bestLen(k); acc = w.substring(k - len, k) :: acc; k -= len }
    acc.toVector
  }

  // t35 (rows-only; spec: probs normalize, EM log-likelihood ascends,
  // singles cover the alphabet, deterministic across runs): UNIGRAM-LM
  // TOKENIZER TRAINING — the SentencePiece-family counterpart of t18's
  // BPE (subtractive: seed big, EM, prune — where BPE is additive).
  val t35_unigram_train: Q = (s, d) => {
    import s.implicits._
    unigramTrain(s, d).zipWithIndex
      .map { case ((p, lp), i) => (i + 1, p, math.rint(lp * 1e6) / 1e6) }
      .toDF("rank", "piece", "logprob")
      .orderBy("rank")
  }

  // t36 (rows-only; spec: Viterbi optimality vs exhaustive enumeration,
  // token-count bounds, ≡ across runs): UNIGRAM ENCODING — each
  // DISTINCT word Viterbi-decodes once against the broadcast model
  // (dict-not-corpus, t19's shape), counts join back to the corpus.
  val t36_unigram_encode: Q = (s, d) => {
    import s.implicits._
    val logp = unigramTrain(s, d).toMap
    val bc = s.sparkContext.broadcast(logp)
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .where(length(col("word")) > 0)
    val dict = words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map(w => (w, unigramEncodeWord(w, m).length.toLong))
      }.toDF("word", "n_sub")
    words.join(dict, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_uni_tokens"),
        sum(length(col("word"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** t37's absolute discount (Kneser–Ney's standard 0.75). */
  val KnDiscount = 0.75

  // t37: KNESER–NEY-SMOOTHED BIGRAM LM — the classical n-gram
  // smoothing (t26's plain bigram probabilities assign zero to unseen
  // pairs and over-trust frequent contexts; KN discounts every seen
  // bigram by D and backs off to the CONTINUATION unigram — "how many
  // contexts does w2 follow?" — the famous San-Francisco correction).
  // All four model tables (bigram counts, left totals + fan-out,
  // continuation fan-in, type total) are keyed aggregations of the one
  // exploded bigram frame; the final score is a broadcast-friendly
  // join. Top-50 by the ROUNDED probability with (w1, w2) tie-break so
  // the cut is engine-identical.
  val t37_kneser_ney: Q = (s, d) => {
    val t = toks(col("text"))
    val bg = Tables.documents(s, d)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).cast("double").as("c12"))
      .persist() // all three model aggregates consume it
    val left1 = bg.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).cast("double").as("n1fwd"))
    val right1 = bg.groupBy("w2")
      .agg(count(lit(1)).cast("double").as("n1bwd"))
    val ntypes = bg.agg(count(lit(1)).cast("double").as("ntypes"))
    bg.join(left1, Seq("w1")).join(right1, Seq("w2"))
      .crossJoin(broadcast(ntypes))
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c_bigram"),
        round(greatest(col("c12") - KnDiscount, lit(0.0)) / col("c1") +
          lit(KnDiscount) / col("c1") * col("n1fwd") *
            (col("n1bwd") / col("ntypes")), 6).as("p_kn"))
      .orderBy(col("p_kn").desc, col("w1"), col("w2"))
      .limit(50)
  }

  // t38: TRAIN/VAL/TEST SPLIT BUILDER — the dataset-release step every
  // training pipeline ends with: a 90/5/5 split that is (a) a PURE HASH
  // of doc_id (t10's md5-percent idiom — reproducible forever, no RNG
  // state, new docs route consistently), and (b) REPORTED per source so
  // distribution drift between splits is visible before training. One
  // scan + one (source, split) agg; the per-source fraction is window
  // math on the ≤|sources|·3 report.
  val t38_split_builder: Q = (s, d) => {
    val pct = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long"), lit(100L))
    Tables.documents(s, d)
      .withColumn("split",
        when(pct < 90, "train").when(pct < 95, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .withColumn("frac", round(col("n_docs") /
        sum("n_docs").over(Window.partitionBy("source")), 4))
      .orderBy("source", "split")
  }

  // t39: SPLIT-LEAKAGE AUDIT — the famous eval-contamination failure
  // t38's hash split cannot see: a near-duplicate pair straddling
  // train/test leaks the answer key into training (d12 decontaminates
  // against an EXTERNAL benchmark; this audits the split's OWN
  // internal leakage). Near-dup pairs come from d02's verified
  // exact-Jaccard lane, each doc routes through t38's md5 split, and
  // the report counts straddling pairs per (split_a, split_b) plus the
  // distinct train docs implicated — the set a leakage-aware release
  // would move or drop. Pair volume is near-dup-sized (not corpus-
  // sized), so the audit costs one d02 run + a broadcast-size join.
  val t39_split_leakage: Q = (s, d) => {
    val pct = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long"), lit(100L))
    val splits = Tables.documents(s, d)
      .select(col("doc_id"), when(pct < 90, "train")
        .when(pct < 95, "val").otherwise("test").as("split"))
    val pairs = graft.ops.Dedup.ngramJaccardPairs(s, d)
    pairs
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split_a")),
        Seq("d1"))
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split_b")),
        Seq("d2"))
      .withColumn("sa", least(col("split_a"), col("split_b")))
      .withColumn("sb", greatest(col("split_a"), col("split_b")))
      .groupBy(col("sa").as("split_a"), col("sb").as("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(when(col("split_a") =!= col("split_b"),
          when(col("split_a") === "train", col("d1"))
            .when(col("split_b") === "train", col("d2"))))
          .as("n_train_docs_leaking"))
      .withColumn("is_leak",
        (col("split_a") =!= col("split_b")).cast("int"))
      .orderBy("split_a", "split_b")
  }

  /** t40's shared-vocabulary size: the bounded axis every JSD term
    * lives on (top tokens by corpus count, ties by token).
    */
  val JsdTopK = 200

  // t40: SOURCE-DISTRIBUTION DRIFT via Jensen-Shannon divergence — the
  // corpus-mix monitor a 100 TB ingestion pipeline runs daily: are two
  // sources' unigram distributions diverging? Token counts collapse in
  // ONE keyed agg (the only data-proportional step); the comparison
  // axis is the corpus TOP-K tokens (distributed TakeOrdered, bounded
  // K); each source's restricted distribution is a ≤|S|·K dense frame
  // (sources × shared vocab, absent tokens = 0), and the ≤(|S| choose
  // 2)·K pair terms compute JSD = ½Σp·ln(p/m) + ½Σq·ln(q/m) with the
  // 0·ln0 = 0 convention. Everything after the first agg is
  // bounded-axis math.
  val t40_jsd_drift: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val topK = counts.groupBy(col("tok")).agg(sum("n").as("tn"))
      .orderBy(col("tn").desc, col("tok")).limit(JsdTopK)
      .select(col("tok"))
    val srcTotals = counts.join(broadcast(topK), Seq("tok"))
      .groupBy(col("source")).agg(sum("n").as("tot"))
    // dense |sources| × K frame: p = in-top-K share, 0 where absent
    val dense = srcTotals.crossJoin(broadcast(topK))
      .join(counts, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        (coalesce(col("n"), lit(0L)) / col("tot")).as("p"))
    val a = dense.select(col("source").as("src_a"), col("tok"), col("p").as("pa"))
    val b = dense.select(col("source").as("src_b"), col("tok"), col("p").as("pb"))
    a.join(b, Seq("tok")).filter(col("src_a") < col("src_b"))
      .withColumn("m", (col("pa") + col("pb")) / 2)
      .groupBy(col("src_a"), col("src_b"))
      .agg(round(sum(
        when(col("pa") > 0, col("pa") * log(col("pa") / col("m"))).otherwise(0.0) / 2 +
          when(col("pb") > 0, col("pb") * log(col("pb") / col("m"))).otherwise(0.0) / 2),
        4).as("jsd"))
      .orderBy("src_a", "src_b")
  }

  // t41: LEXICAL DIVERSITY (type-token ratio) — the quality signal
  // that catches template/boilerplate-generated text (near-zero TTR at
  // length): per-doc types/tokens from the standard whitespace
  // tokenization, rolled up per source. One posexplode + two keyed
  // aggs, one doc_id-keyed shuffle — no windows, no HOF lambdas on the
  // hot path.
  val t41_lexical_diversity: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_types"))
      .withColumn("ttr", col("n_types") / col("n_tokens").cast("double"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg("ttr"), 4).as("avg_ttr"),
        round(min("ttr"), 4).as("min_ttr"),
        round(max("ttr"), 4).as("max_ttr"),
        sum("n_tokens").as("total_tokens"))
      .orderBy("source")
  }

  // t42: EPOCH-CAPPED MIXTURE SCHEDULE — the data-constrained follow-on
  // to t23 (Muennighoff et al. 2023: past ~4 epochs repeated tokens stop
  // helping): t23's temperature weights REQUEST epochs; this lane
  // enforces the cap and redistributes. Two deterministic passes — (1)
  // grant min(w_i·B, cap·tokens_i); (2) hand the leftover to the
  // sources pass 1 left uncapped, proportional to their renormalized
  // weights, re-clamped — no iteration, so the same two passes are the
  // DuckDB oracle. Everything after the one corpus scan for token
  // counts is arithmetic on the ≤|sources| broadcast axis. Epoch
  // ratios are irrational (temperature powers), so 4dp/6dp half-way
  // landings are measure-zero.
  val t42_epoch_schedule: Q = (s, d) => {
    val alpha = 0.3
    val capEpochs = 4.0
    // a data-constrained run: the budget sits just under the 4-epoch
    // ceiling, so temperature tail-upweighting pushes the small sources
    // PAST it — the regime the cap exists for (on this near-balanced
    // corpus a lower budget would leave the clamp dead code; the spec
    // pins that both passes really fire)
    val budgetEpochs = 3.8
    val perSrc = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(toks(col("text")))).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).cast("double").as("tot"))
    val withP = perSrc.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("tot"))
    val z = withP.agg(sum(pow(col("p"), alpha)).as("z"))
    val pass1 = withP.crossJoin(broadcast(z))
      .withColumn("w", pow(col("p"), alpha) / col("z"))
      .withColumn("B", col("tot") * budgetEpochs)
      .withColumn("cap", col("n_tokens") * capEpochs)
      .withColumn("req", col("w") * col("B"))
      .withColumn("a1", least(col("req"), col("cap")))
    val left = pass1.agg(
      (first("B") - sum("a1")).as("L"),
      sum(when(col("req") < col("cap"), col("w")).otherwise(0.0)).as("wu"))
    pass1.crossJoin(broadcast(left))
      .withColumn("a2",
        when(col("req") < col("cap") && col("wu") > 0,
          least(col("a1") + col("w") / col("wu") * col("L"), col("cap")))
          .otherwise(col("a1")))
      .select(col("source"), col("n_tokens"),
        round(col("w"), 6).as("weight"),
        round(col("req") / col("n_tokens"), 4).as("epochs_requested"),
        round(col("a2") / col("n_tokens"), 4).as("epochs_granted"),
        (col("req") > col("cap")).as("capped"))
      .orderBy("source")
  }

  /** t43's prefix-axis resolution: the vocabulary-growth curve samples
    * the corpus at this many doc-id prefixes.
    */
  val HeapsPrefixes = 16

  // t43: HEAPS'-LAW VOCABULARY GROWTH — V(N) ≈ K·N^β, the curve that
  // predicts how much NEW vocabulary another 10 TB of corpus buys (and
  // whose β falling toward 0 signals a source is mined out). The type
  // unit is word TRIGRAMS (t44's reasoning: this corpus's 31-word
  // unigram vocabulary saturates in the first prefix, β degenerates to
  // 0). The naive formulation (cumulative distinct count per prefix)
  // rescans the corpus P times; this one is two keyed aggs TOTAL: each
  // type's FIRST-occurrence prefix (min over the doc-id-derived prefix
  // index) makes vocabulary growth a per-prefix count + prefix sum on
  // the bounded P-row axis, and token mass is the same trick without
  // the min. The log-log fit is one regr_slope over P points. Prefix
  // boundaries are pure arithmetic on (doc_id, min, max) — identical
  // on any engine, no percentile or global sort anywhere.
  val t43_heaps: Q = (s, d) => {
    val P = HeapsPrefixes
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), Dedup.wordGrams(col("tk"), 3).as("t"))
    val bounds = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
    val withIdx = docs.crossJoin(broadcast(bounds))
      .withColumn("pidx", least(ceil((col("doc_id") - col("mn") + 1) * P /
        (col("mx") - col("mn") + 1)), lit(P.toLong)).cast("int"))
    val tokMass = withIdx.groupBy("pidx").agg(sum(size(col("t"))).as("toks"))
    val firstP = withIdx.select(col("pidx"), explode(col("t")).as("tok"))
      .groupBy("tok").agg(min("pidx").as("pidx"))
      .groupBy("pidx").agg(count(lit(1)).as("newv"))
    val axis = s.range(1, P + 1).select(col("id").cast("int").as("pidx"))
    val w = Window.orderBy("pidx").rowsBetween(Window.unboundedPreceding, 0)
    val curve = axis.join(tokMass, Seq("pidx"), "left")
      .join(firstP, Seq("pidx"), "left")
      .withColumn("cum_tokens", sum(coalesce(col("toks"), lit(0L))).over(w))
      .withColumn("cum_vocab", sum(coalesce(col("newv"), lit(0L))).over(w))
      .filter(col("cum_tokens") > 0)
      .select(col("pidx").as("prefix"), col("cum_tokens"), col("cum_vocab"))
      // ≤P rows; checkpoint so the fit agg + final projection don't each
      // re-run the two corpus-wide aggregations feeding the curve
      .localCheckpoint(true)
    val fit = curve.agg(
      round(expr("regr_slope(ln(cast(cum_vocab as double)), " +
        "ln(cast(cum_tokens as double)))"), 4).as("heaps_beta"),
      round(expr("exp(regr_intercept(ln(cast(cum_vocab as double)), " +
        "ln(cast(cum_tokens as double))))"), 2).as("heaps_k"))
    curve.crossJoin(broadcast(fit)).orderBy("prefix")
  }

  // t44: TRIGRAM FREQUENCY SPECTRUM + GOOD-TURING — the count-of-counts
  // profile N_r (how many types occur exactly r times) for r ≤ 10, each
  // row carrying the Good-Turing re-estimate c* = (r+1)·N_{r+1}/N_r and
  // the share of corpus mass at that frequency. N_1/N is the unseen-
  // event probability mass — the number that says how open the
  // vocabulary still is (and the discount Kneser-Ney (t37) hard-codes).
  // The unit is word TRIGRAMS (this synthetic corpus has only ~31
  // unigram types, all frequent; trigrams have the hapax-heavy tail a
  // real corpus's unigrams would). Two keyed aggs (type counts →
  // spectrum); the N_{r+1} lookup is a self-join on the bounded r-axis,
  // NOT lead() (a lead would silently read N at the next PRESENT r,
  // which may be r+2 when a spectrum hole exists). Every output ratio
  // is ONE division of identical integers on both engines — exact,
  // order-independent, no rounding hazard.
  val t44_freq_spectrum: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(toks(col("text")).as("tk")) // materialized: HOF lambdas
      // must not re-evaluate the split tree per element
      .select(explode(Dedup.wordGrams(col("tk"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
    val spec = counts.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_types"))
    val tot = counts.agg(sum("c").cast("double").as("n_tokens"))
    spec.join(spec.select((col("r") - 1).as("r"), col("n_types").as("n_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .filter(col("r") <= 10)
      .select(col("r"), col("n_types"),
        round((col("r") + 1) * col("n_next") / col("n_types"), 4).as("gt_cstar"),
        round(col("r") * col("n_types") / col("n_tokens"), 6).as("token_share"))
      .orderBy("r")
  }

  /** t45's tail-sample size (the k largest documents). */
  val HillK = 200

  // t45: PARETO TAIL INDEX of document length (Hill estimator) — is
  // the length distribution heavy-tailed, and how heavy? The α that
  // decides whether length-capping policy (t06 chunking budgets, m12
  // shard budgets) faces a power law or an exponential tail. The only
  // distributed step is a top-(k+1) selection (TakeOrdered — bounded
  // result, no global sort materialized); the threshold is the
  // smallest selected value and the tie convention is STRICTLY-above
  // (x > x_{k+1}), which makes the tail multiset deterministic even
  // when tied lengths straddle the cut. α = m / Σ ln(x/thr) on the
  // ≤k-row tail.
  val t45_hill_tail: Q = (s, d) => {
    val top = Tables.documents(s, d)
      .select(col("n_chars").cast("double").as("x"))
      .filter(col("x") > 0)
      .orderBy(col("x").desc)
      .limit(HillK + 1)
    val thr = top.agg(min("x").as("xk1"))
    top.crossJoin(broadcast(thr))
      .filter(col("x") > col("xk1"))
      .agg(count(lit(1)).as("n_tail"),
        first("xk1").as("threshold"),
        round(count(lit(1)) / sum(log(col("x") / col("xk1"))), 4)
          .as("hill_alpha"))
  }

  // t46: HELD-OUT OOV AUDIT — "how much of val/test does a model of the
  // train split simply never see?": the train split's trigram
  // vocabulary (t38's md5 routing, t44's trigram unit — this corpus's
  // word vocabulary is closed, trigrams carry the open tail) joins
  // against every split's trigram stream; token- and type-level OOV
  // rates fall out of one keyed join + rollup. Train's rates are the
  // structural-zero control row. The join keys on the trigram string
  // (at 100 TB: on its hash — d02's ids-only discipline applies
  // verbatim); vocabulary size is corpus-sublinear.
  val t46_oov_audit: Q = (s, d) => {
    val pct = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6),
      16, 10).cast("long"), lit(100L))
    val tk = Tables.documents(s, d)
      .withColumn("split",
        when(pct < 90, "train").when(pct < 95, "val").otherwise("test"))
      .select(col("split"), toks(col("text")).as("tk"))
      .select(col("split"), explode(Dedup.wordGrams(col("tk"), 3)).as("g"))
    val vocab = tk.filter(col("split") === "train").select("g").distinct()
      .withColumn("known", lit(1))
    tk.join(vocab, Seq("g"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov_tokens"),
        countDistinct(col("g")).as("n_types"),
        countDistinct(when(col("known").isNull, col("g"))).as("n_oov_types"))
      .withColumn("oov_token_rate",
        round(col("n_oov_tokens") / col("n_tokens").cast("double"), 6))
      .withColumn("oov_type_rate",
        round(col("n_oov_types") / col("n_types").cast("double"), 6))
      .orderBy("split")
  }

  // t47: TRUNCATION-LOSS PROFILE — "how many tokens does a context
  // window of L throw away, per source?": the packing-policy input a
  // pretraining pipeline reads before fixing sequence length (t14
  // packs greedily; this PRICES the cut). No token explode — one
  // size(toks) projection per doc, then per-(source, L) integer sums
  // over the broadcast 3-row L axis. Exact, order-free.
  val t47_truncation_loss: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).cast("long").as("n"))
      .withColumn("l", explode(array(lit(32), lit(64), lit(96))))
      .groupBy("source", "l")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        sum(greatest(col("n") - col("l"), lit(0L))).as("tokens_lost"),
        sum((col("n") > col("l")).cast("long")).as("n_truncated"))
      .withColumn("loss_ratio",
        round(col("tokens_lost") / col("total_tokens").cast("double"), 4))
      .orderBy("source", "l")
  }

  // t48: VOCABULARY COVERAGE CURVE — the fraction of corpus token
  // OCCURRENCES covered by the top-k frequency-ranked types, k ∈
  // {10, 100, 1000}: the tokenizer-budget curve (t07 lists the vocab,
  // t43 fits its growth; this prices a vocab SIZE). One token explode
  // + one keyed agg to the vocab axis; the global top-k is
  // TakeOrderedAndProject (limit 1000 — the scalable global top-k, no
  // full sort), and the rank window rides the ≤1000-row result only.
  val t48_coverage_curve: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("f"))
    val tot = vocab.agg(sum("f").cast("double").as("tt"),
      count(lit(1)).as("v"))
    val top = vocab.orderBy(col("f").desc, col("term")).limit(1000)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("f").desc, col("term"))))
    top.crossJoin(broadcast(tot))
      .withColumn("k", explode(array(lit(10), lit(100), lit(1000))))
      .filter(col("rk") <= col("k"))
      .groupBy("k")
      .agg(round(sum("f") / first("tt"), 4).as("coverage"),
        count(lit(1)).as("n_terms"),
        first("v").as("vocab_size"))
      .orderBy("k")
  }

  // t50: QUALITY-YIELD CURVE — "what fraction of docs and TOKENS
  // survives a quality cut at τ?" for τ ∈ {0.3, 0.5, 0.7}: the
  // curation-budget curve read before fixing t24's threshold (cutting
  // docs is cheap; cutting TOKENS is what moves the training budget).
  // Scores and token counts come from t28's OWN weightedSampleScores
  // frame — structural consistency across the sampling/filter lanes —
  // then one projection + per-τ conditional sums over the broadcast
  // 3-row τ axis. Integer token sums; the only double is the rounded
  // score both engines already agree on (t28's oracle).
  val t50_quality_yield: Q = (s, d) => {
    weightedSampleScores(s, d)
      .select(col("doc_id"), col("score"),
        col("n_tokens").cast("long").as("nt"))
      .withColumn("tau", explode(array(lit(0.3), lit(0.5), lit(0.7))))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("score") >= col("tau")).cast("long")).as("n_kept"),
        sum("nt").as("total_tokens"),
        sum(when(col("score") >= col("tau"), col("nt")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("token_yield",
        round(col("tokens_kept") / col("total_tokens").cast("double"), 4))
      .orderBy("tau")
  }

  // t53: TOKEN-BUDGET WATERFILL — the curation decision t50's yield
  // curve informs: given a token budget (30% of the corpus), take
  // documents in DESCENDING quality order until the budget is spent,
  // and report the per-source allocation plus the score waterline
  // where selection stopped. The greedy cut is an exact cumulative
  // token sum over the (score desc, doc_id) order — at corpus scale
  // that is a rank problem, so it rides prefixSums (bucket-partitioned
  // running sums + broadcast B-row offsets, never a global window over
  // the document axis). Budget and cut are exact integer arithmetic
  // ((t*3) div 10, cum ≤ budget) — engine-identical; scores are t28's
  // 4dp-rounded values both engines already agree on.
  val t53_budget_waterfill: Q = (s, d) => {
    val scored = weightedSampleScores(s, d)
      .select(col("doc_id"), col("source"), col("score"),
        col("n_tokens").cast("long").as("nt"))
      // LAZY persist (q66's pattern): the scored panel is a narrow map,
      // and per-branch column pruning would re-tokenize documents per
      // consumer; the cache dedupes it with no build job
      .persist()
    graft.ops.Relational.prefixSums(scored, "score", Seq("nt"),
        desc = true, tie = Some("doc_id"))
      .withColumn("budget", expr("(nt_tot * 3) div 10"))
      .filter(col("nt_cum") <= col("budget"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_taken"),
        sum("nt").as("tokens_taken"),
        min("score").as("waterline_score"),
        round(sum("nt") / first("budget").cast("double"), 4)
          .as("budget_share"))
      .orderBy("source")
  }

  // t54: QUALITY-SCORE CALIBRATION AUDIT — is t02's score actually
  // separating the corpus (the question every filter threshold
  // assumes away): score quintiles × (doc count, mean tokens, exact-
  // dup share). Scores collapse to EXACT basis points (the 4dp round
  // is t02's own output contract, so ×10⁴ is an integer — the q107
  // trick that makes percentile bounds comparable across engines);
  // quintile bounds are exact percentiles broadcast back (q52/q107's
  // accepted shape — no global sort, no ntile window over the
  // corpus); the dup flag rides d01's md5(norm) groups via one keyed
  // count + an id-hash join back. Everything after the two keyed
  // collapses is arithmetic on the bounded 5-row axis.
  val t54_quality_calibration: Q = (s, d) => {
    val sc = t02_quality(s, d).select(col("doc_id"), col("n_tokens"),
      expr("cast(round(score * 10000) as bigint)").as("bp"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(Dedup.norm(col("text"))).as("h"))
    val flags = docs
      .join(docs.groupBy("h").agg(count(lit(1)).as("nh")), "h")
      .select(col("doc_id"), (col("nh") > 1).cast("long").as("dup"))
    val j = sc.join(flags, "doc_id")
    // bounds rounded to 4dp BEFORE the >= comparisons: the interpolated
    // quantile has at most one true decimal (f ∈ {0,.2,.4,.6,.8}), so
    // the round is exact and absorbs the cross-engine ulp noise that
    // could otherwise flip a doc sitting on an integer-bp boundary
    // quintile bounds via the bounded rank machinery (r16: the
    // doc-axis Percentile buffer was q37's funnel class)
    val b = graft.ops.Relational.exactQuantiles(
        j, "bp", Seq(0.2, 0.4, 0.6, 0.8))
      .select(transform(col("qs"), x => round(x, 4)).as("b"))
    j.crossJoin(broadcast(b))
      .select(col("n_tokens"), col("dup"),
        (0 to 3).map(i =>
          (col("bp") >= element_at(col("b"), i + 1)).cast("int"))
          .foldLeft(lit(1))(_ + _).as("quintile"))
      .groupBy("quintile")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_tokens"), 4).as("mean_tokens"),
        round(sum("dup") / count(lit(1)).cast("double"), 4).as("dup_share"))
      .orderBy("quintile")
  }

  val queries: Map[String, Q] = Map(
    "t54_quality_calibration" -> t54_quality_calibration,
    "t53_budget_waterfill" -> t53_budget_waterfill,
    "t50_quality_yield" -> t50_quality_yield,
    "t48_coverage_curve" -> t48_coverage_curve,
    "t47_truncation_loss" -> t47_truncation_loss,
    "t46_oov_audit" -> t46_oov_audit,
    "t45_hill_tail" -> t45_hill_tail,
    "t44_freq_spectrum" -> t44_freq_spectrum,
    "t43_heaps" -> t43_heaps,
    "t42_epoch_schedule" -> t42_epoch_schedule,
    "t41_lexical_diversity" -> t41_lexical_diversity,
    "t40_jsd_drift" -> t40_jsd_drift,
    "t39_split_leakage" -> t39_split_leakage,
    "t38_split_builder" -> t38_split_builder,
    "t37_kneser_ney" -> t37_kneser_ney,
    "t36_unigram_encode" -> t36_unigram_encode,
    "t35_unigram_train" -> t35_unigram_train,
    "t34_zipf_fit" -> t34_zipf_fit,
    "t33_code_detect" -> t33_code_detect,
    "t32_char_entropy" -> t32_char_entropy,
    "t31_readability" -> t31_readability,
    "t30_langid_eval" -> t30_langid_eval,
    "t29_shingle_novelty" -> t29_shingle_novelty,
    "t28_weighted_sample" -> t28_weighted_sample,
    "t27_pmi_collocations" -> t27_pmi_collocations,
    "t26_bigram_lm" -> t26_bigram_lm,
    "s20_streaming_topk" -> s20_streaming_topk,
    "t25_fertility" -> t25_fertility,
    "t24_perplexity_filter" -> t24_perplexity_filter,
    "t23_mix_temperature" -> t23_mix_temperature,
    "t20_normalize" -> t20_normalize,
    "t21_dsir" -> t21_dsir,
    "t18_bpe_train" -> t18_bpe_train,
    "t19_bpe_encode" -> t19_bpe_encode,
    "t16_lm_score" -> t16_lm_score,
    "t15_boilerplate" -> t15_boilerplate,
    "t12_repetition" -> t12_repetition,
    "t13_source_mix" -> t13_source_mix,
    "t14_sequence_packing" -> t14_sequence_packing,
    "t01_langid" -> t01_langid,
    "t02_quality" -> t02_quality,
    "t03_token_count" -> t03_token_count,
    "t04_doc_fingerprint" -> t04_doc_fingerprint,
    "t05_ngram_profile" -> t05_ngram_profile,
    "t06_chunking" -> t06_chunking,
    "t07_vocab" -> t07_vocab,
    "t08_tfidf" -> t08_tfidf,
    "t09_pii_scrub" -> t09_pii_scrub,
    "t10_quality_sample" -> t10_quality_sample,
    "t11_heavy_hitters" -> t11_heavy_hitters,
  )

  private val sqlToks =
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

  private def sqlHits(words: Seq[String]): String =
    s"len(list_filter($sqlToks, w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"

  val oracle: Map[String, String] = Map(
    "t54_quality_calibration" ->
      s"""WITH m AS (
         |  SELECT doc_id, length(text) AS len_chars,
         |    len($sqlToks) AS n_tokens,
         |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_chars
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(round(round(least(n_tokens / 100.0, 1.0) * 0.5
         |      + (stop_hits / n_tokens) * 0.3
         |      + (1.0 - punct_chars / len_chars) * 0.2, 4) * 10000)
         |      AS BIGINT) AS bp
         |  FROM m),
         |dupf AS (
         |  SELECT doc_id,
         |    (count(*) OVER (PARTITION BY
         |      md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))) > 1)::INT
         |      AS dup
         |  FROM documents),
         |j AS (SELECT sc.doc_id, n_tokens, bp, dup
         |      FROM sc JOIN dupf ON sc.doc_id = dupf.doc_id),
         |b AS (SELECT [round(x, 4) for x in
         |        quantile_cont(bp, [0.2, 0.4, 0.6, 0.8])] AS b FROM j),
         |g AS (
         |  SELECT n_tokens, dup,
         |    1 + (bp >= b[1])::INT + (bp >= b[2])::INT
         |      + (bp >= b[3])::INT + (bp >= b[4])::INT AS quintile
         |  FROM j, b)
         |SELECT quintile, count(*)::BIGINT AS n_docs,
         |  round(avg(n_tokens), 4) AS mean_tokens,
         |  round(sum(dup) / count(*)::DOUBLE, 4) AS dup_share
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "t53_budget_waterfill" ->
      s"""WITH m AS (
         |  SELECT doc_id, source, length(text) AS len_chars,
         |    len($sqlToks) AS n_tokens,
         |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |      AS punct_chars
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source, n_tokens::BIGINT AS nt,
         |    round(least(n_tokens / 100.0, 1.0) * 0.5
         |      + (stop_hits / n_tokens) * 0.3
         |      + (1.0 - punct_chars / len_chars) * 0.2, 4) AS score
         |  FROM m),
         |cum AS (
         |  SELECT source, score, nt,
         |    sum(nt) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS cum_nt
         |  FROM sc),
         |b AS (SELECT (sum(nt)::BIGINT * 3) // 10 AS budget FROM sc)
         |SELECT source, count(*)::BIGINT AS docs_taken,
         |  sum(nt)::BIGINT AS tokens_taken,
         |  min(score) AS waterline_score,
         |  round(sum(nt) / (SELECT budget FROM b)::DOUBLE, 4)
         |    AS budget_share
         |FROM cum WHERE cum_nt <= (SELECT budget FROM b)
         |GROUP BY source ORDER BY source""".stripMargin,
    "t50_quality_yield" ->
      s"""WITH m AS (
         |  SELECT doc_id, length(text) AS len_chars,
         |    len($sqlToks) AS n_tokens,
         |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |      AS punct_chars
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, n_tokens::BIGINT AS nt,
         |    round(least(n_tokens / 100.0, 1.0) * 0.5
         |      + (stop_hits / n_tokens) * 0.3
         |      + (1.0 - punct_chars / len_chars) * 0.2, 4) AS score
         |  FROM m),
         |x AS (
         |  SELECT doc_id, score, nt, tau FROM sc,
         |    (VALUES (0.3::DOUBLE), (0.5::DOUBLE), (0.7::DOUBLE)) t(tau))
         |SELECT tau, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN score >= tau THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(nt)::BIGINT AS total_tokens,
         |  sum(CASE WHEN score >= tau THEN nt ELSE 0 END)::BIGINT
         |    AS tokens_kept,
         |  round(sum(CASE WHEN score >= tau THEN nt ELSE 0 END)
         |    / sum(nt)::DOUBLE, 4) AS token_yield
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "t47_truncation_loss" ->
      s"""WITH base AS (
         |  SELECT source, len($sqlToks)::BIGINT AS n FROM documents),
         |x AS (
         |  SELECT source, n, l FROM base, (VALUES (32), (64), (96)) t(l))
         |SELECT source, l, count(*)::BIGINT AS n_docs,
         |  sum(n)::BIGINT AS total_tokens,
         |  sum(greatest(n - l, 0))::BIGINT AS tokens_lost,
         |  sum(CASE WHEN n > l THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
         |  round(sum(greatest(n - l, 0)) / sum(n)::DOUBLE, 4) AS loss_ratio
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t48_coverage_curve" ->
      s"""WITH vocab AS (
         |  SELECT t AS term, count(*)::BIGINT AS f
         |  FROM (SELECT unnest($sqlToks) AS t FROM documents)
         |  WHERE length(t) > 0 GROUP BY 1),
         |tot AS (
         |  SELECT sum(f)::DOUBLE AS tt, count(*)::BIGINT AS v FROM vocab),
         |top AS (
         |  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS rk
         |  FROM vocab ORDER BY f DESC, term LIMIT 1000),
         |x AS (
         |  SELECT rk, f, k FROM top, (VALUES (10), (100), (1000)) t(k)
         |  WHERE rk <= k)
         |SELECT k, round(sum(f) / (SELECT tt FROM tot), 4) AS coverage,
         |  count(*)::BIGINT AS n_terms, (SELECT v FROM tot) AS vocab_size
         |FROM x GROUP BY k ORDER BY k""".stripMargin,
    "t46_oov_audit" ->
      s"""WITH sp AS (
         |  SELECT CASE
         |      WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT
         |        % 100 < 90 THEN 'train'
         |      WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT
         |        % 100 < 95 THEN 'val'
         |      ELSE 'test' END AS split,
         |    $sqlToks AS t
         |  FROM documents),
         |tk AS (
         |  SELECT split, unnest(CASE WHEN len(t) >= 3 THEN
         |      [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
         |    ELSE [] END) AS g
         |  FROM sp),
         |vocab AS (SELECT DISTINCT g FROM tk WHERE split = 'train'),
         |j AS (
         |  SELECT tk.split, tk.g, vocab.g IS NOT NULL AS known
         |  FROM tk LEFT JOIN vocab ON tk.g = vocab.g)
         |SELECT split, count(*)::BIGINT AS n_tokens,
         |  sum(CASE WHEN NOT known THEN 1 ELSE 0 END)::BIGINT AS n_oov_tokens,
         |  count(DISTINCT g)::BIGINT AS n_types,
         |  count(DISTINCT CASE WHEN NOT known THEN g END)::BIGINT
         |    AS n_oov_types,
         |  round(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) /
         |    count(*)::DOUBLE, 6) AS oov_token_rate,
         |  round(count(DISTINCT CASE WHEN NOT known THEN g END) /
         |    count(DISTINCT g)::DOUBLE, 6) AS oov_type_rate
         |FROM j GROUP BY split ORDER BY split""".stripMargin,
    "t45_hill_tail" ->
      """WITH top AS (
        |  SELECT n_chars::DOUBLE AS x FROM documents WHERE n_chars > 0
        |  ORDER BY x DESC LIMIT 201),
        |thr AS (SELECT min(x) AS xk1 FROM top),
        |tail AS (SELECT x, xk1 FROM top, thr WHERE x > xk1)
        |SELECT count(*)::BIGINT AS n_tail, min(xk1) AS threshold,
        |  round(count(*) / sum(ln(x / xk1)), 4) AS hill_alpha
        |FROM tail""".stripMargin,
    "t43_heaps" ->
      s"""WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
         |tk AS (SELECT doc_id, $sqlToks AS w FROM documents),
         |docs AS (
         |  SELECT least(ceil((doc_id - mn + 1) * 16 / (mx - mn + 1)), 16)::INT
         |    AS pidx,
         |    CASE WHEN len(w) >= 3 THEN
         |      [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
         |    ELSE [] END AS t
         |  FROM tk, b),
         |mass AS (SELECT pidx, sum(len(t))::BIGINT AS toks FROM docs GROUP BY 1),
         |firstp AS (
         |  SELECT pidx, count(*)::BIGINT AS newv FROM (
         |    SELECT tok, min(pidx) AS pidx FROM (
         |      SELECT pidx, unnest(t) AS tok FROM docs) GROUP BY 1)
         |  GROUP BY 1),
         |axis AS (SELECT unnest(range(1, 17))::INT AS pidx),
         |curve AS (
         |  SELECT pidx AS prefix,
         |    sum(coalesce(toks, 0)) OVER (ORDER BY pidx ROWS UNBOUNDED PRECEDING)
         |      ::BIGINT AS cum_tokens,
         |    sum(coalesce(newv, 0)) OVER (ORDER BY pidx ROWS UNBOUNDED PRECEDING)
         |      ::BIGINT AS cum_vocab
         |  FROM axis LEFT JOIN mass USING (pidx) LEFT JOIN firstp USING (pidx)),
         |cv AS (SELECT * FROM curve WHERE cum_tokens > 0),
         |fit AS (
         |  SELECT round(regr_slope(ln(cum_vocab::DOUBLE), ln(cum_tokens::DOUBLE)),
         |      4) AS heaps_beta,
         |    round(exp(regr_intercept(ln(cum_vocab::DOUBLE),
         |      ln(cum_tokens::DOUBLE))), 2) AS heaps_k
         |  FROM cv)
         |SELECT prefix, cum_tokens, cum_vocab, heaps_beta, heaps_k
         |FROM cv, fit ORDER BY prefix""".stripMargin,
    "t44_freq_spectrum" ->
      s"""WITH tk AS (SELECT $sqlToks AS t FROM documents),
         |g AS (
         |  SELECT unnest(CASE WHEN len(t) >= 3 THEN
         |      [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
         |    ELSE [] END) AS g
         |  FROM tk),
         |c AS (SELECT g, count(*)::BIGINT AS c FROM g GROUP BY 1),
         |spec AS (SELECT c AS r, count(*)::BIGINT AS n_types FROM c GROUP BY 1),
         |tot AS (SELECT sum(c)::DOUBLE AS n_tokens FROM c)
         |SELECT s.r, s.n_types,
         |  round((s.r + 1) * s2.n_types / s.n_types, 4) AS gt_cstar,
         |  round(s.r * s.n_types / n_tokens, 6) AS token_share
         |FROM spec s LEFT JOIN spec s2 ON s2.r = s.r + 1, tot
         |WHERE s.r <= 10 ORDER BY s.r""".stripMargin,
    "t40_jsd_drift" ->
      s"""WITH counts AS (
         |  SELECT source, unnest($sqlToks) AS tok FROM documents),
         |c AS (SELECT source, tok, count(*)::BIGINT AS n FROM counts GROUP BY 1, 2),
         |topk AS (
         |  SELECT tok FROM (SELECT tok, sum(n) AS tn FROM c GROUP BY 1)
         |  ORDER BY tn DESC, tok LIMIT $JsdTopK),
         |tot AS (
         |  SELECT source, sum(n)::BIGINT AS tot FROM c
         |  WHERE tok IN (SELECT tok FROM topk) GROUP BY 1),
         |dense AS (
         |  SELECT t.source, k.tok, coalesce(c.n, 0) / t.tot::DOUBLE AS p
         |  FROM tot t CROSS JOIN topk k
         |  LEFT JOIN c ON c.source = t.source AND c.tok = k.tok)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  round(sum(
         |    CASE WHEN a.p > 0 THEN a.p * ln(a.p / ((a.p + b.p) / 2)) ELSE 0 END / 2 +
         |    CASE WHEN b.p > 0 THEN b.p * ln(b.p / ((a.p + b.p) / 2)) ELSE 0 END / 2),
         |    4) AS jsd
         |FROM dense a JOIN dense b ON a.tok = b.tok AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t41_lexical_diversity" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, unnest($sqlToks) AS tok FROM documents),
         |perdoc AS (
         |  SELECT doc_id, source, count(*)::BIGINT AS n_tokens,
         |    count(DISTINCT tok) / count(*)::DOUBLE AS ttr
         |  FROM t GROUP BY 1, 2)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  round(avg(ttr), 4) AS avg_ttr,
         |  round(min(ttr), 4) AS min_ttr,
         |  round(max(ttr), 4) AS max_ttr,
         |  sum(n_tokens)::BIGINT AS total_tokens
         |FROM perdoc GROUP BY 1 ORDER BY source""".stripMargin,
    "t39_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5 THEN
        |    list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])
        |    ELSE [] END AS shingles
        |  FROM toks),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
        |pr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n_sh AS n1, b.n_sh AS n2,
        |    count(*) AS inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |dup AS (
        |  SELECT d1, d2 FROM pr
        |  WHERE round(inter / (n1 + n2 - inter), 6) >= 0.8),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
        |        % 100 < 90 THEN 'train'
        |      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
        |        % 100 < 95 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |j AS (
        |  SELECT d1, d2, s1.split AS split_a, s2.split AS split_b
        |  FROM dup JOIN sp s1 ON s1.doc_id = d1 JOIN sp s2 ON s2.doc_id = d2)
        |SELECT least(split_a, split_b) AS split_a,
        |  greatest(split_a, split_b) AS split_b,
        |  count(*)::BIGINT AS n_pairs,
        |  count(DISTINCT CASE WHEN split_a <> split_b THEN
        |    CASE WHEN split_a = 'train' THEN d1
        |         WHEN split_b = 'train' THEN d2 END END)::BIGINT
        |    AS n_train_docs_leaking,
        |  (least(split_a, split_b) <> greatest(split_a, split_b))::INT AS is_leak
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t38_split_builder" ->
      """WITH sp AS (
        |  SELECT source, n_chars,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
        |        % 100 < 90 THEN 'train'
        |      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
        |        % 100 < 95 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |g AS (
        |  SELECT source, split, count(*)::BIGINT AS n_docs,
        |    sum(n_chars)::BIGINT AS n_chars
        |  FROM sp GROUP BY 1, 2)
        |SELECT source, split, n_docs, n_chars,
        |  round(n_docs / sum(n_docs) OVER (PARTITION BY source), 4) AS frac
        |FROM g ORDER BY source, split""".stripMargin,
    "t37_kneser_ney" ->
      s"""WITH b AS (SELECT doc_id, $sqlToks AS t FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
        |  FROM b),
        |bg AS (
        |  SELECT a.w AS w1, c.w AS w2, count(*)::DOUBLE AS c12
        |  FROM tok a JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |left1 AS (
        |  SELECT w1, sum(c12) AS c1, count(*)::DOUBLE AS n1fwd
        |  FROM bg GROUP BY 1),
        |right1 AS (SELECT w2, count(*)::DOUBLE AS n1bwd FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS ntypes FROM bg)
        |SELECT w1, w2, c12::BIGINT AS c_bigram,
        |  round(greatest(c12 - $KnDiscount, 0) / c1 +
        |    $KnDiscount / c1 * n1fwd * (n1bwd / ntypes), 6) AS p_kn
        |FROM bg JOIN left1 USING (w1) JOIN right1 USING (w2), tot
        |ORDER BY p_kn DESC, w1, w2 LIMIT 50""".stripMargin,
    "t34_zipf_fit" ->
      s"""WITH tok AS (SELECT unnest($sqlToks) AS tok FROM documents),
        |v AS (SELECT tok, count(*)::DOUBLE AS n FROM tok GROUP BY 1),
        |r AS (SELECT n,
        |  row_number() OVER (ORDER BY n DESC, tok)::DOUBLE AS rank FROM v)
        |SELECT count(*)::BIGINT AS n_types,
        |  round(regr_slope(log10(n), log10(rank)), 4) AS slope,
        |  round(regr_intercept(log10(n), log10(rank)), 4) AS intercept,
        |  round(regr_r2(log10(n), log10(rank)), 6) AS r2
        |FROM r""".stripMargin,
    "t31_readability" ->
      s"""WITH b AS (SELECT doc_id, $sqlToks AS t, text FROM documents),
        |c AS (SELECT doc_id,
        |  len(t)::BIGINT AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
        |    AS n_sentences,
        |  (len(regexp_extract_all(lower(text), '[aeiouy]+')) +
        |   len(list_filter(t, w -> NOT regexp_matches(w, '[aeiouy]'))))::BIGINT
        |    AS n_syllables
        | FROM b)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835 - 1.015*(n_words/n_sentences)
        |    - 84.6*(n_syllables/n_words), 4) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    "t32_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(k) AS n, count(*)::INT AS nd
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id, n::BIGINT AS n_chars, nd AS n_distinct_chars,
        |  round(-sum(k/n * log2(k/n)), 4) AS entropy
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY doc_id, n, nd ORDER BY doc_id""".stripMargin,
    "t33_code_detect" ->
      s"""WITH u AS (
        |  SELECT 'prose' AS kind, doc_id AS id,
        |    round(len(regexp_extract_all(text, '[{}();=\\[\\]<>:"]')) /
        |      greatest(length(text), 1), 4) AS code_score
        |  FROM documents
        |  UNION ALL
        |  SELECT 'json', event_id,
        |    round(len(regexp_extract_all(props, '[{}();=\\[\\]<>:"]')) /
        |      greatest(length(props), 1), 4)
        |  FROM events WHERE event_id % 100 = 0)
        |SELECT kind, id, code_score,
        |  (code_score > $CodeScoreThreshold)::INT AS is_code
        |FROM u ORDER BY kind, id""".stripMargin,
    "t30_langid_eval" -> {
      val hitCols = Profiles.map { case (l, ws) => s"${sqlHits(ws)} AS n_$l" }
      val langs = Profiles.map(_._1)
      val caseArms = langs.init.map { l =>
        val cond = langs.filter(_ != l).map(o => s"n_$l >= n_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString(" ")
      s"""WITH h AS (
         |  SELECT doc_id, lang, ${hitCols.mkString(", ")} FROM documents),
         |p AS (
         |  SELECT lang, CASE $caseArms ELSE '${langs.last}' END AS predicted_lang
         |  FROM h),
         |cm AS (
         |  SELECT lang, predicted_lang, count(*)::BIGINT AS n
         |  FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*)::DOUBLE AS n_true FROM p GROUP BY 1)
         |SELECT lang, predicted_lang, n, round(n / n_true, 4) AS frac
         |FROM cm JOIN tot USING (lang)
         |ORDER BY lang, predicted_lang""".stripMargin
    },
    "t29_shingle_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, CASE WHEN len(t) >= 5 THEN
        |    list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)])
        |    ELSE [] END AS shingles
        |  FROM toks),
        |sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
        |freq AS (SELECT s, count(*)::BIGINT AS ndocs FROM sh GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_shingles,
        |  round(avg((ndocs = 1)::INT), 4) AS novelty
        |FROM sh JOIN freq USING (s)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t28_weighted_sample" ->
      s"""WITH m AS (
        |  SELECT doc_id, source, length(text) AS len_chars,
        |    len($sqlToks) AS n_tokens,
        |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_chars
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source,
        |    round(least(n_tokens / 100.0, 1.0) * 0.5
        |      + (stop_hits / n_tokens) * 0.3
        |      + (1.0 - punct_chars / len_chars) * 0.2, 4) AS score
        |  FROM m),
        |k AS (
        |  SELECT doc_id, source, score,
        |    ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1.0)
        |      / 281474976710657.0) / score AS k
        |  FROM sc),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        |  FROM k)
        |SELECT source, rn::INT AS rn, doc_id, score
        |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "t27_pmi_collocations" ->
      s"""WITH base AS (
        |  SELECT doc_id, $sqlToks AS t FROM documents),
        |bg0 AS (
        |  SELECT doc_id, unnest(list_zip(t, t[2:])) AS z FROM base),
        |bg AS (
        |  SELECT z[1] AS a, z[2] AS b FROM bg0 WHERE z[2] IS NOT NULL),
        |pairs AS (
        |  SELECT a, b, count(*)::DOUBLE AS cab FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= $PmiMinCount),
        |la AS (SELECT a, count(*)::DOUBLE AS ca FROM bg GROUP BY 1),
        |rb AS (SELECT b, count(*)::DOUBLE AS cb FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM bg)
        |SELECT a, b, cab::BIGINT AS n_ab,
        |  round(ln(cab * n / (ca * cb)), 4) AS pmi
        |FROM pairs JOIN la USING (a) JOIN rb USING (b), tot
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "t26_bigram_lm" ->
      s"""WITH base AS (
        |  SELECT doc_id, $sqlToks AS t FROM documents),
        |bg0 AS (
        |  SELECT doc_id, unnest(list_zip(t, t[2:])) AS z FROM base),
        |bg AS (
        |  SELECT doc_id, z[1] AS a, z[2] AS b FROM bg0 WHERE z[2] IS NOT NULL),
        |counts AS (SELECT a, b, count(*)::DOUBLE AS cab FROM bg GROUP BY 1, 2),
        |lefts AS (SELECT a, count(*)::DOUBLE AS ca FROM bg GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(avg(-ln(cab / ca)), 4) AS nll
        |FROM bg JOIN counts USING (a, b) JOIN lefts USING (a)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s20_streaming_topk" ->
      s"""WITH tok AS (SELECT unnest($sqlToks) AS tok FROM documents)
        |SELECT tok, count(*)::BIGINT AS n FROM tok
        |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "t42_epoch_schedule" ->
      """WITH per AS (
        |  SELECT source,
        |    sum(len(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))), ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per),
        |p AS (SELECT source, n_tokens, n_tokens::DOUBLE / tot AS p, tot FROM per, tot),
        |z AS (SELECT sum(pow(p, 0.3)) AS z FROM p),
        |p1 AS (
        |  SELECT source, n_tokens, pow(p, 0.3) / z AS w, tot * 3.8 AS B,
        |    n_tokens * 4.0 AS cap, pow(p, 0.3) / z * tot * 3.8 AS req,
        |    least(pow(p, 0.3) / z * tot * 3.8, n_tokens * 4.0) AS a1
        |  FROM p, z),
        |lft AS (
        |  SELECT any_value(B) - sum(a1) AS L,
        |    sum(CASE WHEN req < cap THEN w ELSE 0 END) AS wu FROM p1)
        |SELECT source, n_tokens, round(w, 6) AS weight,
        |  round(req / n_tokens, 4) AS epochs_requested,
        |  round(CASE WHEN req < cap AND wu > 0
        |    THEN least(a1 + w / wu * L, cap) ELSE a1 END / n_tokens, 4)
        |    AS epochs_granted,
        |  req > cap AS capped
        |FROM p1, lft ORDER BY source""".stripMargin,
    "t23_mix_temperature" ->
      """WITH per AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))), ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per),
        |p AS (SELECT source, n_docs, n_tokens, n_tokens::DOUBLE / tot AS p FROM per, tot),
        |z AS (SELECT sum(pow(p, 0.3)) AS z FROM p)
        |SELECT source, n_docs, n_tokens, round(p, 6) AS p,
        |  round(pow(p, 0.3) / z, 6) AS w,
        |  round(1000000.0 * (pow(p, 0.3) / z) / n_tokens::DOUBLE, 4) AS epochs
        |FROM p, z ORDER BY source""".stripMargin,
    "t20_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 1 THEN 'Cafe' || chr(769) || ' A' || chr(778) || 'rhus ' || chr(8212) || ' ' || text
        |      WHEN 2 THEN 'Caf' || chr(233) || ' ' || chr(197) || 'rhus ' || chr(8212) || ' ' || text
        |      ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS len_raw, length(nfc_normalize(raw)) AS len_nfc,
        |  (nfc_normalize(raw) <> raw)::INT AS changed,
        |  substring(nfc_normalize(raw), 1, 10) AS nfc_prefix
        |FROM raw ORDER BY doc_id""".stripMargin,
    "t21_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))), ' ')) AS tok
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, lang, tok,
        |    ((strpos('0123456789abcdef', substring(md5(tok),1,1))-1)*16 +
        |     (strpos('0123456789abcdef', substring(md5(tok),2,1))-1)) % 64 AS b
        |  FROM toks),
        |stats AS (
        |  SELECT b, sum(CASE WHEN lang='en' THEN 1 ELSE 0 END)::BIGINT AS tgt,
        |         sum(CASE WHEN lang<>'en' THEN 1 ELSE 0 END)::BIGINT AS src
        |  FROM tb GROUP BY 1),
        |tot AS (SELECT sum(tgt) AS tgt_tot, sum(src) AS src_tot FROM stats),
        |lam AS (SELECT b, ln((tgt+0.5)/(tgt_tot+32.0)) - ln((src+0.5)/(src_tot+32.0)) AS lam FROM stats, tot)
        |SELECT t.doc_id, t.lang, count(*)::BIGINT AS n_toks, round(sum(l.lam), 4) AS w
        |FROM tb t JOIN lam l USING (b)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "t24_perplexity_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |v AS (SELECT tok, count(*)::DOUBLE AS c FROM toks GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM v),
         |nll AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |    round(avg(-ln(c / t)), 4) AS nll
         |  FROM toks JOIN v USING (tok), tot GROUP BY 1),
         |bins AS (
         |  SELECT (floor(nll * 10) / 10.0)::DOUBLE AS nll_bin, n_tokens, nll
         |  FROM nll)
         |SELECT nll_bin, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS n_tokens,
         |  round(min(nll), 4) AS min_nll, round(max(nll), 4) AS max_nll,
         |  nll_bin < $PerplexityKeepBelow AS keep
         |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin,
    "t16_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |v AS (SELECT tok, count(*)::DOUBLE AS c FROM toks GROUP BY 1),
         |tot AS (SELECT sum(c) AS t FROM v)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  round(avg(-ln(c / t)), 4) AS nll
         |FROM toks JOIN v USING (tok), tot
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t15_boilerplate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $sqlToks AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, source, unnest(CASE WHEN len(t) >= 3
         |    THEN [array_to_string(t[i+1:i+3], ' ') for i in range(0, len(t) - 2)]
         |    ELSE [] END) AS gram
         |  FROM toks),
         |top AS (
         |  SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1
         |  ORDER BY df DESC, gram LIMIT 50)
         |SELECT g.source, count(DISTINCT g.doc_id)::BIGINT AS docs_hit,
         |  count(*)::BIGINT AS boiler_hits,
         |  count(DISTINCT g.gram)::BIGINT AS grams_seen
         |FROM grams g JOIN top ON g.gram = top.gram
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t13_source_mix" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, len($sqlToks) AS n_tokens,
         |    CASE regexp_extract(source, '(\\d+)', 1)::INT % 4
         |      WHEN 0 THEN 150 WHEN 1 THEN 100 WHEN 2 THEN 50
         |      ELSE 20 END AS rate,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS pct
         |  FROM documents),
         |c AS (
         |  SELECT *, (rate // 100)::BIGINT
         |      + (CASE WHEN pct < rate % 100 THEN 1 ELSE 0 END)::BIGINT AS n_copies
         |  FROM base)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  min(rate)::BIGINT AS rate,
         |  sum(n_copies)::BIGINT AS n_emitted,
         |  round(sum(n_copies) / count(*)::DOUBLE, 4) AS achieved_epochs,
         |  sum(n_copies * n_tokens)::BIGINT AS emitted_tokens
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "t14_sequence_packing" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, len($sqlToks) AS n_tokens FROM documents),
         |packed AS (
         |  SELECT source, n_tokens,
         |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS seq_idx
         |  FROM base),
         |seqs AS (
         |  SELECT source, seq_idx, count(*) AS n_docs, sum(n_tokens) AS n_tokens
         |  FROM packed GROUP BY 1, 2)
         |SELECT source, count(*)::BIGINT AS n_seqs,
         |  sum(n_docs)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  round(avg(n_tokens / 2048.0), 4) AS avg_fill
         |FROM seqs GROUP BY 1 ORDER BY 1""".stripMargin,
    "t12_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($sqlToks) AS tok,
         |    generate_subscripts($sqlToks, 1) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, tok || ' ' || lead(tok) OVER w AS bg
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |cnts AS (
         |  SELECT doc_id, bg, count(*) AS cnt FROM bg
         |  WHERE bg IS NOT NULL GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
         |    count(*)::BIGINT AS n_distinct_bigrams,
         |    max(cnt) AS top_count
         |  FROM cnts GROUP BY 1)
         |SELECT doc_id, n_bigrams, n_distinct_bigrams,
         |  round(1 - n_distinct_bigrams / n_bigrams::DOUBLE, 4) AS dup_bigram_frac,
         |  round(top_count / n_bigrams::DOUBLE, 4) AS top_bigram_frac,
         |  round(1 - n_distinct_bigrams / n_bigrams::DOUBLE, 4) > 0.2 AS repetitive
         |FROM agg ORDER BY doc_id""".stripMargin,
    "t01_langid" -> {
      val hitCols = Profiles.map { case (l, ws) => s"${sqlHits(ws)} AS n_$l" }
      val langs = Profiles.map(_._1)
      val caseArms = langs.init.map { l =>
        val cond = langs.filter(_ != l).map(o => s"n_$l >= n_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString(" ")
      s"""WITH h AS (
         |  SELECT doc_id, lang, ${hitCols.mkString(", ")} FROM documents)
         |SELECT doc_id, lang, ${langs.map(l => s"n_$l").mkString(", ")},
         |  CASE $caseArms ELSE '${langs.last}' END AS predicted_lang,
         |  (CASE $caseArms ELSE '${langs.last}' END = lang)::INT AS correct
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "t10_quality_sample" ->
      s"""WITH m AS (
         |  SELECT doc_id, length(text) AS len_chars,
         |    len($sqlToks) AS n_tokens,
         |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_chars
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, n_tokens,
         |    round(least(n_tokens / 100.0, 1.0) * 0.5
         |      + (stop_hits / n_tokens) * 0.3
         |      + (1.0 - punct_chars / len_chars) * 0.2, 4) AS score,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100 AS pct
         |  FROM m),
         |b AS (
         |  SELECT score, n_tokens,
         |    CASE WHEN score >= 0.8 THEN 'high'
         |         WHEN score >= 0.6 THEN 'mid' ELSE 'low' END AS bucket,
         |    CASE WHEN score >= 0.8 THEN 100
         |         WHEN score >= 0.6 THEN 50 ELSE 20 END AS rate, pct
         |  FROM sc)
         |SELECT bucket, count(*)::BIGINT AS n_docs,
         |  sum((pct < rate)::INT)::BIGINT AS n_kept,
         |  round(avg(score), 4) AS avg_score,
         |  sum(CASE WHEN pct < rate THEN n_tokens END)::BIGINT AS kept_tokens
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "t02_quality" ->
      s"""WITH m AS (
         |  SELECT doc_id, length(text) AS len_chars,
         |    len($sqlToks) AS n_tokens,
         |    ${sqlHits(Seq("the", "a", "of"))} AS stop_hits,
         |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_chars
         |  FROM documents)
         |SELECT doc_id, len_chars, n_tokens, stop_hits, punct_chars,
         |  round(least(n_tokens / 100.0, 1.0) * 0.5
         |    + (stop_hits / n_tokens) * 0.3
         |    + (1.0 - punct_chars / len_chars) * 0.2, 4) AS score
         |FROM m ORDER BY doc_id""".stripMargin,
    "t03_token_count" ->
      s"""WITH m AS (
         |  SELECT source, len($sqlToks) AS n_ws,
         |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_ws)::BIGINT AS total_ws_tokens,
         |  sum(n_bpe)::BIGINT AS total_bpe_tokens,
         |  round(avg(n_ws), 4) AS avg_ws_tokens
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "t05_ngram_profile" ->
      """WITH n AS (
        |  SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
        |  FROM documents),
        |grams AS (
        |  SELECT unnest(CASE WHEN len(s) >= 3
        |    THEN [substr(s, i, 3) for i in range(1, len(s) - 1)]
        |    ELSE [] END) AS gram
        |  FROM n)
        |SELECT gram, count(*)::BIGINT AS n FROM grams
        |GROUP BY 1 ORDER BY n DESC, gram LIMIT 50""".stripMargin,
    "t06_chunking" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlToks AS t FROM documents),
         |ch AS (
         |  SELECT doc_id, len(t) AS n, t,
         |    unnest(range(0, CASE WHEN len(t) <= 50 THEN 1
         |      ELSE ((len(t) - 50 + 39) // 40) + 1 END)) AS chunk_idx
         |  FROM toks)
         |SELECT doc_id, chunk_idx::INT AS chunk_idx,
         |  least(50, n - chunk_idx * 40)::BIGINT AS n_toks,
         |  md5(array_to_string(t[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ')) AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "t07_vocab" ->
      s"""WITH f AS (
         |  SELECT unnest($sqlToks) AS tok FROM documents),
         |c AS (SELECT tok, count(*)::BIGINT AS n FROM f GROUP BY 1)
         |SELECT row_number() OVER (ORDER BY n DESC, tok)::INT AS rank, tok, n
         |FROM c ORDER BY n DESC, tok LIMIT 30""".stripMargin,
    "t08_tfidf" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tk GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, term,
         |    round(tf * ln((SELECT count(*)::DOUBLE FROM documents) / df), 4) AS tfidf
         |  FROM tf JOIN df USING (term)),
         |r AS (
         |  SELECT doc_id, term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)::INT AS rk
         |  FROM sc)
         |SELECT doc_id, rk, term, tfidf FROM r WHERE rk <= 5
         |ORDER BY doc_id, rk""".stripMargin,
    "t09_pii_scrub" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact u' || doc_id::VARCHAR
         |    || '@example.com tel 555-'
         |    || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
         |    || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         |    || ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.'
         |    || (doc_id % 100)::VARCHAR AS pii
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, pii, regexp_replace(regexp_replace(regexp_replace(
         |    pii, '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g'),
         |    '$Ipv4Re', '[IP]', 'g') AS scrubbed
         |  FROM aug)
         |SELECT doc_id,
         |  len(regexp_extract_all(pii, '$EmailRe'))::INT AS n_emails,
         |  len(regexp_extract_all(pii, '$PhoneRe'))::INT AS n_phones,
         |  len(regexp_extract_all(pii, '$Ipv4Re'))::INT AS n_ips,
         |  (len(regexp_extract_all(scrubbed, '$EmailRe'))
         |    + len(regexp_extract_all(scrubbed, '$PhoneRe'))
         |    + len(regexp_extract_all(scrubbed, '$Ipv4Re')))::INT AS pii_left,
         |  (length(pii) - length(scrubbed))::INT AS chars_redacted,
         |  md5(scrubbed) AS clean_hash
         |FROM sc ORDER BY doc_id""".stripMargin,
  )
}
