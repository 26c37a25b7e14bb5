package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token counting, quality scoring, language-ID
  * (marker-word heuristic) and document fingerprinting.
  *
  * Everything is built from codegen'd builtin functions (split /
  * regexp_extract_all / filter / md5) — no UDFs — so the per-document
  * work stays inside whole-stage codegen and scales embarrassingly
  * parallel (zero shuffles for all per-doc columns).
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count via the length-difference identity (kept
    * arithmetic-only so the DuckDB oracle is the byte-identical
    * formula; assumes single-spaced text). */
  def wsTokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** BPE-ish subword chunk count: runs of letters, runs of digits, and
    * single other non-space chars — the shape of a byte-pair pre-tokenizer. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")

  /** Per-document quality features + score (length / token stats /
    * stopword ratio), one pass, no shuffle. */
  def qualityFeatures(df: DataFrame, textCol: String, stopwords: Seq[String]): DataFrame = {
    val t = col(textCol)
    val nTok = wsTokenCount(t)
    val nStop = size(filter(tokens(t), w => w.isin(stopwords.map(lit(_)): _*))).cast("long")
    df.withColumn("n_chars_calc", length(t).cast("long"))
      .withColumn("n_tokens", nTok)
      .withColumn("n_stopwords", nStop)
      .withColumn("avg_token_len",
        length(regexp_replace(t, " ", "")).cast("double") / nTok.cast("double"))
      .withColumn("stopword_ratio", nStop.cast("double") / nTok.cast("double"))
  }

  /** Marker-word language ID: score = count of language-marker tokens;
    * prediction = argmax, ties and all-zero → 'und'. A real system
    * would use char-n-gram profiles; the *engine shape* (per-doc
    * codegen'd scoring, no shuffle) is identical.
    */
  def langId(df: DataFrame, textCol: String, markers: Map[String, Seq[String]]): DataFrame = {
    val t = tokens(col(textCol))
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      lang -> size(filter(t, w => w.isin(ws.map(lit(_)): _*))).cast("long")
    }
    val withScores = scored.foldLeft(df) { case (d, (lang, sc)) =>
      d.withColumn(s"score_$lang", sc)
    }
    // argmax with deterministic lexical tiebreak: strictly-greater wins.
    val best = scored.foldLeft((lit("und"), lit(0L))) {
      case ((bl, bs), (lang, _)) =>
        val sc = col(s"score_$lang")
        (when(sc > bs, lit(lang)).otherwise(bl), greatest(sc, bs))
    }
    withScores.withColumn("lang_pred", best._1)
  }

  /** Per-document repetition signals (the Gopher repetition family,
    * re-shaped for single-line documents): duplicate-token fraction,
    * the most-frequent-bigram count and its fraction of all bigrams,
    * and the occurrence mass of duplicated trigrams. High values mark
    * degenerate generated/boilerplate text that token-level quality
    * features miss.
    *
    * Shape at scale: per-row n-gram arrays are built inside codegen
    * (transform over sequence — no window sort needed for adjacency),
    * then ONE explode feeds two keyed aggregations whose partial
    * (map-side) combine collapses each document's grams before the
    * shuffle; the per-doc join keys are co-partitioned by doc_id. No
    * per-document collect, no cross-doc state.
    *
    * Output: doc_id, n_tok, n_distinct, dup_tok_frac, top_bigram_n,
    * top_bigram_frac, dup_trigram_mass — one row per non-null-text
    * document.
    */
  def repetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    def grams(k: Int): Column = {
      // sequence(a, b) steps DOWNWARD when a > b, so guard short docs.
      val idx = sequence(lit(0), size(t) - k)
      when(size(t) >= k,
        transform(idx, i =>
          concat_ws(" ", (0 until k).map(o => element_at(t, i + o + 1)): _*)))
        .otherwise(array())
    }
    val base = df
      .where(col(textCol).isNotNull)
      .select(col("doc_id"), t.as("tok"),
        grams(2).as("bigrams"), grams(3).as("trigrams"))
    val perDoc = base.select(col("doc_id"),
      size(col("tok")).cast("long").as("n_tok"),
      size(array_distinct(col("tok"))).cast("long").as("n_distinct"))
    val topBigram = base
      .select(col("doc_id"), explode(col("bigrams")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
    val dupTrigram = base
      .select(col("doc_id"), explode(col("trigrams")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_trigram_mass"))
    perDoc
      .join(topBigram, Seq("doc_id"), "left")
      .join(dupTrigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        ((col("n_tok") - col("n_distinct")).cast("double") /
          col("n_tok").cast("double")).as("dup_tok_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        // One-token doc has zero bigrams: guard the 0/0 (NULL with
        // ANSI off, error with ANSI on, NaN in some DuckDB builds).
        when(col("n_tok") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
            (col("n_tok") - 1).cast("double"))
          .otherwise(0.0).as("top_bigram_frac"),
        coalesce(col("dup_trigram_mass"), lit(0L)).as("dup_trigram_mass"))
      .orderBy(col("doc_id"))
  }

  /** Per-document out-of-vocabulary stats against the corpus's own
    * top-`vocabSize` tokens (count DESC, token ASC tie-break — fully
    * deterministic, so the vocabulary itself is portable). The vocab
    * is a derived broadcast dimension: two keyed aggregations +
    * TakeOrdered build it, a broadcast left join flags membership
    * per token, and the only doc_id shuffle is the final rollup.
    * Columns: doc_id, n_tok, n_oov, oov_frac. */
  def oovStats(df: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tok"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tok").cast("double")).as("oov_frac"))
      .orderBy(col(idCol))
  }

  /** Per-document "memorized n-gram" stats: the fraction of a doc's
    * bigrams that occur at least `minCount` times in the whole corpus.
    * The document-level memorization / boilerplate signal — a doc made
    * of corpus-frequent n-grams is template mass; the same join shape
    * scores training docs against a REFERENCE corpus's n-gram counts
    * for contamination-style auditing.
    *
    * Shape at scale: occurrences collapse to UNIQUE (doc, gram) pairs
    * with per-doc counts BEFORE anything shuffles — the gram-keyed
    * join and the corpus census both run over pairs, not raw
    * occurrences (on repetitive corpora, the whole point of this
    * signal, that is the difference between shuffling n_tokens and
    * shuffling n_distinct_grams·docs). The pair frame is staged once
    * so census and join share it. The join is keyed on the gram
    * (never broadcast — the gram table grows with the corpus). Docs
    * with < 2 tokens surface with zero counts and frac 0.0 (guarded
    * division, no 0/0). */
  def memorizedBigramStats(df: DataFrame, idCol: String, textCol: String,
                           minCount: Long): DataFrame = {
    val t = tokens(col(textCol))
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array())
    val pairs = Checkpoints.stage(
      df.where(col(textCol).isNotNull)
        .select(col(idCol), explode(bigrams).as("g"))
        .groupBy(col(idCol), col("g"))
        .agg(count(lit(1)).as("c_doc")))
    val corpus = pairs.groupBy(col("g"))
      .agg(sum(col("c_doc")).as("c"))
    // Inner join is lossless: the census is built from the same corpus,
    // so every doc gram has a count (>= 1).
    val perDoc = pairs.join(corpus, "g")
      .groupBy(col(idCol))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        sum(when(col("c") >= minCount, col("c_doc")).otherwise(0L)).as("n_memorized"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_memorized"), lit(0L)).as("n_memorized"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          coalesce(col("n_memorized"), lit(0L)).cast("double") /
            col("n_bigrams").cast("double"))
          .otherwise(0.0).as("memorized_frac"))
      .orderBy(col(idCol))
  }

  /** Per-document bigram surprisal under the corpus's own bigram LM —
    * the CCNet-style perplexity quality filter, integerized so the
    * score is bit-identical across engines. For each doc bigram g =
    * "w1 w2" with corpus count c and prefix mass c1 = Σ counts of
    * bigrams starting w1, the MLE surprisal −log2(c/c1) is floored to
    * whole bits, which is computed EXACTLY in integer arithmetic:
    * floor(log2(c1/c)) = floor(log2(q)) for q = c1 DIV c (no power of
    * two lies strictly between q and c1/c < q+1), and floor(log2(q))
    * = bit_length(q) − 1 — derived here as the length of q's binary
    * string on BOTH engines, so no libm log appears anywhere (Spark's
    * log2 is ln/ln 2 while DuckDB's is native log2; their floor()s
    * diverge at q = 2⁴⁸−1, so a float path is only
    * almost-engine-exact). The per-doc SUM is therefore a BIGINT —
    * order-independent, unlike a float sum of logs — and the only
    * double is one final division. Low mean_bits = predictable /
    * boilerplate text, high = unusual (or noisy); both tails are the
    * filter's targets. Two keyed censuses + two keyed joins — the
    * same shuffle shape as [[memorizedBigramStats]], no all-pairs
    * anywhere; the prefix census is vocabulary-sized (a dimension
    * table at any corpus scale). */
  def surprisalStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array())
    val pairs = Checkpoints.stage(
      df.where(col(textCol).isNotNull)
        .select(col(idCol), explode(bigrams).as("g"))
        .groupBy(col(idCol), col("g"))
        .agg(count(lit(1)).as("c_doc")))
    // Prefix mass folds from the GRAM census, not the doc×gram pairs
    // (same value — c1(w1) = Σ_g c(g) over grams starting w1 — on a
    // strictly smaller input), and bits lands per GRAM before the one
    // pairs join: census-sized work everywhere except a single keyed
    // join against pairs. Both joins are lossless: census and prefix
    // mass are built from the same grams, so every (g, w1) matches
    // and c1 >= c >= 1.
    val corpus = pairs.groupBy(col("g")).agg(sum(col("c_doc")).as("c"))
      .withColumn("w1", element_at(split(col("g"), " "), 1))
    val prefix = corpus.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    val gramBits = corpus.join(prefix, "w1")
      .select(col("g"),
        (length(conv(expr("c1 DIV c"), 10, 2)) - 1).cast("long").as("bits"))
    val perDoc = pairs.join(gramBits, "g")
      .groupBy(col(idCol))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        sum(col("c_doc") * col("bits")).as("bits_sum"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bits_sum"), lit(0L)).as("bits_sum"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          coalesce(col("bits_sum"), lit(0L)).cast("double") /
            col("n_bigrams").cast("double"))
          .otherwise(0.0).as("mean_bits"))
      .orderBy(col(idCol))
  }

  /** Stable content fingerprint: md5 of whitespace-normalized lowercase
    * text. Exact-dedup key that survives case/spacing jitter. */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Boilerplate cleaning for scraped text: drop HTML tags, collapse
    * entities to spaces, normalize runs of whitespace. Pure regexp —
    * codegen'd, shuffle-free. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "<[^>]*>", " "),
        "&[a-zA-Z#0-9]+;", " "),
      "\\s+", " "))

  /** The three PII shapes, shared by [[piiFlags]] (detection),
    * [[redactPii]] (scrubbing), and their SQL oracle twins — one
    * definition so the router and the scrubber can never disagree. */
  private[ext] val piiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[ext] val piiDigitRun = "[0-9]{9,}"
  private[ext] val piiPhone =
    "\\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}"

  /** PII-shaped pattern counts (emails, long digit runs, phone-shaped
    * sequences) — the filter signal a training pipeline uses to route
    * documents to scrubbing. Counts only; [[redactPii]] scrubs with
    * the same patterns. */
  def piiFlags(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // greatest(…, 0): size() of a null array is -1 under non-ANSI
    // sessions — a null text must count 0 patterns, not deflate sums.
    def n(pattern: String) =
      greatest(size(regexp_extract_all(t, lit(pattern), lit(0))), lit(0)).cast("long")
    df.withColumn("n_emails", n(piiEmail))
      .withColumn("n_long_digit_runs", n(piiDigitRun))
      .withColumn("n_phone_like", n(piiPhone))
  }

  /** PII redaction with fixed placeholder tokens — the scrub step the
    * [[piiFlags]] routing feeds. Replacement order is load-bearing
    * (digit runs collapse before the phone pattern can see them) and
    * identical in the SQL twin, so the redacted text is deterministic
    * cross-engine. Pure regexp_replace: codegen'd, shuffle-free. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      piiEmail, "<EMAIL>"),
      piiDigitRun, "<NUM>"),
      piiPhone, "<PHONE>")

  /** Deterministic train/val/test routing: a multiplicative hash of a
    * numeric id into [0, 100), then range thresholds. Portable
    * arithmetic (no engine-specific hash), so the same row lands in the
    * same split on any engine — and the split is stable under
    * repartitioning, appends, and reruns, unlike rand()-based sampling.
    */
  def splitBucket(id: Column): Column = idHashBucket(id, 100L)

  /** The one canonical multiplicative id-hash into [0, mod) — split
    * routing, shard routing (Packing.shardOf) and weighted mixing all
    * delegate here, so the constants can never diverge between them
    * (each is replayed by several SQL oracles). Reduce mod a prime
    * first: keeps the multiply under 2^52, so the arithmetic never
    * overflows Long on any engine (overflow would wrap in Spark but
    * promote to int128 in DuckDB — silently different buckets). */
  private[ext] def idHashBucket(id: Column, mod: Long): Column =
    pmod(pmod(id.cast("long"), lit(1000003L)) * lit(2654435761L) + lit(104729L), lit(mod))

  def assignSplit(df: DataFrame, idCol: String,
                  trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val b = splitBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Word k-gram shingles as strings ("a b c" for k=3); a doc shorter
    * than k tokens has none. Guarded explicitly: sequence() flips to a
    * DESCENDING range when end < start, which would fabricate shingles
    * for short docs. */
  def shingleStrings(text: Column, k: Int): Column = {
    val t = tokens(text)
    when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)),
        i => concat_ws(" ", slice(t, i, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination: which training documents share at
    * least one word `k`-gram with the benchmark set? The filter every
    * serious pretraining pipeline runs before training so eval data
    * doesn't leak into the corpus.
    *
    * Shape for 100 TB: the benchmark side is tiny (eval suites are
    * KBs–MBs), so its distinct shingle set broadcasts and the check is
    * a broadcast semi-join FILTER applied to the raw train-side
    * shingle explode before anything else — the huge corpus is never
    * shuffled, only scanned, and what reaches the count-distinct
    * exchange is bounded by the benchmark's shingle vocabulary, not
    * the corpus (the r17-and-earlier shape distinct'ed the corpus-
    * sized (doc, shingle) explode first and persisted it for two
    * consumers — a corpus-wide shuffle that regressed the bench and
    * was value-equivalent dead work: distinct before count_distinct
    * changes nothing). Returns one summary row: train-doc count,
    * contaminated-doc count, and the number of distinct shingles seen
    * on both sides.
    */
  def contaminationReport(train: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, k: Int = 3): DataFrame = {
    def shingled(df: DataFrame) =
      df.select(col(idCol).as("doc_id"),
        explode(shingleStrings(col(textCol), k)).as("shingle"))
    // Spread the train-side shingle explode (graft.ext.Spread); the
    // benchmark side is tiny by assumption and stays put.
    val trainSrc = Spread.ensure(train)
    // The broadcast semi-join is a pure FILTER, so it goes FIRST:
    // every non-matching train shingle dies map-side, before any
    // exchange. Both report numbers — docs with ≥1 hit, distinct
    // shingles hit — are count-distincts over the HITS only, so the
    // train side needs no (doc_id, shingle) distinct of its own (a
    // corpus-sized shuffle the pre-r18 shape paid, plus a persist to
    // share it between two consumers; distinct-before-count_distinct
    // is a no-op on the values). What shuffles now is bounded by the
    // benchmark's shingle vocabulary, whatever the train corpus size.
    val hits = shingled(trainSrc)
      .join(broadcast(shingled(benchmark).select(col("shingle")).distinct()),
        Seq("shingle"), "left_semi")
      .agg(count_distinct(col("doc_id")).as("n_contaminated"),
        count_distinct(col("shingle")).as("n_shared_shingles"))
    train.agg(count(lit(1)).as("n_train_docs")).crossJoin(hits)
      .select(col("n_train_docs"), col("n_contaminated"),
        col("n_shared_shingles"))
  }

  /** Per-document term frequencies joined with corpus-wide document
    * frequencies — the substrate for TF-IDF weighting. Output columns:
    * doc_id, term, tf (occurrences in the doc), term_df (number of
    * corpus docs containing the term).
    *
    * Shape for 100 TB: one token explode feeds both sides; tf is a
    * (doc, term) groupBy, df a distinct + term groupBy. The join back
    * is term-keyed; when `docs` is a small slice of the corpus (the
    * common "score this batch against corpus statistics" case), pass
    * the slice as `docs` and the full corpus as `corpus` — the tiny
    * tf side broadcasts and the vocabulary-sized df table is never
    * shuffled twice.
    */
  def termFrequencies(docs: DataFrame, corpus: DataFrame,
                      idCol: String, textCol: String): DataFrame = {
    def tok(df: DataFrame) =
      df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
    val tf = tok(docs).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok(corpus).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("term_df"))
    tf.join(dfreq, Seq("term"))
  }

  /** Top TF-IDF term per document, with a linear ("raw") idf: score =
    * tf / df — a member of the tf·idf weighting family (idf = N/df up
    * to the constant N), deliberately chosen over the classic log idf
    * on this path. We expose the linear form because IEEE-754 division is
    * correctly rounded on every engine, giving bit-identical scores
    * and therefore a deterministic cross-engine argmax; libm `ln`
    * differs in ULPs between the JVM and DuckDB, which can flip the
    * ordering of real-valued ties (e.g. 2·ln(N/a) vs ln(N/a²)).
    * The log-idf path is [[tfidfLog]], pinned by unit test.
    *
    * Ties (equal score) break toward the lexically-smallest term.
    * One extra doc_id-partitioned window after the term join — the
    * argmax never leaves the executors. */
  def topTfIdfTerm(docs: DataFrame, corpus: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = termFrequencies(docs, corpus, idCol, textCol)
      .withColumn("score",
        col("tf").cast("double") / col("term_df").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("term_df"), col("score"))
  }

  /** Log-idf TF-IDF score column: tf · ln(N / df). Kept off the
    * cross-engine oracle path (see [[topTfIdfTerm]]); exact values are
    * pinned by TextAnalysisSpec against hand-computed expectations. */
  def tfidfLog(tf: Column, termDf: Column, nDocs: Long): Column =
    tf.cast("double") * log(lit(nDocs.toDouble) / termDf.cast("double"))

  /** Top collocations by pointwise mutual information over the corpus
    * bigram census — the phrase-mining / vocab-induction signal
    * ("new york" is a unit, "of the" is not). PMI = log p(ab) /
    * (p(a)·p(b)) is ordered here by its exact rational core
    * r = c_ab·N / (c_a·c_b) (N = total token count): log is monotone,
    * so the RANKING is identical, and r itself is one integer multiply
    * per side followed by a single correctly-rounded IEEE division —
    * bit-identical on every engine, where a libm log path is only
    * almost (see [[topTfIdfTerm]] for the precedent). `minCount`
    * floors c_ab — PMI's known pathology is that hapax pairs of hapax
    * words score arbitrarily high.
    *
    * Shape at scale: one token census (vocab-sized) + one bigram
    * census (distinct-bigram-sized), two gram-keyed joins against the
    * unigram census — never broadcast (web vocabularies outgrow the
    * broadcast limit), never all-pairs — and a TakeOrdered top-k. The
    * integer products stay exact below c_ab·N < 2⁶³; past that (a
    * >10¹⁵-token corpus with a degenerate bigram) divide both counts
    * by a common power of two before scoring — the ranking is scale-
    * invariant in N, so the pre-scale loses nothing. */
  def pmiBigrams(df: DataFrame, textCol: String,
                 minCount: Long, topK: Int): DataFrame = {
    val t = tokens(col(textCol))
    val base = df.where(col(textCol).isNotNull)
    val toks = base.select(explode(t).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = toks.agg(count(lit(1)).as("__n_tok"))
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    val bi = base.select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
    val cA = uni.select(col("w").as("w1"), col("c").as("c_a"))
    val cB = uni.select(col("w").as("w2"), col("c").as("c_b"))
    bi.join(cA, "w1").join(cB, "w2").crossJoin(nTok)
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * col("__n_tok")).cast("double") /
          (col("c_a") * col("c_b")).cast("double")).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("bigram"))
      .limit(topK)
  }

  /** One BPE merge-candidate census — the inner loop of byte-pair-
    * encoding tokenizer training (count adjacent symbol pairs, merge
    * the most frequent; Sennrich et al. 2016, arXiv:1508.07909): the
    * top adjacent character pairs weighted by word frequency. The
    * load-bearing scale trick is counting over the WORD CENSUS, not
    * the corpus: occurrences collapse to (distinct word, count) first,
    * so the quadratic-ish pair explode runs over the vocabulary (~10⁶
    * rows at any corpus size) while the 100 TB corpus contributes only
    * one token-census groupBy. `n_occ` is the corpus-weighted pair
    * count (the BPE merge priority), `n_words` the distinct words
    * containing the pair. All-integer — the oracle replays it
    * verbatim. */
  def bpePairs(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = df.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    val pairIdx = sequence(lit(1), length(col("w")) - 1)
    words
      .select(col("w"), col("c"),
        explode(transform(pairIdx, i =>
          concat(col("w").substr(i, lit(1)), lit(" "),
            col("w").substr(i + 1, lit(1))))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("c")).as("n_occ"),
        count_distinct(col("w")).as("n_words"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topK)
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): iterate "count
    * adjacent pairs over the word census, merge the most frequent"
    * `nMerges` times and return the learned merge table in rank order
    * ("a b" strings — [[bpeEncode]]'s input). Runs driver-side on the
    * COLLECTED word census: the census is vocabulary-sized (~10⁶ rows
    * at any corpus scale — the same collapse [[bpePairs]] exploits
    * distributed), and the merge loop is inherently sequential (every
    * merge reshapes the next census), so one distributed
    * token-groupBy + a census-sized driver loop is the scale-correct
    * split — this is how production tokenizer training works, and the
    * ONLY corpus-sized pass is the groupBy. Tie-break = (count desc,
    * pair asc), bpePairs' exact ordering, so merge #1 is bpePairs'
    * top row by construction. Training stops early when the best
    * pair's count falls below `minCount` (hapax merges memorize).
    * `maxVocab` bounds the DRIVER-side census at web scale: only the
    * top-maxVocab words by (count desc, word asc) are collected — the
    * long tail it drops carries a vanishing share of token mass (and
    * is exactly what minCount would starve out of merges anyway), and
    * the cut is a distributed TakeOrdered, so the collect is
    * maxVocab-bounded no matter the corpus. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
               minCount: Long = 2L,
               maxVocab: Int = 10000000): Seq[String] = {
    require(nMerges >= 0, s"nMerges must be non-negative, got $nMerges")
    require(maxVocab > 0, s"maxVocab must be positive, got $maxVocab")
    val census = df.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words: Array[(Array[String], Long)] = census.map { case (w, c) =>
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        buf += w.substring(i, i + n)
        i += n
      }
      (buf.toArray, c)
    }
    val merges = scala.collection.mutable.ArrayBuffer[String]()
    var go = true
    while (go && merges.length < nMerges) {
      val counts = scala.collection.mutable.HashMap[String, Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) go = false
      else {
        val (bestPair, bestCount) = counts.minBy { case (p, c) => (-c, p) }
        if (bestCount < minCount) go = false
        else {
          merges += bestPair
          val Array(a, b) = bestPair.split(" ", 2)
          words = words.map { case (syms, c) =>
            if (syms.length < 2) (syms, c)
            else {
              val nb = scala.collection.mutable.ArrayBuffer[String]()
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                  nb += (a + b); j += 2
                } else { nb += syms(j); j += 1 }
              }
              (nb.toArray, c)
            }
          }
        }
      }
    }
    merges.toSeq
  }

  /** Distributed BPE tokenizer APPLY: adds `outCol` (array<string>
    * subword tokens) segmenting `textCol` against a learned merge
    * table ([[bpeTrain]]'s output) with the codegen'd
    * `graft_bpe_encode` kernel — the table rides in the plan as a
    * literal, the per-row merge loop stays inside whole-stage codegen,
    * and the 100 TB tokenize is shuffle-free. The kernel is REQUIRED
    * (no higher-order twin exists — the greedy merge loop is
    * unboundedly iterative, which Column-expression folds cannot
    * express): sessions must set
    * spark.sql.extensions=graft.GraftExtensions. */
  /** Cross-document repeated-block removal — CCNet-style boilerplate
    * dedup at PASSAGE granularity (Wenzek et al. 2020 deduplicate
    * paragraphs across a crawl; headers, nav bars, license blurbs
    * repeat across pages while each page's body is unique): the text
    * is cut into fixed `blockTokens`-word blocks, any block appearing
    * in ≥ `minDf` DISTINCT documents is dropped from every document,
    * and the survivors reassemble in original order. Within-doc
    * repetition (df = 1) survives — that's the repetition SIGNAL's
    * job, not boilerplate. Document-level dedup can't do this: two
    * pages sharing only a nav bar are not near-dups, but the nav bar
    * is still noise in both.
    *
    * Scale shape: one posexplode (corpus token mass through the
    * shuffle once), a block census (groupBy block — vocabulary-like
    * cardinality), one keyed anti-join, and an order-restoring
    * per-doc re-aggregation (array_sort over collect_list of (pos,
    * block) structs — per-doc state is the doc's own blocks, bounded
    * by doc length). All-relational, replayed value-exact by the
    * oracle (string_agg ORDER BY pos).
    *
    * Output: (idCol, clean_text, n_blocks, n_dropped). */
  def dropRepeatedBlocks(df: DataFrame, idCol: String, textCol: String,
                         blockTokens: Int = 10, minDf: Long = 2L): DataFrame = {
    require(blockTokens > 0 && minDf >= 2,
      s"bad params: blockTokens=$blockTokens minDf=$minDf")
    val t = tokens(col(textCol))
    // Integer block count: (size-1) DIV blockTokens (Column `/` is
    // double division — floor+cast keeps both engines integer-exact).
    val blockIdx = when(size(t) > 0,
      sequence(lit(0),
        floor((size(t) - lit(1)) / lit(blockTokens)).cast("int")))
      .otherwise(array())
    val blocks = Checkpoints.stage(
      df.where(col(textCol).isNotNull)
        .select(col(idCol),
          posexplode_outer(transform(blockIdx, i =>
            concat_ws(" ", slice(t, i * blockTokens + lit(1), lit(blockTokens))))))
        .withColumnRenamed("pos", "__blk_pos")
        .withColumnRenamed("col", "__blk"))
    val boiler = blocks.where(col("__blk").isNotNull)
      .groupBy(col("__blk"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDf)
      .select(col("__blk"))
    val kept = blocks.where(col("__blk").isNotNull)
      .join(boiler, Seq("__blk"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__blk_pos"), col("__blk")))),
          s => s.getField("__blk"))).as("clean_text"),
        count(lit(1)).as("__n_kept"))
    blocks.groupBy(col(idCol))
      .agg(count(col("__blk")).as("n_blocks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_blocks"),
        (col("n_blocks") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Unicode NFC normalization column (codegen'd `graft_nfc` kernel):
    * canonically equivalent byte-different texts (precomposed é vs
    * e + combining acute — pasted web text mixes both) collapse to
    * one form, so fingerprint/hash dedup and exact-match
    * decontamination stop missing canonical twins. Run BEFORE any
    * hash-keyed text operator on crawled corpora. Per-row, shuffle
    * free; quick-check-clean strings (all ASCII) pass through with
    * zero allocation. DuckDB's nfc_normalize replays it exactly, so
    * oracles stay value-exact. Kernel required (no higher-order
    * twin — Unicode composition tables are not Column-expressible). */
  def nfcNormalize(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    require(df.sparkSession.catalog.functionExists("graft_nfc"),
      "graft_nfc kernel not registered — set " +
        "spark.sql.extensions=graft.GraftExtensions")
    df.withColumn(outCol, call_function("graft_nfc", col(textCol)))
  }

  /** SentencePiece-style UNIGRAM-LM tokenizer trainer (Kudo 2018,
    * arXiv:1804.10959) — the [[bpeTrain]] sibling: instead of greedy
    * merges, learn a piece INVENTORY with per-piece costs and let a
    * Viterbi pick each word's best segmentation. Deliberately
    * integerized like everything else here: piece costs are WHOLE
    * BITS (floor(log2(totalUsage DIV usage)) — binary bit-length, no
    * libm), Viterbi compares Long sums, and all tie-breaks are total
    * orders (longer-last-piece in the DP; (count desc, piece asc) in
    * every census cut), so training is bit-deterministic and the spec
    * can pin exact segmentations.
    *
    * Algorithm over the WORD CENSUS (the bpeTrain scale argument: the
    * census is vocabulary-sized at any corpus scale, the corpus
    * contributes one distributed count pass; one census row per
    * distinct word, collected under `maxVocab`):
    *
    *   1. SEED: every single codepoint of every census word (kept
    *      unconditionally forever — full coverage, encode never
    *      throws) plus all substrings of 2..`maxPieceLen` codepoints,
    *      scored by occurrence mass; the seed keeps the top
    *      8·vocabSize multi-char candidates.
    *   2. EM (`emIters` hard-EM rounds — Viterbi assignment, the
    *      deterministic variant): segment each census word under the
    *      current costs via Kernels.unigramSegment (THE SAME function
    *      the encode kernel runs — trainer and encoder can never
    *      disagree), tally per-piece usage weighted by word count,
    *      re-derive whole-bit costs; multi-char pieces with zero
    *      usage drop out (the EM's pruning pressure).
    *   3. CUT: keep the top `vocabSize` pieces by (usage desc, piece
    *      asc), single-codepoint pieces always retained on top.
    *
    * Returns inventory entries "piece<TAB>bits" for
    * [[unigramEncode]] / the `graft_unigram_encode` kernel. */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int = 5, emIters: Int = 3,
                   maxVocab: Int = 10000000): Seq[String] = {
    require(vocabSize > 0 && maxPieceLen >= 2 && emIters >= 1)
    val census = df.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def log2floor(v: Long): Long =
      if (v <= 1L) 0L else 63L - java.lang.Long.numberOfLeadingZeros(v)
    def codepoints(w: String): Seq[String] = {
      val b = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + n); i += n
      }
      b.toSeq
    }
    // SEED masses.
    val charMass = scala.collection.mutable.HashMap[String, Long]()
    val subMass = scala.collection.mutable.HashMap[String, Long]()
    census.foreach { case (w, c) =>
      val cps = codepoints(w)
      cps.foreach(ch => charMass.update(ch, charMass.getOrElse(ch, 0L) + c))
      var i = 0
      while (i < cps.length) {
        var len = 2
        while (len <= maxPieceLen && i + len <= cps.length) {
          val p = cps.slice(i, i + len).mkString
          subMass.update(p, subMass.getOrElse(p, 0L) + c)
          len += 1
        }
        i += 1
      }
    }
    val seedMulti = subMass.toSeq.sortBy { case (p, c) => (-c, p) }
      .take(vocabSize * 8)
    var scored: Map[String, Long] = {
      val total = math.max(1L,
        charMass.values.sum + seedMulti.map(_._2).sum)
      (charMass.toSeq ++ seedMulti)
        .map { case (p, c) => p -> log2floor(total / math.max(1L, c)) }
        .toMap
    }
    // Hard-EM rounds.
    var usage: scala.collection.mutable.HashMap[String, Long] = null
    (1 to emIters).foreach { _ =>
      val table = new graft.functions.UnigramTable(
        scored.toSeq.sortBy(_._1).map { case (p, b) => p + "\t" + b }.toArray)
      usage = scala.collection.mutable.HashMap[String, Long]()
      census.foreach { case (w, c) =>
        graft.functions.Kernels.unigramSegment(w, table)
          .foreach(p => usage.update(p, usage.getOrElse(p, 0L) + c))
      }
      val total = math.max(1L, usage.values.sum)
      val fallbackBits = log2floor(total) + 1L
      scored =
        (charMass.keysIterator.map(ch =>
            ch -> usage.get(ch).map(u => log2floor(total / u))
              .getOrElse(fallbackBits)) ++
          usage.iterator.filter { case (p, _) => !charMass.contains(p) }
            .map { case (p, u) => p -> log2floor(total / u) }).toMap
    }
    // Final cut: top-vocabSize by usage, single codepoints always in.
    val keptMulti = usage.toSeq
      .filter { case (p, _) => !charMass.contains(p) }
      .sortBy { case (p, u) => (-u, p) }
      .take(math.max(0, vocabSize - charMass.size))
      .map(_._1).toSet
    scored.toSeq
      .filter { case (p, _) => charMass.contains(p) || keptMulti(p) }
      .sortBy(_._1)
      .map { case (p, b) => p + "\t" + b }
  }

  /** Distributed unigram tokenizer APPLY — [[bpeEncode]]'s sibling:
    * adds `outCol` (array<string> pieces) segmenting `textCol` against
    * a learned inventory ([[unigramTrain]]'s output) with the
    * codegen'd `graft_unigram_encode` kernel; the inventory rides the
    * plan as one reference object and the per-word Viterbi stays
    * inside whole-stage codegen — the 100 TB tokenize is
    * shuffle-free. Kernel REQUIRED (the DP is unboundedly iterative;
    * no higher-order twin exists). */
  def unigramEncode(df: DataFrame, textCol: String, pieces: Seq[String],
                    outCol: String): DataFrame = {
    require(df.sparkSession.catalog.functionExists("graft_unigram_encode"),
      "graft_unigram_encode kernel not registered — set " +
        "spark.sql.extensions=graft.GraftExtensions")
    df.withColumn(outCol,
      call_function("graft_unigram_encode", col(textCol),
        lit(pieces.toArray)))
  }

  def bpeEncode(df: DataFrame, textCol: String, merges: Seq[String],
                outCol: String): DataFrame = {
    require(df.sparkSession.catalog.functionExists("graft_bpe_encode"),
      "graft_bpe_encode kernel not registered — set " +
        "spark.sql.extensions=graft.GraftExtensions")
    df.withColumn(outCol,
      call_function("graft_bpe_encode", col(textCol), lit(merges.toArray)))
  }

  /** DSIR-style importance weights via n-gram LM contrast (Data
    * Selection with Importance Resampling, Xie et al. 2023,
    * arXiv:2302.03169): score each document by how much more
    * predictable it is under a TARGET-domain bigram LM than under the
    * raw-corpus LM — log p_target(x) − log p_raw(x), the importance
    * log-weight that upsamples target-like documents. Integerized to
    * whole bits exactly like [[surprisalStats]] (per-gram
    * floor(log2(c1 DIV c)) as binary bit-length — no libm log, per-doc
    * sums are BIGINTs, order-independent): w_bits = Σ c_doc·(bits_raw
    * − bits_target) over grams the target LM has seen; grams the
    * target corpus lacks are counted in `n_oov_target` instead of
    * being assigned a smoothed mass (smoothing constants are a
    * modeling choice this operator surfaces to the caller — a doc
    * that is mostly target-OOV is its own signal). High w_bits =
    * target-like (cheap under the target LM, expensive under raw);
    * resampling then keeps the top mass by weight.
    *
    * Shape at scale: identical to [[surprisalStats]] — unique (doc,
    * gram) pairs staged once, two vocabulary-sized censuses (raw and
    * target), gram-keyed joins only, no all-pairs, no broadcast of
    * anything corpus-sized. */
  def dsirContrastBits(df: DataFrame, idCol: String, textCol: String,
                       targetPred: Column): DataFrame = {
    val t = tokens(col(textCol))
    val bigrams = when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    val pairs = Checkpoints.stage(
      df.where(col(textCol).isNotNull)
        .select(col(idCol), targetPred.cast("boolean").as("__is_t"),
          explode(bigrams).as("g"))
        .groupBy(col(idCol), col("__is_t"), col("g"))
        .agg(count(lit(1)).as("c_doc")))
    // Whole-bit surprisal of a gram census: bit_length(c1 DIV c) − 1,
    // where c1 is the census's own prefix mass — same integer-exact
    // construction as surprisalStats, parameterized by census.
    def bitsOf(census: DataFrame, outCol: String): DataFrame = {
      val c = census.withColumn("w1", element_at(split(col("g"), " "), 1))
      val pre = c.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
      c.join(pre, "w1").select(col("g"),
        (length(conv(expr("c1 DIV c"), 10, 2)) - 1).cast("long").as(outCol))
    }
    val rawBits = bitsOf(
      pairs.groupBy(col("g")).agg(sum(col("c_doc")).as("c")), "bits_raw")
    val tgtBits = bitsOf(
      pairs.where(col("__is_t")).groupBy(col("g"))
        .agg(sum(col("c_doc")).as("c")), "bits_t")
    val gramBits = rawBits.join(tgtBits, Seq("g"), "left")
    val perDoc = pairs.join(gramBits, "g")
      .groupBy(col(idCol))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        sum(when(col("bits_t").isNull, col("c_doc")).otherwise(0L))
          .as("n_oov_target"),
        sum(when(col("bits_t").isNotNull,
          col("c_doc") * (col("bits_raw") - col("bits_t"))).otherwise(0L))
          .as("w_bits"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov_target"), lit(0L)).as("n_oov_target"),
        coalesce(col("w_bits"), lit(0L)).as("w_bits"))
      .orderBy(col(idCol))
  }

  /** BM25 top-k retrieval over the corpus for a fixed term query —
    * the keyword-retrieval scorer (Robertson & Walker's Okapi BM25)
    * with the LINEAR idf variant (N − df + 0.5)/(df + 0.5): like
    * [[topTfIdfTerm]], the log is dropped so every arithmetic step is
    * an exactly-representable literal, an integer-to-double
    * conversion, or a correctly-rounded IEEE op — the score, and
    * therefore the ranking, is bit-identical across engines (the
    * classic log-idf twin changes cross-TERM weighting, not the
    * per-term ranking; it is pinned in TextAnalysisSpec). k1 = 1.2,
    * b = 0.75 (the standard operating point). Per-term scores are
    * summed in EXPLICIT left-to-right term order — float addition is
    * not associative, so a SUM() aggregate over terms would not be
    * engine-exact; a fixed fold is.
    *
    * Returns only documents containing ≥ 1 query term (standard
    * candidate semantics). Shape at scale: one token explode filtered
    * to the query terms BEFORE any shuffle (the corpus never shuffles
    * — only matching postings do), per-term df and corpus length
    * scalars as 1-row crossJoins, TakeOrdered top-k. For ad-hoc
    * many-query serving build an inverted index instead; this is the
    * scan-time scorer a batch relevance-labeling pipeline runs. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8,
      s"bm25TopK takes 1–8 query terms, got ${terms.size}")
    require(terms.distinct.size == terms.size, "query terms must be distinct")
    val t = tokens(col(textCol))
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol), size(t).cast("long").as("dl"))
    val scalars = base.agg(count(lit(1)).as("__n_docs"),
      sum(col("dl")).as("__sum_dl"))
    val tok = base.select(col(idCol), col("dl"),
        explode(tokens(col(textCol))).as("term"))
      .where(col("term").isin(terms: _*))
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("term") === tm, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val tf = tok.groupBy(col(idCol), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    val dfCols = terms.zipWithIndex.map { case (tm, i) =>
      count(when(col("term") === tm, lit(1))).as(s"__df_$i")
    }
    val dfs = tok.select(col(idCol), col("term")).distinct()
      .agg(dfCols.head, dfCols.tail: _*)
    bm25Rank(tf.crossJoin(dfs).crossJoin(scalars), idCol, terms.size, topK)
  }

  /** One query term's BM25 component of a doc — the ONE copy of the
    * arithmetic, used per term by [[bm25Rank]] and per posting row by
    * PostingsIndex.probeBatch, so their scores are bit-identical by
    * construction. Reads `dl` and `__n_docs` from the frame; `tf`,
    * `df` and `avgdl` are the caller's columns. The exact
    * parenthesization the oracle SQL mirrors:
    * idf · ((tf·2.2) / (tf + 1.2·(0.25 + 0.75·(dl/avgdl)))), and 0.0
    * for an absent term (tf = 0). */
  private[ext] def bm25Term(tf: Column, df: Column, avgdl: Column): Column = {
    val tfD = tf.cast("double")
    val dfD = df.cast("double")
    val idf = ((col("__n_docs").cast("double") - dfD) + lit(0.5)) /
      (dfD + lit(0.5))
    when(tf > 0,
      idf * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") / avgdl)))))
      .otherwise(lit(0.0))
  }

  /** The BM25 ranking stage shared by [[bm25TopK]] (scan-time) and
    * [[PostingsIndex.probe]] (index-time): takes the per-doc frame
    * with columns (idCol, dl, tf_0..tf_{n-1}, __df_0.., __n_docs,
    * __sum_dl) and emits the top-k. ONE definition of the arithmetic,
    * so the two paths can never drift — scores stay hash-identical
    * whether computed from a corpus scan or a persisted index. */
  private[ext] def bm25Rank(perDoc: DataFrame, idCol: String,
                            nTerms: Int, topK: Int): DataFrame = {
    val scored = perDoc.withColumn("__avgdl",
      col("__sum_dl").cast("double") / col("__n_docs").cast("double"))
    val score = (0 until nTerms)
      .map(i => bm25Term(col(s"tf_$i"), col(s"__df_$i"), col("__avgdl")))
      .reduceLeft[Column](_ + _)
    scored
      .select((col(idCol) +: col("dl") +:
        (0 until nTerms).map(i => col(s"tf_$i"))) :+ score.as("score"): _*)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Gopher quality-filter rule census (Rae et al. 2021 §A1.1.2, the
    * rule family MassiveWeb/Gopher popularized and RefinedWeb/Dolma
    * reuse), per document, with every threshold evaluated as an
    * INTEGER cross-multiplication — no ratio ever becomes a float, so
    * each flag (and therefore the census) is engine-exact:
    *
    *  - word count in [50, 100 000]
    *  - mean word length in [3, 10]   (3n ≤ chars ∧ chars ≤ 10n)
    *  - ≥ 80% of words contain an alphabetic character (5a ≥ 4n)
    *  - symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1 (10s ≤ n)
    *  - ≥ 2 distinct words from Gopher's required-stopword list
    *    {the, be, to, of, and, that, have, with}
    *
    * Emits the raw per-doc counters next to the flags so a caller can
    * re-threshold without recomputing. Pure per-row codegen
    * (split/filter/replace) — shuffle-free, scan-cost-only at 100 TB;
    * the flags feed the same downstream keep/drop joins as
    * [[qualityFeatures]]' score. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = wsTokenCount(t)
    val wordChars = length(regexp_replace(t, " ", "")).cast("long")
    val nAlpha = size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long")
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    // Non-overlapping literal '...' runs, counted via the length delta
    // of a literal replace (same left-to-right semantics both engines).
    val nEllipsis = ((length(t) - length(expr(s"replace($textCol, '...', '')"))) / 3)
      .cast("long")
    val nSym = nHash + nEllipsis
    val reqStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nReqStops = size(array_intersect(array_distinct(toks),
      array(reqStops.map(lit(_)): _*))).cast("long")
    df.where(t.isNotNull).select(
        col(idCol), nWords.as("n_words"), wordChars.as("word_chars"),
        nAlpha.as("n_alpha_words"), nSym.as("n_sym"),
        nReqStops.as("n_req_stops"),
        (nWords >= 50 && nWords <= 100000L).cast("long").as("ok_nwords"),
        (nWords * 3 <= wordChars && wordChars <= nWords * 10)
          .cast("long").as("ok_mean_len"),
        (nAlpha * 5 >= nWords * 4).cast("long").as("ok_alpha"),
        (nSym * 10 <= nWords).cast("long").as("ok_symbol"),
        (nReqStops >= 2).cast("long").as("ok_stops"))
      .withColumn("pass_all",
        (col("ok_nwords") === 1 && col("ok_mean_len") === 1 &&
          col("ok_alpha") === 1 && col("ok_symbol") === 1 &&
          col("ok_stops") === 1).cast("long"))
      .orderBy(col(idCol))
  }

  /** Multinomial Naive-Bayes text classifier, trained and applied
    * distributed — the fasttext-style classifier slot in a
    * CCNet-shaped curation pipeline (quality / language / domain
    * routing), integerized to whole bits so train and predict are
    * bit-identical across engines.
    *
    * Train slice = rows whose canonical split bucket
    * ([[splitBucket]], the same multiplicative hash every split/shard
    * oracle replays) is < `trainBuckets`; everything else is scored.
    * Per class c the word likelihood is the whole-bit surprisal of
    * the class-conditional census: bits(w,c) = floor(log2(V_c /
    * c_wc)) = bit_length(V_c DIV c_wc) − 1 (V_c = class token mass),
    * the same libm-free construction as [[surprisalStats]]. A vocab
    * word UNSEEN in class c costs bit_length(V_c) bits — strictly
    * more than any seen word (a count-1 word costs bit_length(V_c) −
    * 1), which is where the discrimination lives; words outside the
    * whole train vocabulary carry no class signal and are counted in
    * `n_oov` instead of being smoothed. The class prior enters as
    * bit_length(N DIV n_c) − 1. Prediction = argmin over classes of
    * prior + Σ c_doc·bits — ALL BIGINT sums, order-independent —
    * with ties broken by label asc; a doc with zero in-vocab tokens
    * falls back to the min-(prior, label) class.
    *
    * Shape at scale: the class-conditional census and the (vocab × k
    * classes) bits grid are vocabulary-sized dimension tables at any
    * corpus scale (the only corpus-sized passes are the two token
    * explodes); scoring is ONE word-keyed join of the doc-word pairs
    * against the grid (k rows per pair, k = #classes), then keyed
    * aggregations — no all-pairs, nothing corpus-sized on the
    * driver, the one crossJoin rides a k-row class table. */
  def nbClassify(df: DataFrame, idCol: String, textCol: String,
                 labelCol: String, trainBuckets: Int = 80): DataFrame = {
    require(trainBuckets > 0 && trainBuckets < 100,
      s"trainBuckets must be in (0, 100), got $trainBuckets")
    val base = df.where(col(textCol).isNotNull)
      .withColumn("__b", splitBucket(col(idCol)))
    val (grid, dflt) = nbModel(
      base.where(col("__b") < trainBuckets), textCol, labelCol)
    nbScore(base.where(col("__b") >= trainBuckets), idCol, textCol, labelCol,
      grid, dflt)
  }

  /** Train the NB model on an explicit train slice: returns the
    * (vocab × k) bits grid (w, label, prior_bits, bits) and the 1-row
    * zero-in-vocab default — both dimension-sized frames a caller can
    * materialize once and score any number of batches against
    * ([[streamClassify]] does exactly that). */
  def nbModel(train: DataFrame, textCol: String,
              labelCol: String): (DataFrame, DataFrame) = {
    // Class-conditional word census over the train slice (vocab-sized).
    val pairsT = Checkpoints.stage(
      train.select(col(labelCol).as("label"),
          explode(tokens(col(textCol))).as("w"))
        .groupBy(col("label"), col("w")).agg(count(lit(1)).as("c_wc")))
    // k-row class table: token mass, doc count, prior + penalty bits.
    val mass = pairsT.groupBy(col("label")).agg(sum(col("c_wc")).as("v_c"))
    val ndocs = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"))
    val classTbl = mass.join(ndocs, "label")
      .crossJoin(ndocs.agg(sum(col("n_c")).as("n_train")))
      .select(col("label"), col("v_c"),
        (length(conv(expr("n_train DIV n_c"), 10, 2)) - 1).cast("long")
          .as("prior_bits"),
        length(conv(col("v_c"), 10, 2)).cast("long").as("penalty_bits"))
    // (vocab × k) bits grid: seen → whole-bit surprisal, unseen-in-class
    // → penalty. Dimension-sized; the class side is a k-row broadcast.
    val grid = pairsT.select(col("w")).distinct()
      .crossJoin(broadcast(classTbl))
      .join(pairsT, Seq("label", "w"), "left")
      .select(col("w"), col("label"), col("prior_bits"),
        when(col("c_wc").isNotNull,
          (length(conv(expr("v_c DIV c_wc"), 10, 2)) - 1).cast("long"))
          .otherwise(col("penalty_bits")).as("bits"))
    // Zero-in-vocab fallback: the min-(prior, label) class, as 1 row.
    val dflt = classTbl
      .select(col("label").as("__dflt_label"), col("prior_bits").as("__dflt_bits"))
      .orderBy(col("__dflt_bits"), col("__dflt_label")).limit(1)
    (grid, dflt)
  }

  /** Score a document frame against a trained [[nbModel]] — a pure
    * per-batch function of (docs, grid, dflt), which is what makes
    * the streaming twin's accumulated output equal batch scoring. */
  def nbScore(holdout: DataFrame, idCol: String, textCol: String,
              labelCol: String, grid: DataFrame, dflt: DataFrame): DataFrame = {
    // Doc-word pairs; the inner join below drops words outside the
    // train vocabulary (surfaced as n_oov, never smoothed).
    val docPairs = Checkpoints.stage(
      holdout.select(col(idCol), explode(tokens(col(textCol))).as("w"))
        .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c_doc")))
    val nTok = docPairs.groupBy(col(idCol)).agg(sum(col("c_doc")).as("n_tok"))
    val scores = docPairs.join(grid, "w")
      .groupBy(col(idCol), col("label"), col("prior_bits"))
      .agg(sum(col("c_doc") * col("bits")).as("tok_bits"),
        sum(col("c_doc")).as("n_scored"))
      .select(col(idCol), col("label"),
        (col("tok_bits") + col("prior_bits")).as("tot_bits"), col("n_scored"))
    val best = scores.groupBy(col(idCol)).agg(min(col("tot_bits")).as("bits_best"))
    val pred = scores.join(best, idCol)
      .where(col("tot_bits") === col("bits_best"))
      .groupBy(col(idCol))
      .agg(min(col("label")).as("__pred"), min(col("n_scored")).as("n_scored"),
        min(col("bits_best")).as("bits_best"))

    holdout.select(col(idCol), col(labelCol).as("label_true"))
      .join(nTok, Seq(idCol), "left")
      .join(pred, Seq(idCol), "left")
      .crossJoin(dflt)
      .select(col(idCol), col("label_true"),
        coalesce(col("__pred"), col("__dflt_label")).as("label_pred"),
        coalesce(col("bits_best"), col("__dflt_bits")).as("bits_best"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        (coalesce(col("n_tok"), lit(0L)) - coalesce(col("n_scored"), lit(0L)))
          .as("n_oov"),
        (col("label_true") === coalesce(col("__pred"), col("__dflt_label")))
          .cast("long").as("correct"))
      .orderBy(col(idCol))
  }

  /** Streaming classification DURING ingest: score arriving
    * micro-batches against a FIXED pretrained [[nbModel]] (grid +
    * default materialized before the stream starts) and land the
    * predictions in the batch-tagged sink `<table>` with the index
    * family's redelivery discipline (dynamic partition overwrite — a
    * redelivered batch overwrites its own partition). Scoring is a
    * pure per-batch function of (batch, model), so batches are fully
    * independent and the accumulated predictions EQUAL batch
    * [[nbScore]] over everything ingested, in any shard split — the
    * x_stream_classify oracle replays the whole thing with the
    * x_nb_classify SQL. The model never updates mid-stream
    * (train/serve separation, the production-routing shape); retrain
    * = rebuild the grid and restart the query. */
  def streamClassify(spark: org.apache.spark.sql.SparkSession, table: String,
                     stream: DataFrame, idCol: String, textCol: String,
                     labelCol: String, grid: DataFrame, dflt: DataFrame,
                     queryName: String = "graft_stream_classify",
                     checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    mkTable(spark, table,
      StructType(Seq(
        StructField(idCol, idType),
        StructField("label_true", StringType),
        StructField("label_pred", StringType),
        StructField("bits_best", LongType),
        StructField("n_scored", LongType),
        StructField("n_oov", LongType),
        StructField("correct", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      // Source-byte-derived (r22, guide §6 — scaledSinkBuckets doc).
      StreamOps.BatchTag, idCol, StreamOps.scaledSinkBuckets(stream))
    val g = Checkpoints.stage(grid)
    val d = Checkpoints.stage(dflt)
    StreamOps.sinkBatches(spark, stream, queryName, table,
        checkpointLocation) { (raw, _) =>
      // nbScore reads the batch twice (doc-word pairs, labels).
      val b = Checkpoints.stage(raw)
      (nbScore(b.where(col(textCol).isNotNull), idCol, textCol, labelCol, g, d),
        Seq.empty)
    }
  }
}
