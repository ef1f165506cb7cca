package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID scoring, and document fingerprinting,
  * plus the corpus-level text operators (vocabulary, TF-IDF,
  * decontamination, BPE train/apply, boilerplate removal, unigram-LM
  * scoring).
  *
  * Cost model: the `Column`-returning helpers are pure `functions._`
  * expressions (whole-stage codegen; no UDFs, no shuffles) — per-row
  * cost only, bounded by scan throughput at 100 TB. The
  * `DataFrame`-returning corpus operators DO shuffle; each documents
  * its own scale shape (what shuffles, what's broadcast, what reaches
  * the driver) in its Scaladoc.
  */
object TextOps {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(c: Column): Column =
    when(trim(c) === "" || c.isNull, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-style pre-tokenization pattern (the GPT-2 pattern family with
    * the trailing-whitespace lookahead removed — lookahead is Java-only
    * and the count must be reproducible on RE2 engines): contractions,
    * space-prefixed letter runs, digit runs, punctuation runs, then
    * whitespace runs.
    */
  val subwordPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Subword-ish token count: number of [[subwordPattern]] matches —
    * the usual cheap proxy for "BPE tokens" when no tokenizer model is
    * shipped. Pure codegen (`regexp_count`).
    */
  def subwordCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit(subwordPattern))

  /** Document fingerprint: md5 of case- and whitespace-normalized
    * text (deterministic, engine-portable).
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(coalesce(c, lit(""))), "\\s+", " "))

  /** Rolling-hash fingerprint (Rabin–Karp polynomial over UTF-8 bytes,
    * mod 1e9+7) — custom codegen expression
    * ([[graft.functions.RollingHash]]); byte loop, no string copy.
    */
  def rollingFingerprint(c: Column): Column =
    graft.functions.TextFunctions.rollingHash(c)

  /** Non-overlapping occurrence count of `needle` in `hay` via
    * length-delta (exact, portable to any SQL engine).
    *
    * Known limitation, kept deliberately: space-padded needles share
    * their delimiter space with an adjacent repeat (" a a a a " counts
    * " a " twice, not four times), so stopword-RUN density undercounts
    * ~2x. The DuckDB oracle replays the identical rule, and changing it
    * would change every lang_id/text_quality golden; treat the outputs
    * as the signal definition, not literal counts.
    */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(regexp_replace(hay, java.util.regex.Pattern.quote(needle), ""))) /
      needle.length).cast("int")

  /** Quality features + a composite score in [0,1]:
    * alpha ratio, digit ratio, whitespace ratio, stopword density.
    * Deterministic per-row arithmetic (safe for cross-engine oracles).
    */
  def qualityFeatures(c: Column): Seq[(String, Column)] = {
    val t = coalesce(c, lit(""))
    val len = greatest(length(t), lit(1)).cast("double")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double") / len
    val digit = length(regexp_replace(t, "[^0-9]", "")).cast("double") / len
    val space = length(regexp_replace(t, "[^ \\t\\n]", "")).cast("double") / len
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stopHits = (occurrences(padded, " the ") + occurrences(padded, " a ") +
      occurrences(padded, " and ") + occurrences(padded, " of ")).cast("double")
    val toks = greatest(tokenCount(t), lit(1)).cast("double")
    val stopDensity = least(stopHits / toks * 5.0, lit(1.0))
    Seq(
      "alpha_ratio" -> round(alpha, 6),
      "digit_ratio" -> round(digit, 6),
      "space_ratio" -> round(space, 6),
      "stop_density" -> round(stopDensity, 6),
      "quality_score" -> round(
        alpha * 0.5 + (lit(1.0) - digit) * 0.2 + stopDensity * 0.3, 6))
  }

  /** Duplicate n-gram ratio — the Gopher-style repetition signal: the
    * fraction of a document's word n-grams that are repeats
    * (1 - distinct/total). Per-row array arithmetic over the SAME
    * shingle rule as dedup ([[Dedup.shingles]]), no shuffle; shingles
    * always yield >= 1 element so the ratio is total-safe.
    */
  def dupNgramRatio(c: Column, n: Int = 3): Column = {
    val sh = Dedup.shingles(c, n)
    round(lit(1.0) -
      size(array_distinct(sh)).cast("double") / size(sh).cast("double"), 6)
  }

  /** One (id, token) row per normalized whitespace token — the shared
    * tokenization for the corpus-level stats below. Spark's
    * `split("", "\\s+")` returns `[""]`, so the post-explode filter
    * drops that phantom token: blank documents contribute NO tokens,
    * consistent with [[tokenCount]]'s 0-for-blank rule. (Dedup keeps
    * its own deliberately different rule — a short doc's whole text as
    * one shingle — documented at [[Dedup.shingles]].)
    */
  private def tokenRows(df: DataFrame, textCol: String, idCol: String,
                        tokenName: String): DataFrame =
    df.select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as(tokenName))
      .filter(col(tokenName) =!= "")

  /** Share of the most frequent token per document — the companion
    * repetition signal (a doc whose top token is 30% of its tokens is
    * boilerplate). Explode + two hash aggregations, both map-side
    * combining on (id, token) then id; nothing quadratic, no windows.
    * Blank documents (no tokens) are absent from the output.
    */
  def topTokenShare(df: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame =
    tokenRows(df, textCol, idCol, "t")
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6)
        .as("top_token_share"))

  /** PII redaction: emails, US-SSN-shaped ids, then long digit runs
    * (phones) replaced by typed placeholders, in that order — the SSN
    * rule must fire before the phone rule would swallow it. Patterns
    * are RE2-safe (no lookaround) so any RE2-based engine replays the
    * redaction byte-for-byte.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ssnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val phonePattern = "\\+?[0-9][0-9() .-]{7,}[0-9]"

  def redactPii(c: Column): Column = {
    val noEmail = regexp_replace(coalesce(c, lit("")), emailPattern, "<EMAIL>")
    val noSsn = regexp_replace(noEmail, ssnPattern, "<ID>")
    regexp_replace(noSsn, phonePattern, "<PHONE>")
  }

  /** Benchmark decontamination: documents sharing any word n-gram with
    * the benchmark set, with the count of distinct shared grams.
    * The benchmark side collapses to its distinct grams and BROADCASTS
    * (benchmark suites are tiny next to a corpus — this is the shape
    * that holds at 100 TB: the corpus-side explode streams map-side
    * through the broadcast hash join, no corpus shuffle before the
    * per-doc count). Same shingle rule as dedup.
    */
  def contaminationHits(docs: DataFrame, bench: DataFrame, n: Int = 8,
                        textCol: String = "text", idCol: String = "doc_id",
                        benchTextCol: String = "text"): DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.shingles(col(benchTextCol), n)).as("g")).distinct()
    docs.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy(col(idCol))
      .agg(countDistinct(col("g")).as("n_hits"))
  }

  /** Corpus vocabulary: the `topN` tokens by total frequency, with
    * document frequency alongside (the tokenizer-training / IDF
    * primitive). One explode + one hash aggregation (map-side combining
    * on token; doc frequency via count-distinct's two-phase rewrite),
    * then TakeOrdered for the top-N — no global sort materializes, the
    * limit pushes into the shuffle read. Ties break by token so the
    * result is a deterministic set, not an arbitrary LIMIT slice.
    */
  def vocabulary(df: DataFrame, topN: Int, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    tokenRows(df, textCol, idCol, "token")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topN)

  /** TF-IDF weights restricted to the top-`vocabSize` vocabulary:
    * (doc, token, tf * ln(N / df)) rows. ONE tokenization pass: the
    * per-doc tf aggregation is computed once, and BOTH the vocabulary
    * (tf_all = sum tf, df = row count per token — same numbers
    * [[vocabulary]] derives from raw tokens) and the weighting join
    * consume it, so Catalyst's exchange reuse shares the (doc, token)
    * shuffle between the two branches. The vocabulary is tiny by
    * construction and broadcasts into the join. The corpus count N is
    * a broadcast one-row aggregate inside the plan — construction is
    * fully lazy (no job until the caller acts; pinned in PipelineSpec).
    */
  def tfidf(df: DataFrame, vocabSize: Int, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame = {
    // corpus count N enters the plan as a broadcast one-row aggregate
    // (NOT an eager df.count() at construction time — on a derived
    // input that is a full job submitted before the caller even acts)
    val nDf = df.agg(count(lit(1)).cast("double").as("__n"))
    val tf = tokenRows(df, textCol, idCol, "token")
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("tf_all"), count(lit(1)).as("df"))
      .orderBy(col("tf_all").desc, col("token").asc)
      .limit(vocabSize)
      .select("token", "df")
    tf.join(broadcast(vocab), "token")
      .crossJoin(broadcast(nDf))
      .select(col(idCol), col("token"),
        round(col("tf") * log(col("__n") / col("df")), 6).as("weight"))
  }

  private def normalizedTokens(textCol: String): Column =
    array_remove(split(trim(lower(col(textCol))), "\\s+"), "")

  /** Adjacent pairs of a token array as `(l, r)` structs: the array
    * without its last token zipped with the array without its first.
    * The shared pair rule of [[pmiCollocations]], [[bigramLogProb]] and
    * the batched BPE census, all codegen.
    */
  private def tokenPairs(toks: Column): Column = {
    val n = greatest(size(toks) - 1, lit(0))
    arrays_zip(slice(toks, lit(1), n).as("l"), slice(toks, lit(2), n).as("r"))
  }

  /** Adjacent-token-pair (bigram) frequencies over the corpus — the
    * counting primitive of BPE/WordPiece-style tokenizer training
    * (rank merge candidates by corpus pair frequency) and of
    * collocation statistics. Pairs are the codegen
    * [[graft.functions.WordGrams]] bigrams of each row's tokens, then
    * ONE explode + count aggregation with map-side partial combine; the
    * top-N is TakeOrdered over (n desc, pair asc) — deterministic ties,
    * no global sort materialized. Scales like vocabulary(): shuffle
    * bounded by #distinct pairs, not #tokens.
    */
  def tokenPairCounts(df: DataFrame, topN: Int, textCol: String = "text"): DataFrame = {
    val toks = normalizedTokens(textCol)
    df.select(explode(when(size(toks) >= 2, TextFunctions.wordGrams(toks, 2))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topN)
  }

  /** Per-group heavy hitters: the top-`k` tokens by frequency within
    * EACH group (per-domain/per-language vocabulary skew — the signal
    * behind per-source boilerplate and template detection). A null
    * group is a group like any other.
    *
    * Scale shape: (group, token) counts are one explode + hash
    * aggregation with map-side combine; the per-group top-k is the
    * bounded-heap [[graft.functions.TopK]] typed Aggregator, which
    * partial-aggregates map-side so each task ships at most k tokens
    * per group — NEVER a `row_number` window (that would shuffle every
    * distinct (group, token) row into one partition per group and sort
    * there). Ties are deterministic: (tf desc, token asc).
    */
  def vocabularyByGroup(df: DataFrame, k: Int, groupCol: String = "source",
                        textCol: String = "text"): DataFrame =
    tokenRows(df, textCol, groupCol, "token")
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col(groupCol))
      .agg(graft.functions.TopK.topKStr(k)(col("tf").cast("double"), col("token")).as("__top"))
      .select(col(groupCol), posexplode(col("__top")))
      .select(col(groupCol), col("pos").cast("long").as("rank"),
        col("col._2").as("token"), col("col._1").cast("long").as("tf"))

  /** PMI collocations: the top-`topN` adjacent token pairs by pointwise
    * mutual information, `pmi(l,r) = ln(c(l,r) * T / (c(l) * c(r)))`
    * with `T` the corpus token count — the standard phrase-mining /
    * collocation statistic (a pair whose joint frequency beats the
    * independence prediction is a phrase, not a coincidence). Pairs
    * below `minCount` are dropped BEFORE the unigram joins (rare-pair
    * PMI is noise and the threshold is what bounds the join input).
    *
    * Scale shape: unigram and bigram counts are each ONE explode + hash
    * aggregation with map-side partial combine (shuffles bounded by
    * distinct tokens / distinct surviving pairs, never corpus tokens);
    * `T` folds off the unigram aggregate as a broadcast one-row
    * aggregate — no extra corpus pass. The two count joins key on
    * single-token strings; the top-N is TakeOrdered (no global sort
    * materialized), ties deterministic on (l, r).
    */
  def pmiCollocations(df: DataFrame, topN: Int, minCount: Long = 5,
                      textCol: String = "text"): DataFrame = {
    val uni = df.select(explode(normalizedTokens(textCol)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).cast("double").as("__t"))
    val bi = df.select(explode(tokenPairs(normalizedTokens(textCol))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    bi.join(uni.select(col("t").as("l"), col("c1").as("cl")), "l")
      .join(uni.select(col("t").as("r"), col("c1").as("cr")), "r")
      .crossJoin(broadcast(total))
      .select(col("l"), col("r"), col("n"),
        round(log(col("n").cast("double") * col("__t") /
          (col("cl").cast("double") * col("cr").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("l").asc, col("r").asc)
      .limit(topN)
  }

  /** Per-document character-level Shannon entropy in bits — the cheap
    * gibberish/encoded-blob detector (natural text sits ~3.5-4.5 bits;
    * base64 and hex blobs push toward their alphabet's log2). Blank
    * documents (no characters) are absent from the output, consistent
    * with [[topTokenShare]].
    *
    * Scale shape: one explode to (id, char) rows, then TWO hash
    * aggregations — (id, char) counts then per-id entropy — both
    * map-side combining; the intermediate is bounded by |doc| x
    * |alphabet|, never quadratic, and no window appears. (A per-row
    * HOF over a char-count map would avoid the explode but runs
    * interpreted — the explode stays inside whole-stage codegen.)
    */
  def charEntropy(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      // nats accumulated, ONE divide by ln 2 at the end (the jsd
      // precedent): both engines' libms round ln(2) to the same double,
      // while a native log2 kernel (DuckDB std::log2 vs Spark's
      // ln/ln2) could diverge past 1 ulp and flip a round(...,6)
      // boundary nondeterministically
      .agg(round((-sum(col("c") * log(col("c"))) / sum(col("c"))
        + log(sum(col("c")))) / lit(math.log(2.0)), 6).as("char_entropy"))

  /** BM25 retrieval scoring: the top-`topN` documents for a bag of
    * query terms under Okapi BM25 —
    * `score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`
    * with `idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`. The ranked-
    * retrieval primitive for corpus search and contamination triage.
    *
    * Scale shape: the corpus-side explode is filtered to the query
    * terms BEFORE any aggregation (an `isin` prune inside the scan
    * projection — the (doc, term, tf) aggregate is bounded by docs
    * containing a query term, not corpus tokens); per-doc length rides
    * the same projection as a `size()` column, no second tokenization.
    * `N`/`avgdl` and the per-term document frequencies are broadcast
    * one-row / |query|-row aggregates. Top-N is TakeOrdered with
    * deterministic (score desc, id asc) ties.
    */
  def bm25(df: DataFrame, queryTerms: Seq[String], topN: Int,
           k1: Double = 1.2, b: Double = 0.75,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    bm25TermScores(df, queryTerms, k1, b, textCol, idCol)
      .groupBy(col(idCol))
      .agg(round(sum(col("s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(topN)
  }

  /** Shared BM25 kernel: per-(doc, matched term) score rows over the
    * given term set — one tokenization, map-side `isin` prune, the
    * bit-sensitive score arithmetic in exactly one place (both the
    * single-query and batch operators, and their oracles, depend on
    * this association order).
    */
  private def bm25TermScores(df: DataFrame, terms: Seq[String], k1: Double,
                             b: Double, textCol: String, idCol: String): DataFrame = {
    val base = df.select(col(idCol), normalizedTokens(textCol).as("__toks"))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(col("__toks"))).as("__avgdl"))
    val tf = base
      .select(col(idCol), size(col("__toks")).as("dl"), explode(col("__toks")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "t")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("t"), (log(lit(1.0) +
          (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
        .as("s"))
  }

  /** Language-ID marker families (stopword heuristic). The synthetic
    * corpus is English-salad for every label, so this scores marker hits
    * per family and predicts argmax with a deterministic tie order —
    * the operator mechanics (not label accuracy) are what's validated.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "de" -> Seq(" der ", " und ", " ist "),
    "fr" -> Seq(" le ", " la ", " est "),
    "es" -> Seq(" el ", " los ", " es "))

  def langScores(c: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), lower(coalesce(c, lit(""))), lit(" "))
    langMarkers.map { case (lang, markers) =>
      s"score_$lang" -> markers.map(m => occurrences(padded, m)).reduce(_ + _)
    }
  }

  /** argmax over [[langScores]] with ties broken by marker-family order;
    * all-zero scores predict "unknown".
    */
  def langPredict(c: Column): Column = {
    val scores = langScores(c)
    val best = scores.map(_._2).reduce(greatest(_, _))
    // foldRight: earlier marker families take precedence on ties
    scores.foldRight(lit("unknown")) { case ((name, s), acc) =>
      when(s === best && best > 0, lit(name.stripPrefix("score_"))).otherwise(acc)
    }
  }

  /** BPE merge training (the tokenizer-training primitive
    * [[tokenPairCounts]] is the one-shot form of): `numMerges` rounds
    * of count-adjacent-symbol-pairs → merge the most frequent pair,
    * over the corpus WORD CENSUS. Returns the learned merge table
    * `(step, left_sym, right_sym, pair_count)` — deterministic ties
    * broken by (count desc, left asc, right asc), the order the merges
    * must later be APPLIED in.
    *
    * Scale shape: BPE operates on the census (distinct words x
    * frequency), not the corpus — the engine runs ONE distributed
    * corpus-sized job ([[wordCensus]]: map-side combined, shuffle
    * bounded by distinct words), pulls the census to the driver, and
    * trains with the classic incremental algorithm ([[BpeLocal.train]]:
    * pair->words inverted index, each merge touches only the words
    * containing the pair, lazily-invalidated max-heap argmax). Zero
    * Spark jobs per merge: 50k merges are seconds of driver CPU.
    *
    * The census collect is the deliberate, BOUNDED exception to the
    * no-data-sized-collect rule: a census larger than `maxCensusWords`
    * fails loud with that knob named instead of training on it.
    *
    * Words containing a literal `</w>` or 2+ consecutive spaces cannot
    * occur (the census tokenizes on whitespace); a corpus whose tokens
    * embed the end-marker string itself is out of scope.
    */
  def bpeMerges(docs: DataFrame, numMerges: Int, textCol: String = "text",
                maxCensusWords: Int = 10000000): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val censusRows = wordCensus(docs, textCol).as[(String, Long)].collect()
    require(censusRows.length <= maxCensusWords,
      s"census has ${censusRows.length} words > maxCensusWords=$maxCensusWords; " +
        "raise maxCensusWords")
    BpeLocal.train(censusRows, numMerges).toDF("step", "left_sym", "right_sym", "pair_count")
  }

  /** Corpus word census `(w, n)` BPE trains on: whitespace tokens and
    * their counts (one explode + count agg).
    */
  private def wordCensus(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Batched BPE merge training — the standard distributed-BPE batching
    * rule: per census round, greedily accept up to `batch` merges in
    * rank order (count desc, left asc, right asc), skipping any pair
    * that shares a symbol with a pair already accepted this round, then
    * apply the whole batch in ONE census rewrite (mutually disjoint
    * symbols cannot interfere) and re-census. Each round is a Spark
    * job over the census, so the census never leaves the cluster; ~batch
    * x fewer rounds than one merge per round (~2 Spark jobs x vocab size
    * at 16k-50k merges).
    *
    * Relationship to sequential [[bpeMerges]] — DOCUMENTED DIVERGENCE:
    * sequential BPE frequently CHAINS (merging (l,o) immediately makes
    * (lo,w) the next top pair — "the"/"ing"-style chains are the norm,
    * not the exception), and a chained pair cannot exist before its
    * prefix merge is applied, so NO within-round batch rule can
    * reproduce sequential order (tiny proof: census {low x3, lower x1,
    * newest x2} — sequential learns (l,o),(lo,w),(low,</w>); any
    * one-census batch can only pick from pairs of ORIGINAL symbols).
    * Greedy batching instead guarantees: every accepted pair's count is
    * its true census count at the round start, accepted pairs are
    * mutually non-interfering, and batch=1 degenerates to exactly
    * sequential. Merge QUALITY is preserved (all accepted pairs are
    * top-frequency); merge ORDER interleaves chains differently. The
    * bpe_merges_batched gate replays THIS rule in DuckDB, pinning it
    * value-exactly; PipelineSpec pins both the batch=1 equality and the
    * tiny-fixture divergence as a contract. When bit-exact sequential
    * semantics are required at production vocab sizes, use
    * [[bpeMerges]] (zero Spark jobs per merge).
    *
    * Only the top `scanWindow = 8 * batch` ranked pairs are considered
    * per round (part of the rule, replayed by the oracle): the driver
    * collect is O(batch), never census-sized. A round with fewer than
    * `batch` disjoint pairs in the window accepts what it found —
    * progress is guaranteed (the top-1 pair is always accepted).
    */
  def bpeMergesBatched(docs: DataFrame, numMerges: Int, batch: Int,
                       textCol: String = "text"): DataFrame =
    bpeMergesBatchedWithRounds(docs, numMerges, batch, textCol)._1

  /** [[bpeMergesBatched]] plus the number of census rounds used — the
    * measured evidence for the rounds-reduction claim.
    */
  def bpeMergesBatchedWithRounds(docs: DataFrame, numMerges: Int, batch: Int,
                                 textCol: String = "text"): (DataFrame, Int) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // localCheckpoint, not cache: each round's census must be a LEAF
    // plan — chained withColumns otherwise grow the logical plan
    // linearly in rounds, and plan re-rendering (AQE explain, UI)
    // quadratically (same idiom as Dedup.connectedComponents' rounds).
    // LAZY checkpoints: the round's ranked collect both computes the
    // ranking AND materializes that round's census in the same job. The
    // PREVIOUS round's blocks are freed only after the collect proves
    // the current census is materialized — freeing earlier would drop
    // the only copy the lazy plan still reads.
    var census = wordCensus(docs, textCol).select(bpeSeedSym(col("w")).as("sym"), col("n"))
      .localCheckpoint(eager = false)
    var toFree: DataFrame = null
    var rounds = 0
    try {
      var exhausted = false
      while (merges.length < numMerges && !exhausted) {
        val m = math.min(batch, numMerges - merges.length)
        val scanWindow = 8 * batch // part of the rule — the oracle replays it
        val ranked = census
          .select(col("n"), explode(tokenPairs(split(trim(col("sym")), "  "))).as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(scanWindow).collect() // materializes this round's census
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (toFree != null) {
          org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(toFree)
          toFree = null
        }
        if (ranked.isEmpty) exhausted = true
        else {
          // greedy disjoint acceptance: skip conflicts, keep scanning
          val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          val used = scala.collection.mutable.Set.empty[String]
          var i = 0
          while (i < ranked.length && accepted.length < m) {
            val (l, r, c) = ranked(i)
            if (!used(l) && !used(r)) { accepted += ((l, r, c)); used += l; used += r }
            i += 1
          }
          accepted.foreach { case (l, r, c) =>
            merges += ((merges.length.toLong, l, r, c)) // step = global index
          }
          // one census rewrite applies the whole batch (disjoint symbols
          // cannot interfere; rank order kept for determinism)
          val newSym = accepted.foldLeft(col("sym")) { case (s, (l, r, _)) =>
            bpeMergeStep(s, l, r)
          }
          val next = census.withColumn("sym", newSym).localCheckpoint(eager = false)
          toFree = census
          census = next
          rounds += 1
        }
      }
    } finally {
      if (toFree != null) org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(toFree)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(census)
    }
    (merges.toSeq.toDF("step", "left_sym", "right_sym", "pair_count"), rounds)
  }

  /** The BPE symbol encoding the batched trainer and apply MUST share
    * byte-for-byte: seed = chars joined by the 2-space separator,
    * 1-space padding, ` </w> ` end marker. This makes left-to-right
    * non-overlapping literal replacement EXACTLY the BPE merge rule
    * (consecutive occurrences share a boundary space: 1+1 spaces
    * remain, so the next occurrence still matches — no regex, no
    * lookbehind, replayable on RE2-only engines like the DuckDB
    * oracle). [[BpeLocal]] mirrors it on symbol arrays.
    */
  private def bpeSeedSym(word: Column): Column =
    concat(lit(" "), array_join(split(word, ""), "  "), lit("  </w> "))

  /** One BPE merge rewrite (batched train and apply share it — see [[bpeSeedSym]]). */
  private def bpeMergeStep(sym: Column, l: String, r: String): Column =
    replace(sym, lit(s" $l  $r "), lit(s" $l$r "))

  /** Within-document line dedup (the C4 paragraph rule's line-level
    * form): keep the FIRST occurrence of each line, preserving order.
    * Pure per-row expression — `array_distinct` keeps first-occurrence
    * order and is codegen (a collection expression, not a HOF); no
    * shuffle at all. Complements [[removeBoilerplate]], which dedups
    * lines ACROSS documents.
    */
  def dedupLinesWithinDoc(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  /** Corpus-unigram log-probability score (the CCNet-style LM quality
    * signal, with the corpus itself as the LM): per document, the mean
    * over tokens of `ln(count(token) / total_tokens)`. Repetitive or
    * in-domain documents score high (close to 0); documents full of
    * rare garbage score very negative — threshold with
    * [[graft.stats.Stats.aboveQuantileExact]] like any quality score.
    *
    * Scale shape: ONE tokenize aggregates to per-doc (doc, token, c)
    * counts — the LM derives from that aggregate (shuffle bounded by
    * distinct tokens, exchange reuse shares the first shuffle, the
    * tfidf shape), the grand total is a broadcast one-row agg (lazy,
    * like tfidf's N), and scoring is a counts->LM join (one row per
    * DISTINCT (doc, token), not per occurrence) + one per-doc
    * count-weighted mean: sum(c*ln p)/sum(c) == the per-token average.
    * Tokenless documents produce no row (join semantics — there is
    * nothing to score).
    */
  def unigramLogProb(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val grouped = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    val lm = grouped.groupBy("t").agg(sum(col("c")).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    grouped.join(lm, "t")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg((sum(col("c").cast("double") * log(col("cnt").cast("double") / col("total")))
        / sum(col("c")).cast("double")).as("lm_logprob"))
  }

  /** Interpolated bigram LM score (the next step up from
    * [[unigramLogProb]]): per document, the count-weighted mean over
    * adjacent token pairs of
    * `ln(lambda * P(r|l) + (1-lambda) * Pc(r))`, with `P(r|l)` the
    * corpus bigram MLE `c(l,r) / c(l,.)` and `Pc(r)` the Kneser-Ney
    * CONTINUATION probability `|{l : c(l,r) > 0}| / |distinct pairs|`
    * — how many distinct contexts `r` follows, not how often (a token
    * frequent only after one fixed context gets little backoff mass).
    * Both model tables derive from one per-doc pair-count aggregate:
    * fluent in-domain text scores near 0, token salad very negative.
    *
    * Scale shape: ONE tokenization aggregates to per-doc (doc, l, r, c)
    * counts (map-side combine); the bigram table, both marginals and
    * the grand total all fold off that aggregate (exchange reuse —
    * no second corpus pass), and scoring is three counts-table joins
    * (keyed on pairs/tokens, bounded by distinct counts, never
    * occurrences) + one per-doc weighted mean. Documents with fewer
    * than two tokens have no pairs and produce no row (join semantics).
    */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.8,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, s"lambda must be in (0,1], got $lambda")
    val g = docs
      .select(col(idCol), explode(tokenPairs(normalizedTokens(textCol))).as("p"))
      .select(col(idCol), col("p.l").as("l"), col("p.r").as("r"))
      .groupBy(col(idCol), col("l"), col("r")).agg(count(lit(1)).as("c"))
    val bi = g.groupBy("l", "r").agg(sum(col("c")).as("cb"))
    val lt = bi.groupBy("l").agg(sum(col("cb")).as("cl"))
    // continuation counts: DISTINCT left contexts per r (bi is already
    // one row per distinct pair, so a plain count is the distinct count)
    val rt = bi.groupBy("r").agg(count(lit(1)).as("cr"))
    val tot = bi.agg(count(lit(1)).cast("double").as("__tt"))
    g.join(bi, Seq("l", "r")).join(lt, "l").join(rt, "r")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("c").cast("double") *
          log(lit(lambda) * (col("cb").cast("double") / col("cl")) +
            lit(1.0 - lambda) * (col("cr").cast("double") / col("__tt"))))
          / sum(col("c")).cast("double"), 6).as("bigram_logprob"))
  }

  /** Batch BM25: score MANY queries in ONE corpus pass. The per-doc
    * term frequencies are computed once for the union of all query
    * terms, fanned out per query through a broadcast (query, term)
    * join, and ranked per query by the bounded-heap
    * [[graft.functions.TopK]] aggregator — map-side partial top-k, so
    * the exchange carries at most k docs per (query, task) instead of
    * every scored (query, doc) pair. The single-query
    * [[bm25]] is the degenerate Q=1 form; this is the shape for an
    * eval-suite decontamination sweep or a query batch. Ranks are
    * dense 0-based per query, ties broken by doc id.
    */
  def bm25Multi(df: DataFrame, queries: Map[String, Seq[String]], k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty && queries.values.forall(_.nonEmpty),
      "bm25Multi needs at least one query, each with at least one term")
    import df.sparkSession.implicits._
    val allTerms = queries.values.flatten.toSeq.distinct
    val qt = queries.toSeq.sortBy(_._1)
      .flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query", "t")
    // the heap is typed by the id column: long heap for numeric ids,
    // string heap (lexical ties) otherwise — a hard long cast would
    // null out string/URL ids and crash the non-nullable tuple encoder
    val idIsNumeric = df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val heap: Column => Column =
      if (idIsNumeric) s => graft.functions.TopK.topK(k)(s, col(idCol).cast("long"))
      else s => graft.functions.TopK.topKStr(k)(s, col(idCol).cast("string"))
    // rank by the ROUNDED score: mathematically-tied docs must tie
    // exactly (then break by id) — ranking raw sums would let last-ulp
    // summation-order noise order true ties differently per engine
    bm25TermScores(df, allTerms, k1, b, textCol, idCol)
      .join(broadcast(qt), "t")
      .groupBy(col("query"), col(idCol)).agg(round(sum(col("s")), 6).as("score"))
      .groupBy(col("query"))
      .agg(heap(col("score")).as("__top"))
      .select(col("query"), posexplode(col("__top")))
      .select(col("query"), col("pos").cast("long").as("rank"),
        col("col._2").as(idCol), col("col._1").as("bm25"))
  }

  /** Apply a learned BPE merge table (from [[bpeMerges]], in training
    * order): per-document token counts under the learned vocabulary —
    * the "how long is my corpus in my tokenizer" primitive that sizes
    * training runs. The scalable vocab-apply shape: ONE tokenize
    * aggregates to per-doc (doc, word, c) counts (map-side combine
    * collapses occurrences before the shuffle), the merge cascade
    * (seed symbols + chained literal replaces, all codegen) projects
    * `n_toks` directly over the aggregate — once per DISTINCT
    * (doc, word) pair, no second scan, no census join — and one agg
    * sums `c * n_toks` per doc. The corpus never carries symbol
    * strings through a shuffle, only (doc_id, word, c). (The
    * alternative — encode each distinct WORD once and join — scans
    * and tokenizes the corpus twice because the optimizer collapses
    * any shared-aggregate formulation of the census; k extra codegen
    * replaces per pair is the cheaper side of that trade for the
    * modest merge tables this chained-replace form targets.)
    * Documents with no words (empty text) produce no row, matching
    * the oracle's join semantics.
    */
  def bpeTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wordCounts = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("c"))
    val encoded = merges.foldLeft(bpeSeedSym(col("word"))) {
      case (sym, (l, r)) => bpeMergeStep(sym, l, r)
    }
    wordCounts
      .select(col(idCol), col("c"),
        size(split(trim(encoded), "  ")).cast("long").as("n_toks"))
      .groupBy(col(idCol)).agg(sum(col("c") * col("n_toks")).as("n_bpe_tokens"))
  }

  /** Lines occurring in at least `minDocs` DISTINCT documents — the
    * boilerplate census behind [[removeBoilerplate]] (C4-style: nav
    * bars, cookie banners, license headers repeat across pages; a line
    * repeated within ONE doc counts once). One explode + per-doc
    * distinct + one count agg; the result is small by construction
    * (boilerplate = high-frequency lines), so callers can broadcast it.
    */
  def boilerplateLines(docs: DataFrame, minDocs: Long, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs): every line is in >= 1 doc")
    docs.select(col(idCol), explode(split(col(textCol), "\n")).as("line"))
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** C4-style line-level boilerplate removal: drop every line that
    * occurs in >= `minDocs` distinct documents, reassembling each doc's
    * remaining lines in their original order. Documents whose EVERY
    * line is boilerplate produce an empty-text row (kept, not dropped —
    * downstream length filters decide their fate explicitly).
    *
    * Scale shape: detection is the [[boilerplateLines]] census; removal
    * is a left-anti join of the exploded lines against the (small) hot
    * set — Spark broadcasts it when it fits and shuffles the anti join
    * when a pathological corpus makes it large. Reassembly is ONE
    * groupBy(doc) with an in-group sort by line position (sort_array of
    * (pos, line) structs — never an unpartitioned window).
    */
  def removeBoilerplate(docs: DataFrame, minDocs: Long, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hot = boilerplateLines(docs, minDocs, textCol, idCol).select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
    reassembleInOrder(docs, kept, "line", "\n", textCol, idCol)
  }

  /** Row-preserving ordered reassembly shared by [[removeBoilerplate]]
    * and [[graft.pipeline.Dedup.removeDupSpans]]: group the surviving
    * (id, pos, piece) rows back into one text per document, sorted by
    * position IN-group (sort_array of (pos, piece) structs — never an
    * unpartitioned window), then left-join against the full id set so
    * documents whose every piece was removed keep their row with empty
    * text (auditable removal; downstream length filters decide their
    * fate explicitly).
    */
  private[pipeline] def reassembleInOrder(docs: DataFrame, kept: DataFrame,
                                          pieceCol: String, sep: String,
                                          textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol))
      .join(
        kept.groupBy(col(idCol))
          .agg(array_join(
            sort_array(collect_list(struct(col("pos"), col(pieceCol)))).getField(pieceCol),
            sep).as(textCol)),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
}
