package graft.gates

import org.apache.spark.sql.functions._
import graft.pipeline.TextOps
import graft.stats.Stats
import Inputs._

/** Text gates: token and quality features, language id, BPE training
  * and encoding, LM scores, vocabularies, retrieval scores and PII
  * redaction over the documents table.
  */
object TextGates {

  /** The BPE oracles' word census (w) and its symbol encoding (c0). */
  private val bpeSeed =
    """w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) t
      |  WHERE word <> '' GROUP BY word),
      |c0 AS MATERIALIZED (SELECT word, ' ' || array_to_string(
      |  list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), '  ')
      |  || '  </w> ' AS sym, n FROM w)""".stripMargin

  /** Generated stage-by-stage DuckDB replay of [[graft.pipeline.TextOps
    * .bpeMerges]]: c0 = the symbol-encoded word census, then per merge
    * round i a pair-count CTE (p_i), a deterministic 1-row argmax
    * (m_i), and the literal-replace rewrite (c_{i+1}) — the same
    * 2-space-separator encoding as the Spark side, so plain `replace`
    * IS the BPE merge rule on both engines. When the corpus exhausts
    * its merges before `numMerges` rounds, m_i is EMPTY and the scalar
    * subqueries go NULL — the CASE guard makes c_{i+1} the identity
    * then (matching Spark's early stop) instead of NULLing every sym.
    */
  private def bpeCascade(numMerges: Int): String = {
    val stages = (0 until numMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT struct_extract(pr, 'l') AS l, struct_extract(pr, 'r') AS r,
         |         CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest(list_transform(ts[1:len(ts)-1], (x, k) -> {'l': x, 'r': ts[k+1]})) AS pr
         |        FROM (SELECT n, string_split(trim(sym), '  ') AS ts FROM c$i))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |c${i + 1} AS MATERIALIZED (SELECT word, CASE
         |    WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN sym
         |    ELSE replace(sym,
         |      ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |      ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ')
         |    END AS sym, n FROM c$i)""".stripMargin
    }
    s"$bpeSeed,\n${stages.mkString(",\n")}"
  }

  /** Shared CTE prefix for the unigram-LM oracles: whitespace tokens
    * (toks2), corpus LM counts (lm), grand total (tot), and the per-doc
    * ROUND(6) score (scored). lm_logprob selects from `scored`
    * directly; lm_buckets layers terciles on top — one definition so
    * the two gates cannot drift to different score semantics.
    */
  private val lmScoredCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
      |toks2 AS (SELECT * FROM toks WHERE t <> ''),
      |lm AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks2 GROUP BY t),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT doc_id, ROUND(AVG(ln(CAST(cnt AS DOUBLE) / total)), 6) AS lm_logprob
      |  FROM toks2 JOIN lm USING (t), tot GROUP BY doc_id)""".stripMargin

  private def bpeMergesOracle(numMerges: Int): String = {
    val finals = (0 until numMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCascade(numMerges)}\n$finals"
  }

  /** Replays the BATCH-selection rule itself (graft.pipeline.TextOps
    * .bpeMergesBatched), not the sequential cascade: per round, rank
    * pairs (cnt desc, l, r) within the top `8 * batch` scan window,
    * greedily accept up to `least(batch, remaining)` pairs in rank
    * order skipping any pair sharing a symbol with one already
    * accepted this round, apply the whole batch in one rewrite. Greedy
    * "scan and skip" == chained "top-1 disjoint from accepted so far",
    * which is plain SQL (one small sub-CTE per batch slot — no
    * recursion, nothing census-sized). Worst case every round accepts
    * one merge, so `numMerges` stages are generated; spent stages
    * no-op once the merge budget is reached. Together with the
    * sequential bpe_merges gate this pins both the rule and its
    * sequential-equality on the fixture corpus.
    */
  private def bpeMergesBatchedOracle(numMerges: Int, batch: Int): String = {
    val scanWindow = 8 * batch
    val stages = (0 until numMerges).map { i =>
      val cum = if (i == 0) "0"
      else (0 until i).map(j => s"(SELECT COUNT(*) FROM a$j)").mkString(" + ")
      // m_i = merges still allowed this round
      val mi = s"LEAST($batch, $numMerges - ($cum))"
      // slot g: the highest-ranked pair disjoint from slots 1..g-1
      val slots = (1 to batch).map { g =>
        val prevSyms =
          if (g == 1) ""
          else {
            val u = (1 until g).map(h => s"SELECT l AS s FROM a${i}_$h UNION ALL SELECT r FROM a${i}_$h")
              .mkString(" UNION ALL ")
            s" AND l NOT IN ($u) AND r NOT IN ($u)"
          }
        s"""a${i}_$g AS MATERIALIZED (
           |  SELECT l, r, cnt, rk FROM r$i
           |  WHERE ($mi) >= $g$prevSyms
           |  ORDER BY rk LIMIT 1)""".stripMargin
      }
      val aUnion = (1 to batch).map(g => s"SELECT * FROM a${i}_$g").mkString(" UNION ALL ")
      // nested conditional replaces, slot g applies the g-th accepted
      // pair (rank order; disjoint symbols cannot interfere). Single
      // line on purpose: stripMargin over interpolated SQL would eat
      // one pipe of the '||' concatenations (see bpeEncodeOracle's NB)
      val applied = (1 to batch).foldLeft("sym") { (prev, g) =>
        val lg = s"(SELECT l FROM a$i ORDER BY rk LIMIT 1 OFFSET ${g - 1})"
        val rg = s"(SELECT r FROM a$i ORDER BY rk LIMIT 1 OFFSET ${g - 1})"
        s"CASE WHEN (SELECT COUNT(*) FROM a$i) >= $g " +
          s"THEN replace($prev, ' ' || $lg || '  ' || $rg || ' ', ' ' || $lg || $rg || ' ') " +
          s"ELSE $prev END"
      }
      s"""p$i AS MATERIALIZED (
         |  SELECT struct_extract(pr, 'l') AS l, struct_extract(pr, 'r') AS r,
         |         CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest(list_transform(ts[1:len(ts)-1], (x, k) -> {'l': x, 'r': ts[k+1]})) AS pr
         |        FROM (SELECT n, string_split(trim(sym), '  ') AS ts FROM c$i))
         |  GROUP BY 1, 2),
         |r$i AS MATERIALIZED (
         |  SELECT l, r, cnt, rk FROM (
         |    SELECT l, r, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
         |    FROM p$i) WHERE rk <= $scanWindow),
         |${slots.mkString(",\n")},
         |a$i AS MATERIALIZED ($aUnion),
         |c${i + 1} AS MATERIALIZED (SELECT word, $applied AS sym, n FROM c$i)""".stripMargin
    }
    val allA = (0 until numMerges).map(i =>
      s"SELECT $i AS stage, l, r, cnt, rk FROM a$i").mkString(" UNION ALL ")
    // NB: never stripMargin across the interpolated cascade — it would
    // eat one pipe of the cascade's own `||` concatenations
    s"WITH $bpeSeed,\n${stages.mkString(",\n")},\nall_a AS ($allA)\n" +
      "SELECT CAST(ROW_NUMBER() OVER (ORDER BY stage, rk) - 1 AS BIGINT) AS step, " +
      "l AS left_sym, r AS right_sym, cnt AS pair_count FROM all_a"
  }

  /** The final census stage keys every distinct word to its learned
    * token sequence; per-doc counts are a words->census join — the same
    * vocab-apply shape as the Spark side.
    */
  private def bpeEncodeOracle(numMerges: Int): String =
    // NB: never stripMargin across the interpolated cascade — it would
    // eat one pipe of the cascade's own `||` concatenations
    s"WITH ${bpeCascade(numMerges)}\n" +
      """SELECT d.doc_id, CAST(SUM(len(string_split(trim(c.sym), '  '))) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |      FROM documents) d
        |""".stripMargin +
      s"JOIN c$numMerges c USING (word) WHERE d.word <> '' GROUP BY d.doc_id"

  // BPE tokenizer training: 8 merges over the corpus word census
  // (one census job, then the driver-side incremental trainer). The
  // oracle replays the whole cascade (census, weighted pair counts,
  // deterministic argmax, literal-replace merge) stage by stage — one
  // wrong tie-break or rewrite anywhere diverges every later merge
  private val bpeMerges =
    Gate("bpe_merges", (s, dir) => TextOps.bpeMerges(docs(s, dir), numMerges = 8),
      // stage-by-stage replay of the merge cascade; every CTE is
      // MATERIALIZED (DuckDB re-inlines plain CTEs per reference — c_i is
      // referenced twice per stage, which would re-evaluate the whole
      // prefix exponentially). The indexed lambda is 1-based, so ts[k+1]
      // is the right neighbor of slice element k
      bpeMergesOracle(8))

  val all: Seq[Gate] = Seq(
    Gate("text_tokens", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars")),
      """SELECT doc_id,
        |CAST(CASE WHEN trim(text) = '' THEN 0
        |     ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin),

    Gate("text_quality", (s, dir) => {
      val cols = col("doc_id") +: TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir).select(cols: _*)
    }, {
      val len = "GREATEST(length(text),1)"
      val alpha = s"CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/$len"
      val digit = s"CAST(length(regexp_replace(text,'[^0-9]','','g')) AS DOUBLE)/$len"
      val space = s"CAST(length(regexp_replace(text,'[^ \\t\\n]','','g')) AS DOUBLE)/$len"
      val padded = "' ' || lower(text) || ' '"
      def occ(m: String) = s"CAST((length($padded) - length(replace($padded,'$m','')))/${m.length} AS INT)"
      val hits = s"(${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")})"
      val toks = "GREATEST(CASE WHEN trim(text)='' THEN 0 ELSE length(regexp_split_to_array(trim(text),'\\s+')) END, 1)"
      val stop = s"LEAST(CAST($hits AS DOUBLE)/$toks*5.0, 1.0)"
      s"""SELECT doc_id,
         |ROUND($alpha, 6) AS alpha_ratio,
         |ROUND($digit, 6) AS digit_ratio,
         |ROUND($space, 6) AS space_ratio,
         |ROUND($stop, 6) AS stop_density,
         |ROUND(($alpha)*0.5 + (1.0-($digit))*0.2 + ($stop)*0.3, 6) AS quality_score
         |FROM documents""".stripMargin
    }),

    Gate("lang_id", (s, dir) => {
      val scoreCols = TextOps.langScores(col("text")).map { case (n, c) => c.cast("long").as(n) }
      docs(s, dir).select(
        (col("doc_id") +: scoreCols) :+
          TextOps.langPredict(col("text")).as("predicted") :+
          col("lang").as("label"): _*)
    }, {
      val padded = "' ' || lower(text) || ' '"
      def occ(m: String) = s"CAST((length($padded) - length(replace($padded,'$m','')))/${m.length} AS INT)"
      def fam(ms: Seq[String]) = ms.map(occ).mkString("(", " + ", ")")
      val families = TextOps.langMarkers.map { case (l, ms) => l -> fam(ms) }
      val scores = families.map { case (l, e) => s"CAST($e AS BIGINT) AS score_$l" }.mkString(", ")
      val best = families.map(_._2).mkString("GREATEST(", ", ", ")")
      val cases = families.map { case (l, e) => s"WHEN $e = $best AND $best > 0 THEN '$l'" }.mkString(" ")
      s"""SELECT doc_id, $scores,
         |CASE $cases ELSE 'unknown' END AS predicted,
         |lang AS label
         |FROM documents""".stripMargin
    }),

    Gate("doc_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents"""),

    bpeMerges,

    // batched BPE training (round 6): up to 4 merges per census round —
    // the distributed-rounds scale path. The oracle replays the batch
    // rule itself (rank, greedy disjoint accept, one rewrite per round),
    // NOT the sequential cascade: merge ORDER legitimately diverges from
    // sequential on chained merges (documented in the Scaladoc with a
    // three-word proof), so the gate pins the rule value-exactly
    Gate("bpe_merges_batched", (s, dir) =>
      TextOps.bpeMergesBatched(docs(s, dir), numMerges = 8, batch = 4),
      bpeMergesBatchedOracle(8, 4)),

    // same trainer and oracle as bpe_merges: the key of the round-6
    // driver-side trainer, kept so that no gate key is dropped
    bpeMerges.copy(name = "bpe_merges_local"),

    // train-then-apply: the learned 8-merge table re-tokenizes the
    // corpus; per-doc counts under the learned vocab must match the
    // oracle's replay of the full cascade + vocab-apply join
    Gate("bpe_encode", (s, dir) => {
      val merges = TextOps.bpeMerges(docs(s, dir), numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeTokenCounts(docs(s, dir), merges)
    }, bpeEncodeOracle(8)),

    // corpus-unigram LM quality score; ROUND(6) absorbs float-sum
    // association order and libm ln ulp differences (same precedent as
    // ngram_jaccard / tfidf)
    Gate("lm_logprob", (s, dir) =>
      TextOps.unigramLogProb(docs(s, dir))
        .select(col("doc_id"), round(col("lm_logprob"), 6).as("lm_logprob")),
      s"WITH $lmScoredCte\nSELECT doc_id, lm_logprob FROM scored"),

    // CCNet-style head/middle/tail terciles of the LM score. Buckets
    // are assigned over the ROUNDED score (the value the lm_logprob
    // gate proves byte-equal across engines) so the quantile thresholds
    // and >= comparisons are float-exact on both sides
    Gate("lm_buckets", (s, dir) => {
      val scored = TextOps.unigramLogProb(docs(s, dir))
        .select(col("doc_id"), round(col("lm_logprob"), 6).as("lm_logprob"))
      Stats.bucketByQuantilesExact(scored, "lm_logprob",
        Seq(1.0 / 3, 2.0 / 3), Seq("tail", "middle", "head"))
    },
      // fraction literals are the exact doubles scala's 1.0/3 and 2.0/3
      // print as
      (s"WITH $lmScoredCte,\n" +
        """thr AS (SELECT quantile_cont(lm_logprob, 0.3333333333333333) AS t1,
          |               quantile_cont(lm_logprob, 0.6666666666666666) AS t2 FROM scored)
          |SELECT doc_id, lm_logprob,
          |  CASE WHEN lm_logprob >= t2 THEN 'head'
          |       WHEN lm_logprob >= t1 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM scored, thr""".stripMargin)),

    // C4-style line-level boilerplate removal over a deterministic
    // multi-line staging of the corpus (the raw docs are single-line):
    // a header line shared by ALL docs and a footer shared by ~1/7 of
    // them must go; every unique body line must survive byte-for-byte
    // in original order (the corpus has no text shared by >= 25 docs,
    // so no body line crosses the threshold at any provided SF)
    Gate("boilerplate_removal", (s, dir) => {
      // coalesce: same engine-identical null staging rule as
      // dedup_lines_withindoc (concat_ws skips nulls, || propagates)
      val staged = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", lit("=== COMMON HEADER ==="), coalesce(col("text"), lit("")),
          concat(lit("footer "), (col("doc_id") % 7).cast("string"))).as("text"))
      TextOps.removeBoilerplate(staged, minDocs = 25)
        .select(col("doc_id"), col("text"))
    },
      // replays the line census + removal + ordered reassembly; DuckDB's
      // indexed lambda is 1-based vs posexplode's 0-based, but pos only
      // ORDERS the reassembly, it is never emitted
      """WITH staged AS (
        |  -- COALESCE mirrors the Spark side's null-skipping concat_ws, so a
        |  -- null text row stages to the same string in both engines
        |  SELECT doc_id, '=== COMMON HEADER ===' || chr(10) || COALESCE(text, '') || chr(10)
        |         || 'footer ' || CAST(doc_id % 7 AS VARCHAR) AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'line') AS line
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(string_split(text, chr(10)),
        |            (x, i) -> {'pos': i, 'line': x})) AS s
        |        FROM staged)),
        |hot AS (
        |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS n FROM ln GROUP BY line)
        |  WHERE n >= 25),
        |kept AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM ln WHERE line NOT IN (SELECT line FROM hot) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(k.text, '') AS text
        |FROM staged d LEFT JOIN kept k USING (doc_id)""".stripMargin),

    Gate("text_subwords", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.subwordCount(col("text")).cast("long").as("n_subwords")),
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin),

    Gate("doc_rolling_hash", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rh")),
      // corpus is ASCII so ascii(char) == utf-8 byte; fold replays the
      // byte-level polynomial mod 1e9+7 exactly
      """SELECT doc_id, CAST(list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |  (h, c) -> (h * 31 + c) % 1000000007) AS BIGINT) AS rh
        |FROM documents""".stripMargin),

    // tokenizer-training primitive: corpus bigram frequencies, top-50
    // by (count desc, pair asc) — deterministic tie order both engines
    Gate("token_pairs", (s, dir) =>
      TextOps.tokenPairCounts(docs(s, dir), topN = 50)
        .select(col("pair"), col("n")),
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |p AS (SELECT list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS ps FROM toks),
        |u AS (SELECT unnest(ps) AS pair FROM p)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM u
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin),

    // corpus LM quality, one step up from lm_logprob: interpolated
    // bigram score with continuation-count backoff, every model table
    // derived from ONE per-doc pair-count aggregate
    Gate("bigram_logprob", (s, dir) =>
      TextOps.bigramLogProb(docs(s, dir), lambda = 0.8)
        .select(col("doc_id"), col("bigram_logprob")),
      // bigram LM replay off the same per-doc pair aggregate; the
      // interpolation weights are written as the arithmetic Scala runs
      // ((1.0 - 0.8) is a different double than a literal 0.2)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> {'l': t[i], 'r': t[i+1]})) AS s
        |       FROM toks),
        |g AS (SELECT doc_id, s.l AS l, s.r AS r, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM pr GROUP BY doc_id, s.l, s.r),
        |bi AS (SELECT l, r, CAST(SUM(c) AS BIGINT) AS cb FROM g GROUP BY l, r),
        |lt AS (SELECT l, CAST(SUM(cb) AS BIGINT) AS cl FROM bi GROUP BY l),
        |rt AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS cr FROM bi GROUP BY r),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM bi)
        |SELECT g.doc_id,
        |  ROUND(SUM(CAST(c AS DOUBLE) *
        |            LN(0.8 * (CAST(cb AS DOUBLE) / cl) + (1.0 - 0.8) * (CAST(cr AS DOUBLE) / tt)))
        |        / CAST(SUM(c) AS DOUBLE), 6) AS bigram_logprob
        |FROM g JOIN bi USING (l, r) JOIN lt USING (l) JOIN rt USING (r) CROSS JOIN tot
        |GROUP BY g.doc_id""".stripMargin),

    // per-domain heavy hitters: top-10 tokens per source through the
    // bounded-heap typed aggregator (map-side partial top-k — never a
    // per-group row_number window)
    Gate("vocab_bygroup", (s, dir) =>
      TextOps.vocabularyByGroup(docs(s, dir), k = 10)
        .select(col("source"), col("rank"), col("token"), col("tf")),
      // per-group top-k replayed as the window form the operator refuses
      // to run — same (tf desc, token asc) total order
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                                    t -> t <> '')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY source, token),
        |r AS (SELECT source, token, tf,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY tf DESC, token ASC) AS rn
        |      FROM c)
        |SELECT source, CAST(rn - 1 AS BIGINT) AS rank, token, tf FROM r WHERE rn <= 10""".stripMargin),

    // collocation mining: top-40 adjacent pairs by pointwise mutual
    // information among pairs seen >= 5 times (the phrase-mining
    // statistic; rare pairs pruned BEFORE the unigram joins)
    Gate("pmi_bigrams", (s, dir) =>
      TextOps.pmiCollocations(docs(s, dir), topN = 40, minCount = 5)
        .select(col("l"), col("r"), col("n"), col("pmi")),
      // PMI replay: same unigram/bigram counts, same rounded-ln ranking;
      // the arithmetic shape (multiply-before-divide, left-assoc) mirrors
      // the Spark expression so the rounded doubles agree bit-for-bit
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |u AS (SELECT unnest(t) AS tok FROM toks),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS tt FROM uni),
        |p AS (SELECT list_transform(range(1, len(t)), i -> {'l': t[i], 'r': t[i+1]}) AS ps FROM toks),
        |pe AS (SELECT unnest(ps) AS s FROM p),
        |bi AS (SELECT s.l AS l, s.r AS r, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM pe GROUP BY s.l, s.r HAVING COUNT(*) >= 5)
        |SELECT bi.l, bi.r, bi.n,
        |  ROUND(LN(CAST(bi.n AS DOUBLE) * tot.tt /
        |           (CAST(ul.c1 AS DOUBLE) * CAST(ur.c1 AS DOUBLE))), 6) AS pmi
        |FROM bi JOIN uni ul ON bi.l = ul.tok JOIN uni ur ON bi.r = ur.tok CROSS JOIN tot
        |ORDER BY pmi DESC, l ASC, r ASC LIMIT 40""".stripMargin),

    // gibberish/encoded-blob detector: per-doc character-level Shannon
    // entropy in bits (explode + two map-side-combining aggs)
    Gate("char_entropy", (s, dir) =>
      TextOps.charEntropy(docs(s, dir))
        .select(col("doc_id"), col("char_entropy")),
      // entropy replay in the SAME algebraic form (-sum(c*log2 c)/n +
      // log2 n) so both engines round the same double
      // nats summed, one /LN(2) at the end — mirrors the operator (and the
      // jsd precedent) so the gate never depends on a native log2 kernel
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |f AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM ch WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id, ROUND((-SUM(c * LN(c)) / SUM(c) + LN(SUM(c))) / LN(2), 6) AS char_entropy
        |FROM f GROUP BY doc_id""".stripMargin),

    // batch retrieval: three queries scored in ONE corpus pass, ranked
    // per query by the bounded-heap aggregator (never a global sort)
    Gate("bm25_multi", (s, dir) =>
      TextOps.bm25Multi(docsBalanced(s, dir), Map(
        "q_engine" -> Seq("spark", "join"),
        "q_stream" -> Seq("stream", "window"),
        "q_data" -> Seq("vector", "data")), k = 10)
        .select(col("query"), col("rank"), col("doc_id"), col("bm25")),
      // same per-term model as bm25_topk (df over the union term set),
      // fanned out by the VALUES query table; rank ties break by doc_id
      """WITH base AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(toks)) AS avgdl FROM base),
        |qt(query, t) AS (VALUES ('q_engine', 'spark'), ('q_engine', 'join'),
        |                        ('q_stream', 'stream'), ('q_stream', 'window'),
        |                        ('q_data', 'vector'), ('q_data', 'data')),
        |tf AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM base)
        |  WHERE t IN ('spark', 'join', 'stream', 'window', 'vector', 'data')
        |  GROUP BY doc_id, dl, t),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
        |sc AS (SELECT query, doc_id,
        |         SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |             (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))) AS s
        |       FROM tf JOIN dfreq USING (t) JOIN qt USING (t) CROSS JOIN stats
        |       GROUP BY query, doc_id),
        |-- rank by the ROUNDED score like the operator (true ties break
        |-- by doc_id in both engines)
        |r AS (SELECT query, doc_id, ROUND(s, 6) AS sr,
        |        ROW_NUMBER() OVER (PARTITION BY query ORDER BY ROUND(s, 6) DESC, doc_id ASC) AS rn
        |      FROM sc)
        |SELECT query, CAST(rn - 1 AS BIGINT) AS rank, doc_id, sr AS bm25
        |FROM r WHERE rn <= 10""".stripMargin),

    // ranked retrieval: Okapi BM25 top-40 docs for a 4-term query; the
    // corpus explode is isin-pruned to query terms before any shuffle
    Gate("bm25_topk", (s, dir) =>
      TextOps.bm25(docs(s, dir), Seq("spark", "join", "window", "vector"), topN = 40)
        .select(col("doc_id"), col("bm25")),
      // BM25 replay; constants written as the same arithmetic Scala runs
      // ((1.2 + 1.0), (1.0 - 0.75)) — a literal 2.2 is a DIFFERENT double
      // than 1.2 + 1.0 and would diverge in the 6th decimal on ties
      """WITH base AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(toks)) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM base)
        |  WHERE t IN ('spark', 'join', 'window', 'vector')
        |  GROUP BY doc_id, dl, t),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t)
        |SELECT doc_id,
        |  ROUND(SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
        |FROM tf JOIN dfreq USING (t) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 40""".stripMargin),

    // repetition quality signals: Gopher-style duplicate-3-gram ratio
    // (per-row array arithmetic) + top-token share (explode + two
    // map-side-combining aggs)
    Gate("text_repetition", (s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          TextOps.dupNgramRatio(col("text"), 3).as("dup_3gram_ratio"))
        .join(TextOps.topTokenShare(d), "doc_id")
    },
      """WITH sh AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)),
        |rep AS (SELECT doc_id,
        |    ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS dup_3gram_ratio
        |  FROM sh),
        |cnt AS (SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM sh)
        |  WHERE t <> '' GROUP BY doc_id, t),
        |top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_share
        |  FROM cnt GROUP BY doc_id)
        |SELECT rep.doc_id, dup_3gram_ratio, top_token_share
        |FROM rep JOIN top USING (doc_id)""".stripMargin),

    // PII redaction over deterministically planted email/SSN/phone
    // (real docs carry none); output hashed so the gate compares the
    // full redacted text without shipping it
    Gate("pii_redact", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(TextOps.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-45"), col("doc_id"),
          lit(" ssn 123-45-6789")))).as("redacted_md5")),
      """SELECT doc_id, md5(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com or 555-123-45' || doc_id || ' ssn 123-45-6789',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
        |    '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin),

    // corpus vocabulary: top-100 tokens by total frequency with doc
    // frequency; deterministic (tf desc, token asc) total order
    Gate("vocab_topk", (s, dir) =>
      TextOps.vocabulary(docs(s, dir), topN = 100)
        .select(col("token"), col("tf").cast("long").as("tf"),
          col("df").cast("long").as("df")),
      """WITH tok AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> '')
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token
        |ORDER BY tf DESC, token ASC
        |LIMIT 100""".stripMargin),

    // TF-IDF over the top-20 vocabulary (broadcast vocab join)
    Gate("tfidf_topvocab", (s, dir) =>
      TextOps.tfidf(docs(s, dir), vocabSize = 20)
        .select(col("doc_id"), col("token"), col("weight")),
      """WITH tok AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |v AS (
        |  SELECT token, COUNT(*) AS tf_all, COUNT(DISTINCT doc_id) AS dfreq
        |  FROM tok GROUP BY token ORDER BY tf_all DESC, token ASC LIMIT 20),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token)
        |SELECT tf.doc_id, tf.token,
        |  ROUND(tf.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / dfreq), 6) AS weight
        |FROM tf JOIN v USING (token)""".stripMargin)
  )
}
