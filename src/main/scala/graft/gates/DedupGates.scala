package graft.gates

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, TextOps}
import Inputs._

/** Deduplication gates: exact, line and span dedup, MinHash/SimHash
  * near-dup pairs, clusters and survivors over the planted pools, and
  * benchmark decontamination.
  */
object DedupGates {

  /** Exact all-pairs 3-shingle Jaccard over [[poolCte]] — the ground
    * truth the LSH pair queries compare against (shared CTE fragment).
    */
  private val shPairsCte: String =
    """sh0 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM pool)),
      |-- inverted-index form of the exact all-pairs Jaccard: co-occurring
      |-- pairs only, |A inter B| = the co-occurrence group count, union by
      |-- inclusion-exclusion. IDENTICAL output to the naive a-join-b form
      |-- (every consumer filters j >= 0.5 > 0, and zero-shingle-overlap
      |-- pairs are the only rows the index form omits) but ~300x cheaper --
      |-- the naive form alone outgrew the driver's gate budget (r3 lesson)
      |shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh0),
      |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM shd),
      |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS inter
      |       FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2, 3, 4),
      |pairs AS (SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS j FROM co)""".stripMargin

  /** Connected components of the >= 0.5 Jaccard pair graph as a
    * recursive transitive closure (component = min reachable id) —
    * replays [[graft.pipeline.Dedup.connectedComponents]].
    */
  private val componentsCte: String =
    s"""$shPairsCte,
       |p AS (SELECT id_a, id_b FROM pairs WHERE j >= 0.5),
       |-- MATERIALIZED is load-bearing: without it DuckDB re-inlines the
       |-- whole all-pairs subtree into EVERY recursion step
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
       |comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)""".stripMargin

  /** Shared CTE prefix for the span-dedup oracles: tokenized docs (tt),
    * positional n-grams (g, 0-based starts; DuckDB's indexed lambda and
    * list slices are 1-based), and the cross-doc duplicated gram set
    * (hot).
    */
  private def spanCte(n: Int): String =
    s"""tt AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, struct_extract(s, 'start') AS start, struct_extract(s, 'gram') AS gram
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts) - $n + 2),
       |          i -> {'start': i - 1, 'gram': array_to_string(ts[i:i + $n - 1], ' ')})) AS s
       |        FROM tt WHERE len(ts) >= $n)),
       |hot AS MATERIALIZED (
       |  SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2)""".stripMargin

  // MinHash+LSH near-dup pairs vs an exact all-pairs DuckDB oracle.
  // Parameter choice is measured, not guessed: the corpus' true-pair
  // Jaccard spectrum is bimodal (random pairs E[J^2]~1e-5, max 0.069;
  // planted pairs J>=0.8). Two-row bands (k=24, b=12) keep expected
  // random candidates at ~12*|pairs|*E[J^2] (a few thousand at sf0.1,
  // so the exact-verify stage stays tiny) while the planted-pair miss
  // probability is <=(1-0.8^2)^12 ~ 5e-6 per pair — and the baked hash
  // seeds make recall a fixed property of the dataset, verified
  // exhaustively at the gate scale. One-row bands would be certain
  // recall but ~1M random candidates: verification, not banding,
  // dominates LSH cost.
  private val minhashPairs =
    Gate("minhash_pairs", (s, dir) =>
      Dedup.minhashPairs(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      // exact all-pairs shingle-Jaccard ground truth (the LSH output must
      // EQUAL it: the corpus has no pairs near the 0.5 boundary)
      s"""WITH $poolCte,
         |$shPairsCte
         |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin)

  // near-dup CLUSTERS: LSH pairs -> connected components. Oracle
  // replays the transitive closure with a recursive CTE over the exact
  // all-pairs Jaccard ground truth.
  private val nearDupComponents =
    Gate("neardup_components", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashPairs(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5))
        .select(col("id").cast("long").as("doc_id"), col("comp").cast("long").as("component")),
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte
         |SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component
         |FROM comp""".stripMargin)

  // benchmark decontamination: docs sharing any 8-gram with the
  // benchmark slice (doc_id % 13 == 1), counted per doc
  private val contamination =
    Gate("contamination", (s, dir) => {
      val d = docsBalanced(s, dir)
      TextOps.contaminationHits(d, d.filter(col("doc_id") % 13 === 1), n = 8)
        .select(col("doc_id"), col("n_hits").cast("long").as("n_hits"))
    },
      """WITH sh8 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 6),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |                     || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) END AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)),
        |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh8 WHERE doc_id % 13 = 1),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh8)
        |SELECT dg.doc_id, CAST(COUNT(DISTINCT dg.g) AS BIGINT) AS n_hits
        |FROM dg JOIN bg ON dg.g = bg.g
        |GROUP BY dg.doc_id""".stripMargin)

  val all: Seq[Gate] = Seq(
    minhashPairs,
    nearDupComponents,
    // the same operator under a second key: gate keys are never dropped,
    // and the deep-graph large-star/small-star tail of
    // connectedComponents stays named in the gate list
    nearDupComponents.copy(name = "neardup_components_alt"),
    contamination,
    // the contamination operator under a second, pinned gate key
    contamination.copy(name = "contamination_bloom"),

    Gate("dedup_exact", (s, dir) =>
      Dedup.exactGroups(dedupPool(s, dir)).select(
        col("content_hash"), col("dup_count"), col("keep_id")),
      s"""WITH $poolCte
         |SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS dup_count,
         |       CAST(MIN(doc_id) AS BIGINT) AS keep_id
         |FROM pool GROUP BY md5(text) HAVING COUNT(*) > 1""".stripMargin),

    Gate("dedup_survivors", (s, dir) =>
      Dedup.exactSurvivors(dedupPool(s, dir)),
      s"""WITH $poolCte
         |SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id
         |FROM pool GROUP BY md5(text)""".stripMargin),

    // within-doc line dedup over a staged fixture that plants an
    // immediate duplicate pair AND a far duplicate (first line repeated
    // at the end): both must collapse to the first occurrence, order
    // preserved
    Gate("dedup_lines_withindoc", (s, dir) => {
      // coalesce pins the staging rule engine-identically: concat_ws
      // SKIPS a null argument (separator and all) while the oracle's
      // || propagates, so both sides stage nulls as '' explicitly
      val staged = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", coalesce(col("text"), lit("")),
          concat(lit("dup "), (col("doc_id") % 3).cast("string")),
          concat(lit("dup "), (col("doc_id") % 3).cast("string")),
          coalesce(col("text"), lit(""))).as("text"))
      staged.select(col("doc_id"), TextOps.dedupLinesWithinDoc(col("text")).as("text"))
    },
      // first-occurrence order replayed via ROW_NUMBER over position
      // (DuckDB's list_distinct does not document order preservation)
      """WITH staged AS (
        |  -- COALESCE mirrors the Spark side's null-skipping concat_ws, so a
        |  -- null text row stages to the same string in both engines
        |  SELECT doc_id, COALESCE(text, '') || chr(10) || 'dup ' || CAST(doc_id % 3 AS VARCHAR)
        |         || chr(10) || 'dup ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || COALESCE(text, '') AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'line') AS line
        |  FROM (SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        |          (x, i) -> {'pos': i, 'line': x})) AS s FROM staged)),
        |firsts AS (
        |  SELECT doc_id, pos, line,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |  FROM ln)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM firsts WHERE rn = 1 GROUP BY doc_id""".stripMargin),

    // cross-doc duplicated 8-token spans over the NATURAL corpus — the
    // exact-dup doc groups guarantee hot spans exist unplanted (same
    // naturalness precedent as the events gates)
    Gate("dup_spans", (s, dir) => Dedup.dupSpans(docsBalanced(s, dir), n = 8),
      s"WITH ${spanCte(8)}\nSELECT gram, n_docs FROM hot"),

    // substring-level dedup: every token covered by a cross-doc
    // duplicated 8-gram removed, survivors reassembled in order; the
    // oracle replays grams -> hot set -> coverage -> anti-join ->
    // ordered reassembly
    Gate("dup_span_removal", (s, dir) => Dedup.removeDupSpans(docs(s, dir), n = 8),
      (s"WITH ${spanCte(8)},\n" +
        """tok AS (
          |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'tok') AS tok
          |  FROM (SELECT doc_id, unnest(list_transform(ts, (x, k) -> {'pos': k - 1, 'tok': x})) AS s
          |        FROM tt)),
          |covered AS MATERIALIZED (
          |  SELECT DISTINCT g.doc_id, g.start + r.d AS pos
          |  FROM g JOIN hot USING (gram) CROSS JOIN (SELECT unnest(range(8)) AS d) r),
          |kept AS (
          |  SELECT t.doc_id, t.pos, t.tok FROM tok t
          |  ANTI JOIN covered c ON (t.doc_id = c.doc_id AND t.pos = c.pos))
          |SELECT d.doc_id, COALESCE(k.text, '') AS text
          |FROM documents d LEFT JOIN (
          |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS text
          |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin)),

    // n-gram Jaccard as a first-class check: similarity of each planted
    // near-dup pair (text vs text + ' qq zz'), exact on both engines
    Gate("ngram_jaccard", (s, dir) =>
      docs(s, dir).filter(col("doc_id") % 11 === 5)
        .select(col("doc_id"),
          round(Dedup.jaccard(
            Dedup.shingles(col("text")),
            Dedup.shingles(concat(col("text"), lit(" qq zz")))), 6).as("jaccard")),
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 5),
        |t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ta,
        |  regexp_split_to_array(trim(lower(text || ' qq zz')), '\s+') AS tb FROM base),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
        |       ELSE list_transform(range(1, len(ta) - 1), i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END AS sa,
        |  CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
        |       ELSE list_transform(range(1, len(tb) - 1), i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END AS sb
        |  FROM t)
        |SELECT doc_id, ROUND(
        |  CAST(len(list_intersect(list_distinct(sa), list_distinct(sb))) AS DOUBLE)
        |    / len(list_distinct(list_concat(sa, sb))), 6) AS jaccard
        |FROM sh""".stripMargin),

    // simhash at hamming 1..3 (beyond the hamming=0 degenerate case):
    // replayable md5-derived token bits so the oracle recomputes
    // signature + hamming end-to-end in DuckDB; at maxHamming=3 with 4
    // bands the band join provably finds every qualifying pair
    Gate("simhash_near_pairs", (s, dir) =>
      Dedup.simhashPairsFromSig(
          Dedup.simhashTableMd5(simhashNearPool(s, dir), "text", "doc_id"), maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming")),
      {
        // full end-to-end replay of the md5-bit simhash: token split,
        // hex-parsed 64 bit sources, per-bit vote sums, signature assembly,
        // and all-pairs hamming <= 3 (which the 4-band join provably equals)
        val voteCols = (0 until 64).map { i =>
          val src = if (i < 60) s"(h60 >> $i)" else s"(h4 >> ${i - 60})"
          s"SUM(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
        }.mkString(",\n|    ")
        val sigExpr = ((0 until 63).map(i => s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END") :+
          "CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END").mkString(" + ")
        s"""WITH $simhashPoolCte,
           |toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM spool),
           |hx AS (SELECT doc_id, md5(t) AS m FROM toks),
           |hv AS (SELECT doc_id,
           |    list_reduce(list_transform(range(1, 16),
           |      i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1)) - 1 AS BIGINT)),
           |      (a, b) -> a * 16 + b) AS h60,
           |    CAST(strpos('0123456789abcdef', substr(m, 16, 1)) - 1 AS BIGINT) AS h4
           |  FROM hx),
           |votes AS (SELECT doc_id,
           |    $voteCols
           |  FROM hv GROUP BY doc_id),
           |sig AS (SELECT doc_id, $sigExpr AS s FROM votes)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.s, b.s)) <= 3""".stripMargin
      }),

    // the dedup-first composition (the actual 100-TB recipe): exact
    // dedup -> LSH over representatives -> expand back to member pairs.
    // Its output must equal the plain all-pairs ground truth, i.e. the
    // SAME oracle as minhash_pairs
    Gate("minhash_pairs_dedup", (s, dir) => {
      val (repPairs, members) =
        Dedup.minhashPairsDeduped(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
      val m1 = members.select(col("keep_id").as("id_a"), col("doc_id").as("mem_a"))
      val m2 = members.select(col("keep_id").as("id_b"), col("doc_id").as("mem_b"))
      val cross = repPairs.join(m1, "id_a").join(m2, "id_b")
        .select(least(col("mem_a"), col("mem_b")).as("id_a"),
          greatest(col("mem_a"), col("mem_b")).as("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
      val within = members.select(col("keep_id"), col("doc_id").as("a"))
        .join(members.select(col("keep_id"), col("doc_id").as("b")), "keep_id")
        .filter(col("a") < col("b"))
        .select(col("a").as("id_a"), col("b").as("id_b"), lit(1.0).as("jaccard"))
      cross.unionByName(within)
    }, minhashPairs.oracle),

    // character-level second opinion on the LSH candidates: pairs
    // within 8 Levenshtein edits (planted near-dups are 6 inserted
    // chars), thresholded banded DP + length-gap prefilter
    Gate("neardup_edit_verify", (s, dir) => {
      val pool = dedupPool(s, dir)
      Dedup.editVerifiedPairs(pool,
        Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5), maxDistance = 8)
        .select(col("id_a"), col("id_b"), col("edit_dist"))
    },
      // ground truth = exact Jaccard pairs (the proven minhash_pairs
      // oracle) filtered by full levenshtein; the operator's length-gap
      // prefilter and banded bail-out never change the kept set
      s"""WITH $poolCte,
         |$shPairsCte
         |SELECT p.id_a, p.id_b,
         |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
         |FROM pairs p
         |JOIN pool ta ON p.id_a = ta.doc_id
         |JOIN pool tb ON p.id_b = tb.doc_id
         |WHERE p.j >= 0.5 AND levenshtein(ta.text, tb.text) <= 8""".stripMargin),

    // the end state of the 100-TB near-dup recipe: one canonical doc
    // per component survives, all unpaired docs pass through
    Gate("neardup_survivors", (s, dir) =>
      Dedup.nearDupSurvivors(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id")),
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM pool
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE component < node)""".stripMargin),

    // keep-policy variant: the LONGEST member of each cluster survives
    // (ties -> smallest id); the pool's 'qq zz'-suffixed near-copies are
    // longer than their bases, so this genuinely flips survivors vs the
    // min-id rule — the oracle replays the argmax over the same
    // recursive-CTE components
    Gate("neardup_survivors_quality", (s, dir) =>
      Dedup.nearDupSurvivorsBy(dedupPool(s, dir), length(col("text")),
          k = 24, bands = 12, threshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id")),
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte,
         |scored AS (SELECT c.node, c.component, length(p.text) AS score
         |           FROM comp c JOIN pool p ON c.node = p.doc_id),
         |keep AS (SELECT keep_id FROM (
         |  SELECT node AS keep_id,
         |         ROW_NUMBER() OVER (PARTITION BY component ORDER BY score DESC, node ASC) AS rn
         |  FROM scored) t WHERE rn = 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM pool
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node NOT IN (SELECT keep_id FROM keep))""".stripMargin),

    // SimHash pairs restricted to the exact-duplicate ground truth:
    // identical text => identical signature => all bands collide and
    // hamming = 0, so the pair set is provably the md5 self-join
    Gate("simhash_dup_pairs", (s, dir) => {
      val pool = dedupPool(s, dir)
      val pairs = Dedup.simhashPairs(pool, maxHamming = 0)
      val ta = pool.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val tb = pool.select(col("doc_id").as("id_b"), col("text").as("tb"))
      pairs.join(ta, "id_a").join(tb, "id_b")
        .filter(col("ta") === col("tb"))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      s"""WITH $poolCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |FROM pool a JOIN pool b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin)
  )
}
