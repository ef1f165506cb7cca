package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for a training-data pipeline, each scaling by
  * a different mechanism:
  *
  *  - exact: hash-groupBy — one shuffle keyed by content hash; map-side
  *    combine bounds hot-hash skew.
  *  - MinHash+LSH: shingle -> k minhashes -> b bands; only rows sharing
  *    a band bucket become candidate pairs (candidates << n^2), then
  *    exact Jaccard verifies. Shingles and signatures are codegen
  *    kernels ([[graft.functions.WordGrams]],
  *    [[graft.functions.MinHashSignature]]): one pass per document, no
  *    explode and no shuffle before the band join.
  *  - SimHash: 64-bit fingerprint via token-hash bit voting — explode
  *    + wide codegen'd conditional-sum aggregation.
  *  - n-gram Jaccard: exact verification metric for candidate pairs.
  */
object Dedup {

  /** Exact duplicate groups by md5(text): (hash, dup_count, keeper). */
  def exactGroups(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))
      .filter(col("dup_count") > 1)

  /** Survivors after exact dedup: the min-id row of each hash group.
    * Two-phase: map-side combine then min — no row data shuffled beyond
    * (hash, id) pairs.
    */
  def exactSurvivors(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"))

  /** The dedup tokenization: lowercased, space-trimmed, split on
    * whitespace runs (Spark's own `split`, so a leading tab or newline
    * yields an empty first token).
    */
  private def tokens(textCol: Column): Column = split(trim(lower(textCol)), "\\s+")

  /** Word n-gram shingles as an array column, for arbitrary n >= 1: the
    * codegen [[graft.functions.WordGrams]] kernel over [[tokens]], one
    * O(tokens) pass per document. Documents with fewer than n tokens
    * yield their whole (normalized) text as the single shingle, so short
    * docs still participate in Jaccard instead of vanishing.
    */
  def shingles(textCol: Column, n: Int = 3): Column = TextFunctions.wordGrams(tokens(textCol), n)

  /** k MinHash signatures as columns m0..m(k-1), one row `(id, m0..)`
    * per input row with non-null text: a map-only projection of the
    * codegen [[graft.functions.MinHashSignature]] kernel, whose slot `s`
    * is `min(xxhash64(shingle, s))` over the row's [[shingles]] (seeds
    * are baked literals — deterministic across runs and cluster sizes).
    * Ids are taken as keys, as every caller passes them: rows sharing an
    * id are not merged.
    */
  def minhashSigTable(df: DataFrame, textCol: String, idCol: String, k: Int,
                      shingleN: Int = 3): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        TextFunctions.minhashSignature(tokens(col(textCol)), shingleN, k).as("sig"))
      .select(col("id") +: (0 until k).map(i => col("sig")(i).as(s"m$i")): _*)

  /** Guard against quadratic blowup in a band self-join: a bucket of n
    * rows yields n^2/2 candidate pairs, and a corpus with thousands of
    * byte-identical documents puts ALL of them in the same bucket for
    * EVERY band. Buckets above `maxBucket` are dropped from the join
    * (skip-and-continue — the standard LSH hot-bucket policy; callers
    * that must not miss exact-dup pairs should run [[exactGroups]]
    * first, which finds those pairs in one linear groupBy). The count
    * aggregation partial-combines map-side and re-shuffles on the same
    * (band, bucket) key the self-join needs, so AQE can reuse the
    * exchange.
    */
  // observe() names must be unique per query, or composing two capped
  // operators (e.g. minhashPairs.union(simhashPairs)) fails analysis
  // with "Multiple definitions of observed metrics"
  private val bucketCapMetricSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private[pipeline] def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    // observe() makes a cap-induced divergence self-explaining (visible
    // in the UI / QueryExecutionListener metrics as `lsh_bucket_caps_N`)
    // at zero extra passes: a silent drop of an oversized bucket would
    // otherwise under-report pairs with no trace of why
    val counts = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .observe(s"lsh_bucket_caps_${bucketCapMetricSeq.incrementAndGet()}",
        sum(when(col("__bucket_n") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(col("__bucket_n") > maxBucket, col("__bucket_n")).otherwise(0L)).as("dropped_rows"))
      .filter(col("__bucket_n") <= maxBucket)
    banded.join(counts, keys).drop("__bucket_n")
  }

  /** LSH candidate pairs: signatures banded into `bands` groups; same
    * (band index, band hash) -> candidate. Returns (id_a, id_b, jaccard)
    * for verified pairs with jaccard >= threshold. Buckets larger than
    * `maxBucket` are skipped (see [[capBuckets]]).
    */
  def minhashPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   k: Int = 16, bands: Int = 4, threshold: Double = 0.7,
                   maxBucket: Int = 4096, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0)
    val rowsPerBand = k / bands
    // the signature table is the pipeline's lightweight proxy (id + k
    // longs, ~200 B/doc — guide §8 "decide with small rows"), and three
    // downstream subtrees consume it (bucket counts, both self-join
    // sides) whose exchanges differ in projection, so exchange reuse
    // cannot deduplicate them: left lazy, the scan and signature pass
    // ran 3x per call. Materialize it once; like the connected-components
    // result checkpoint, it stays persisted because the returned pairs
    // read it.
    val sig = minhashSigTable(df, textCol, idCol, k, shingleN)
      .localCheckpoint(eager = false) // first consumer materializes it

    // band bucket keys only — no payload travels through the pair join
    val bandHashes = (0 until bands).map { b =>
      hash((b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i")): _*)
    }
    val banded = capBuckets(
      sig.select(col("id"), posexplode(array(bandHashes: _*)).as(Seq("band", "bandHash"))),
      Seq("band", "bandHash"), maxBucket)

    val a = banded.select(col("band"), col("bandHash"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bandHash"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bandHash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // exact-Jaccard verification, computed only for surviving candidates.
    // Each join side projects the distinct shingle set once per doc
    // BELOW the join (guide §2.3: project before the exchange), in the
    // same codegen stage as its scan; after the join the arrays are
    // plain attributes, so the per-pair work is one array_intersect plus
    // two size() reads. Nothing is cached: each side's shingle pass is
    // one kernel call per doc, cheaper than holding corpus-sized arrays
    // in the block manager.
    val sh = array_distinct(shingles(col(textCol), shingleN))
    val docsA = df.select(col(idCol).as("id_a"), sh.as("sh_a"))
    val docsB = df.select(col(idCol).as("id_b"), sh.as("sh_b"))
    candidates.join(docsA, "id_a").join(docsB, "id_b")
      .withColumn("jaccard", jaccardDistinct(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edit-distance verification of candidate near-dup pairs: keep the
    * (id_a, id_b) candidates whose texts are within `maxDistance`
    * Levenshtein edits, with the distance alongside — the
    * character-level second opinion on a shingle-level candidate set
    * (catches small in-place edits that keep Jaccard high, quantifies
    * HOW different the pair is).
    *
    * Scale shape: candidates come pre-pruned (LSH — never all pairs);
    * texts join in by id (two narrow hash joins). The length-gap
    * prefilter (`|len a - len b| <= maxDistance`, a free lower bound on
    * edit distance) rejects mismatched pairs BEFORE the quadratic DP,
    * and the kernel itself is the THRESHOLDED codegen `levenshtein`
    * (banded O(len x maxDistance) DP that bails at the bound and
    * returns -1, not the full O(len^2) table).
    */
  def editVerifiedPairs(df: DataFrame, candidates: DataFrame, maxDistance: Int,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val ta = df.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    candidates.select("id_a", "id_b")
      .join(ta, "id_a").join(tb, "id_b")
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDistance)
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDistance).cast("long"))
      .filter(col("edit_dist") >= 0) // thresholded kernel returns -1 past the bound
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Dedup-first near-dup detection — the composition to run at corpus
    * scale: exact dedup collapses each identical-text group to its min-id
    * representative in ONE linear groupBy (so LSH never sees a
    * mega-bucket of clones), LSH+verify runs over representatives only,
    * and each representative pair then expands back to its groups'
    * members on demand. Returns representative pairs
    * (rep_a, rep_b, jaccard) plus the (content_hash -> keep_id) group map
    * needed for expansion.
    */
  def minhashPairsDeduped(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                          k: Int = 16, bands: Int = 4, threshold: Double = 0.7,
                          maxBucket: Int = 4096, shingleN: Int = 3): (DataFrame, DataFrame) = {
    // ONE grouped pass yields both the representative rows and the group
    // index; the member map (doc -> representative) is a narrow hash join
    // against it. Materialized once: the representatives feed the LSH
    // pipeline AND both sides of the member expansion, so the lazy form
    // re-ran the corpus md5-groupBy for every consumer (~5x per call).
    // Materializing the deduplicated corpus is the standard first step
    // of a production dedup pipeline (the guide's worked example writes
    // its fingerprint pass for the same reason).
    val groups = df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), first(col(textCol)).as(textCol))
      // EAGER: the representatives' signature table is itself a lazy
      // checkpoint reading this one — chaining two lazy checkpoints
      // materializes this RDD inside another query stage's job and the
      // DAGScheduler then reports its stale SQL-metric accumulators as
      // ERROR spam ("non-existent accumulator") on every task
      .localCheckpoint()
    val reps = groups.select(col("keep_id").as(idCol), col(textCol))
    val members = df.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .join(groups.select("content_hash", "keep_id"), "content_hash")
      .select(col(idCol), col("keep_id"))
    (minhashPairs(reps, textCol, idCol, k, bands, threshold, maxBucket, shingleN), members)
  }

  /** Connected components over an undirected candidate-pair graph —
    * the step between near-dup PAIRS and dedup CLUSTERS. Near-dup
    * similarity is not transitive, so a corpus-scale pipeline clusters
    * the pair graph and keeps one canonical member per component.
    *
    * Algorithm: iterative min-label propagation first. Every round each
    * node takes the min of its own label and its neighbors' labels,
    * until a fixpoint. Each round is one join + one aggregation over
    * (node, label) rows — O(E) through each exchange, never anything
    * quadratic — and rounds needed equal the graph diameter. LSH dup
    * clusters are near-cliques (every member shares a band bucket with
    * the rest), so 2-3 rounds close them. A graph whose labels still
    * change after [[MinLabelRounds]] rounds is deep (chains), and the
    * operator finishes it with [[starComponents]], whose round count is
    * logarithmic in component size instead of linear in diameter.
    * localCheckpoint() truncates the growing plan each round —
    * otherwise lineage doubles per iteration and the DRIVER becomes the
    * bottleneck long before the data does.
    *
    * Returns (id, comp) for every node appearing in `pairs`, where comp
    * is the smallest id reachable (deterministic).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    // lazy checkpoints: the next action over each frame materializes it
    // (labels init for edges, the convergence count for each round) —
    // an eager checkpoint would pay one extra job per round just to
    // persist; the unpersist of the PREVIOUS round already happens
    // only after the count, so ordering stays safe
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .localCheckpoint(eager = false)
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < MinLabelRounds) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("v"), col("comp")), "v")
        .select(col("u").as("id"), col("comp"), lit(false).as("self"))
      // carry the node's own previous label through the same aggregation
      // (each id has exactly ONE self row), so the convergence check is
      // a scan of the checkpointed result — no extra join job per round
      val merged = viaNeighbor
        .union(labels.select(col("id"), col("comp"), lit(true).as("self")))
        .groupBy("id")
        .agg(min(col("comp")).as("comp"),
          min(when(col("self"), col("comp"))).as("prev"))
        .localCheckpoint(eager = false)
      changed = merged.filter(col("comp") < col("prev")).count() // materializes
      // round N is materialized -> free round N-1's checkpoint blocks
      // (they otherwise accumulate in the block manager per iteration)
      bridge.unpersistCheckpoint(labels)
      labels = merged.select("id", "comp")
      it += 1
    }
    if (changed == 0) {
      // the returned labels depend only on the LAST round's checkpoint,
      // so the internal edge cache can be released here
      bridge.unpersistCheckpoint(edges)
      labels
    } else {
      // the symmetric, distinct edge set holds each undirected edge once
      // as u > v (no self-loops); the labels list every node, including
      // star centers that keep no edge, and stay persisted (the result
      // reads them)
      val stars = starComponents(edges.filter(col("u") > col("v"))
        .select(col("u").as("hi"), col("v").as("lo")))
      labels.select("id")
        .join(stars, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }
  }

  /** Min-label rounds before [[connectedComponents]] switches to
    * [[starComponents]]: well above the 2-3 rounds a near-clique needs.
    */
  private val MinLabelRounds = 10

  /** Fail-loud bound of [[starComponents]]: its rounds grow with log2 of
    * the component size, so only a bug can reach it.
    */
  private val StarRounds = 64

  /** The large-star/small-star alternation of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (2014), over a
    * canonical (hi, lo) edge set (hi > lo, distinct). Returns (id, comp)
    * for every node that is not its component's minimum.
    *
    * Each half-round is one aggregation + one join over the edge set
    * (O(E) per exchange, nothing quadratic):
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node and its smaller neighbors re-hang off
    *    that minimum.
    * The edge set converges to a star forest whose centers are the
    * component minima; convergence is detected by a (count, hash-sum)
    * fingerprint of the canonicalized edge set — one tiny agg per
    * round, no edge-set diff join. Each round unpersists the
    * checkpoint its input reads (the first round: the caller's edges).
    */
  private def starComponents(canonical: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and cannot overflow (ANSI sum of
      // hashes throws ARITHMETIC_OVERFLOW on real edge counts)
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = canonical
    var fp = fingerprint(edges)
    var it = 0
    var converged = false
    while (!converged && it < StarRounds) {
      // ---- large-star: (v, m) for every neighbor v > u ----
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // ---- small-star on the (hi, lo) orientation: hang u and its
      // smaller neighbors off min(N_<(u) ∪ {u}) ----
      val smins = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large.join(smins, "hi")
        .select(col("lo").as("a"), col("m").as("b"))
        .union(smins.select(col("hi").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
        .distinct()
        .localCheckpoint(eager = false)
      val nfp = fingerprint(small) // materializes the round checkpoint
      bridge.unpersistCheckpoint(edges)
      edges = small
      converged = nfp == fp
      fp = nfp
      it += 1
    }
    if (!converged) {
      bridge.unpersistCheckpoint(edges) // failure path: no leak
      throw new IllegalStateException(s"starComponents did not converge in $StarRounds rounds")
    }
    // star forest: every hi hangs directly off its component minimum;
    // the final edge checkpoint stays persisted (the result reads it)
    edges.select(col("hi").as("id"), col("lo").as("comp"))
  }

  /** Near-duplicate survivors: LSH pairs -> connected components ->
    * keep each component's min-id member plus every unpaired document.
    * Document payloads never enter the component iteration (ids only);
    * the final step is a left-anti hash join of the corpus against the
    * non-canonical ids.
    */
  def nearDupSurvivors(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                       k: Int = 16, bands: Int = 4, threshold: Double = 0.7,
                       maxBucket: Int = 4096, shingleN: Int = 3): DataFrame = {
    val comps = connectedComponents(
      minhashPairs(df, textCol, idCol, k, bands, threshold, maxBucket, shingleN))
    val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup survivors with a caller-chosen KEEP POLICY: one survivor
    * per component — the member maximizing `score`, ties broken by
    * smallest id (deterministic). [[nearDupSurvivors]] keeps the min-id
    * member (cheapest, id-only); production dedup usually keeps the
    * highest-QUALITY member of each cluster (longest text, best quality
    * score, newest crawl). Null scores rank worst. Same scale shape:
    * the iteration and the argmax see only (id, comp, score) — document
    * payloads never enter a shuffle until the final left-anti join.
    */
  def nearDupSurvivorsBy(df: DataFrame, score: Column,
                         textCol: String = "text", idCol: String = "doc_id",
                         k: Int = 16, bands: Int = 4, threshold: Double = 0.7,
                         maxBucket: Int = 4096, shingleN: Int = 3): DataFrame = {
    val comps = connectedComponents(
      minhashPairs(df, textCol, idCol, k, bands, threshold, maxBucket, shingleN))
    val scored = df.select(col(idCol).as("id"), score.cast("double").as("__score"))
      .join(comps, "id")
    // min(struct(-score, id)) = (max score, then min id); null scores
    // coalesce to -inf so they never beat a real score
    val keep = scored.groupBy(col("comp"))
      .agg(min(struct(
        (-coalesce(col("__score"), lit(Double.NegativeInfinity))).as("ns"),
        col("id").as("id"))).as("b"))
      .select(col("b.id").as("keep_id"))
    val losers = comps.select(col("id"))
      .join(keep, col("id") === col("keep_id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity of two shingle arrays. (`a` and
    * `b` each appear twice below; pass cheap inputs, or precompute the
    * distinct arrays and use [[jaccardDistinct]] as the LSH verify stage
    * does.)
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(array_distinct(a), array_distinct(b))).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** [[jaccard]] over inputs that are ALREADY distinct arrays (attribute
    * references after a join — each appearance is then a free read, not
    * a re-computation). `|A ∪ B|` by inclusion-exclusion:
    * the same integer `array_union` would produce, without building the
    * union array.
    */
  private[graft] def jaccardDistinct(da: Column, db: Column): Column = {
    val inter = size(array_intersect(da, db)).cast("double")
    val union = (size(da) + size(db)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  private def tokenRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))

  /** Shared vote-and-assemble stage: 64 conditional-sum vote
    * aggregations over per-token bit expressions, assembled into one
    * long (bit 63 OR'd in separately — ANSI mode rejects a wrapping
    * shift). `bit(i)` must be a 0/1 long expression over the token rows.
    */
  private def simhashFromTokenBits(tokens: DataFrame, bit: Int => Column): DataFrame = {
    val voted = tokens
      .groupBy("id")
      .agg(
        sum(when(bit(0) === 1L, 1L).otherwise(-1L)).as("v0"),
        (1 until 64).map(i => sum(when(bit(i) === 1L, 1L).otherwise(-1L)).as(s"v$i")): _*)
    val low = (0 until 63).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val full = low.bitwiseOR(when(col("v63") > 0, lit(Long.MinValue)).otherwise(lit(0L)))
    voted.select(col("id"), full.as("simhash"))
  }

  /** 64-bit SimHash per id on the codegen path: explode tokens, hash,
    * then the shared vote aggregation. xxhash64 is the production token
    * hash (codegen, fast, well mixed).
    */
  def simhashTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashFromTokenBits(
      tokenRows(df, textCol, idCol).select(col("id"), xxhash64(col("t")).as("h")),
      i => shiftright(col("h"), i).bitwiseAND(lit(1L)))

  /** SimHash with a REPLAYABLE token hash: 64 bits drawn from md5(token)
    * (60 from the first 15 hex chars, 4 from the 16th) — every stage is
    * exactly reproducible in another SQL engine, which lets an external
    * oracle replay signature, banding, and hamming verification
    * end-to-end. Same vote/band machinery as [[simhashTable]]; use that
    * one in production (xxhash64 is cheaper than md5).
    */
  def simhashTableMd5(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashFromTokenBits(
      tokenRows(df, textCol, idCol).select(col("id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h60"),
        conv(substring(md5(col("t")), 16, 1), 16, 10).cast("long").as("h4")),
      i =>
        if (i < 60) shiftright(col("h60"), i).bitwiseAND(lit(1L))
        else shiftright(col("h4"), i - 60).bitwiseAND(lit(1L)))

  /** SimHash near-duplicate candidates: 4 bands of 16 bits; same band
    * value -> candidate; verified by hamming distance <= maxHamming.
    *
    * Recall guarantee (pigeonhole): a pair with hamming <= 3 differs in
    * at most 3 of the 4 bands, so at least one band value is identical
    * and the pair ALWAYS becomes a candidate — at maxHamming <= 3 the
    * output is exactly the set of all pairs within the hamming bound
    * (modulo the hot-bucket cap), not an approximation.
    */
  def simhashPairs(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame =
    simhashPairsFromSig(simhashTable(df, textCol, idCol), maxHamming, maxBucket)

  /** Band-join + hamming verification over a precomputed (id, simhash)
    * table (so callers can choose the token hash, e.g.
    * [[simhashTableMd5]] for replayability).
    */
  def simhashPairsFromSig(withSim: DataFrame,
                          maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    // same proxy-materialization as minhashPairs: (id, simhash) is 16
    // bytes/doc and three band subtrees consume it with non-reusable
    // exchanges — lazy, the per-token signature hash ran ~3x per call
    val sig = withSim.localCheckpoint(eager = false) // first consumer materializes
    val banded = capBuckets(sig.select(
      col("id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("band", "bandVal"))),
      Seq("band", "bandVal"), maxBucket)
    val a = banded.select(col("band"), col("bandVal"), col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("bandVal"), col("id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "bandVal"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      // hamming BEFORE distinct: a duplicate pair has the same hamming,
      // so dedup only shuffles the pairs that survive the bound
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Positional token n-grams: (id, start, gram) with `start` the
    * 0-based token offset and `gram` the space-joined, case-preserving
    * n tokens (unlike [[shingles]], which lowercases and drops
    * positions — span REMOVAL must address exact tokens): the codegen
    * [[graft.functions.WordGrams]] kernel in position order. Docs with
    * fewer than n tokens yield no grams.
    */
  private def spanGrams(docs: DataFrame, n: Int, textCol: String,
                        idCol: String): DataFrame = {
    require(n >= 2, s"span gram size must be >= 2, got $n")
    val toks = split(trim(col(textCol)), "\\s+")
    docs.select(col(idCol),
      posexplode(when(size(toks) >= n, TextFunctions.wordGrams(toks, n))).as(Seq("start", "gram")))
  }

  /** Token n-gram spans duplicated ACROSS documents (the substring-dedup
    * census of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", at n-gram-span granularity): grams occurring in at
    * least `minDocs` DISTINCT docs, with their doc counts.
    *
    * Scale shape: one explode + count-distinct agg — the shuffle
    * carries distinct (gram, doc) pairs after partial dedup, bounded by
    * corpus gram volume; the RESULT is the duplicated subset only. At
    * 100 TB the gram strings themselves dominate the exchange —
    * xxhash64(gram) keys (collision-checked like [[minhashPairs]]'
    * verify stage) are the documented upgrade; the string form here is
    * byte-exact and collision-free for verification.
    */
  def dupSpans(docs: DataFrame, n: Int, minDocs: Int = 2,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs): every gram is in >= 1 doc")
    spanGrams(docs, n, textCol, idCol)
      .groupBy("gram").agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Remove every token covered by a cross-document duplicated n-gram
    * span ([[dupSpans]]), reassembling each doc's surviving tokens in
    * order. Operates on the WHITESPACE TOKEN stream: output text is
    * single-space joined (whitespace-normalized) even where nothing was
    * removed — the downstream-tokenizer view of the text, which is what
    * span dedup protects. Within-doc repeats are NOT removed (that is
    * [[graft.pipeline.TextOps.dedupLinesWithinDoc]] / dupNgramRatio
    * territory); row-preserving — fully-covered docs become empty text.
    *
    * Scale shape: gram census as [[dupSpans]]; coverage = grams join
    * the (duplicated-subset) hot set -> explode to n positions ->
    * distinct; removal is a left-anti join on (doc, pos); reassembly is
    * ONE groupBy(doc) with in-group sort_array by position — the
    * [[graft.pipeline.TextOps.removeBoilerplate]] shape, never a
    * window.
    */
  def removeDupSpans(docs: DataFrame, n: Int, minDocs: Int = 2,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = spanGrams(docs, n, textCol, idCol)
    val hot = dupSpans(docs, n, minDocs, textCol, idCol).select("gram")
    val covered = grams.join(hot, "gram")
      .select(col(idCol), explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
      .distinct()
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    TextOps.reassembleInOrder(docs, kept, "tok", " ", textCol, idCol)
  }
}
