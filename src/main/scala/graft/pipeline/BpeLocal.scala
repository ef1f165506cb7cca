package graft.pipeline

import java.nio.charset.StandardCharsets

/** Driver-side exact BPE trainer over a collected word census — the
  * compute core of [[TextOps.bpeMerges]]. Classic incremental
  * algorithm (the shape every production tokenizer trainer uses):
  *  - words as symbol arrays (code points + the `</w>` end marker,
  *    matching the seed tokenization `TextOps.bpeSeedSym` gives the
  *    batched trainer and `bpeTokenCounts`);
  *  - pair counts are RAW adjacency counts weighted by word frequency
  *    (runs overlap-count);
  *  - a pair -> containing-words inverted index, so each merge touches
  *    only the words that contain its pair;
  *  - merge application is the non-overlapping left-to-right walk —
  *    the same rule as the distributed ` l  r ` literal replace;
  *  - argmax via a lazily-invalidated max-heap ordered (count desc,
  *    left asc, right asc) under UTF-8 BYTE order, the exact collation
  *    Spark's UTF8String and DuckDB's VARCHAR comparisons use — ties
  *    must break identically to the distributed orderBy.
  *
  * Sequential BPE semantics are pinned by PipelineSpec (a plain-Scala
  * reference trainer) and by the bpe_merges/bpe_merges_local gates
  * replaying the sequential cascade in DuckDB.
  */
private[pipeline] object BpeLocal {

  /** UTF-8 unsigned byte order — Spark UTF8String / DuckDB VARCHAR
    * binary collation (Java String.compareTo is UTF-16 code-unit order,
    * which diverges above the BMP).
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private final case class HeapEntry(cnt: Long, l: String, r: String)

  private val heapOrder: java.util.Comparator[HeapEntry] =
    new java.util.Comparator[HeapEntry] {
      override def compare(a: HeapEntry, b: HeapEntry): Int = {
        if (a.cnt != b.cnt) return java.lang.Long.compare(b.cnt, a.cnt) // count desc
        val cl = utf8Compare(a.l, b.l)
        if (cl != 0) cl else utf8Compare(a.r, b.r)
      }
    }

  /** Word -> symbol seed: code points plus the end marker (the local
    * mirror of [[TextOps.bpeSeedSym]]'s char split + ` </w> `).
    */
  private def seed(word: String): Array[String] = {
    val cps = word.codePoints().toArray
    val out = new Array[String](cps.length + 1)
    var i = 0
    while (i < cps.length) { out(i) = new String(Character.toChars(cps(i))); i += 1 }
    out(cps.length) = "</w>"
    out
  }

  /** Non-overlapping left-to-right merge walk — the array form of the
    * ` l  r ` -> ` lr ` literal replace.
    */
  private def applyMerge(sym: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  def train(census: Array[(String, Long)], numMerges: Int): Seq[(Long, String, String, Long)] = {
    val words: Array[Array[String]] = census.map { case (w, _) => seed(w) }
    val freq: Array[Long] = census.map(_._2)

    val counts = new java.util.HashMap[(String, String), java.lang.Long]()
    val index = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    def bump(p: (String, String), d: Long): Long = {
      val cur = counts.getOrDefault(p, 0L) + d
      if (cur == 0L) counts.remove(p) else counts.put(p, cur)
      cur
    }
    var wid = 0
    while (wid < words.length) {
      val s = words(wid)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        bump(p, freq(wid))
        index.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(wid)
        i += 1
      }
      wid += 1
    }

    val heap = new java.util.PriorityQueue[HeapEntry](math.max(counts.size, 16), heapOrder)
    counts.forEach((p, c) => heap.add(HeapEntry(c, p._1, p._2)))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      // pop stale entries until the top matches its live count
      var top: HeapEntry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        val live = counts.get((e.l, e.r))
        if (live != null && live.longValue() == e.cnt) top = e
        // stale entries are dropped; every count change re-enqueued a
        // fresh entry, so the live value is always present in the heap
      }
      if (top == null) exhausted = true
      else {
        val (l, r) = (top.l, top.r)
        merges += ((step.toLong, l, r, top.cnt))
        val affected = index.getOrDefault((l, r), new java.util.HashSet[Integer]())
          .toArray(new Array[Integer](0))
        val touched = new java.util.HashSet[(String, String)]()
        affected.foreach { widBox =>
          val w = widBox.intValue()
          val old = words(w)
          val next = applyMerge(old, l, r)
          // retract every old adjacency, add every new one (O(|word|),
          // exact — no delta bookkeeping to get subtly wrong)
          var i = 0
          while (i + 1 < old.length) {
            val p = (old(i), old(i + 1))
            bump(p, -freq(w)); touched.add(p)
            val s = index.get(p); if (s != null) { s.remove(widBox); if (s.isEmpty) index.remove(p) }
            i += 1
          }
          i = 0
          while (i + 1 < next.length) {
            val p = (next(i), next(i + 1))
            bump(p, freq(w)); touched.add(p)
            index.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(widBox)
            i += 1
          }
          words(w) = next
        }
        touched.forEach { p =>
          val c = counts.get(p)
          if (c != null) heap.add(HeapEntry(c.longValue(), p._1, p._2))
        }
        step += 1
      }
    }
    merges.toSeq
  }
}
