package graft.fuzzy

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import scala.collection.mutable

/** difflib/fuzzywuzzy-compatible similarity ratios (SURVEY.md F1-F4).
  *
  * The reference scores fuzzy matches with fuzzywuzzy's ratio family
  * (/root/reference/skills.py:171,228,332; main.py:4407;
  * database.py:942-945; skill_gap/longterm_pipeline.py:211-218), which is
  * Python difflib.SequenceMatcher.ratio underneath: 2·M/(len_a+len_b)
  * where M is the total size of matching blocks found by the
  * longest-matching-block recursion — NOT Levenshtein. Fixture parity
  * requires reproducing that algorithm (SURVEY.md §7.3), so this is a
  * faithful Scala re-implementation of the public difflib algorithm
  * (without the autojunk heuristic, which the reference's short strings
  * never trigger).
  */
object Ratio extends Serializable {

  /** Total matched chars M of difflib's matching blocks. */
  private def matchingBlocks(a: String, b: String): Int =
    matchingBlockList(a, b).map(_._3).sum

  /** Above this |b| the O(|a|·|b|) scan path loses to difflib's b2j
    * char-index; both paths compute identical blocks (golden-tested). */
  private val ScanPathMaxB = 512

  /** difflib's matching blocks as (i, j, size) triples (unordered —
    * callers needing difflib's sorted order must sort).
    *
    * Two implementations with IDENTICAL semantics (same visit order,
    * same strict-`>` tie handling, so the same blocks fall out):
    *  - short |b| (the engine's hot path: part names, theme keywords vs
    *    ~40-160 char blobs): a direct char-scan with flat int arrays for
    *    the j2len diagonals — zero boxing, zero per-call HashMaps. The
    *    round-6 isolation bench measured the former HashMap form at
    *    ~7 µs/call on the theme corpus; this form is ~10× cheaper and
    *    the ratio family sits under every fuzzy query's distinct-key
    *    scoring pass (guide §1.2 step 2: per-task work).
    *  - long |b|: the original difflib b2j hash-index recursion, kept
    *    for strings where O(|a|·|b|) would not fly.
    */
  private def matchingBlockList(a: String, b: String)
      : List[(Int, Int, Int)] =
    if (b.length <= ScanPathMaxB) matchingBlockListScan(a, b)
    else matchingBlockListHashed(a, b)

  /** Flat-array variant: j2len diagonals live in two reused int arrays
    * (cur = previous i's row, nxt = current row), cleared via the
    * touched-position lists so each i pays O(matches), not O(|b|). The
    * inner j loop visits ascending j exactly like the b2j ArrayBuffer
    * did, and best-match updates use the same strict `>` — difflib's
    * earliest-(i,j) tie rule is preserved bit-for-bit. */
  private def matchingBlockListScan(a: String, b: String)
      : List[(Int, Int, Int)] = {
    val lb = b.length
    var cur = new Array[Int](lb + 1)
    var nxt = new Array[Int](lb + 1)
    var curTouched = new Array[Int](lb)
    var nxtTouched = new Array[Int](lb)
    var nCur = 0

    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      // reset carried state from any previous longestMatch call
      var t = 0
      while (t < nCur) { cur(curTouched(t)) = 0; t += 1 }
      nCur = 0
      var i = alo
      while (i < ahi) {
        val c = a.charAt(i)
        var nNxt = 0
        var j = blo
        while (j < bhi) {
          if (b.charAt(j) == c) {
            val k = (if (j > blo) cur(j - 1) else 0) + 1
            nxt(j) = k
            nxtTouched(nNxt) = j; nNxt += 1
            if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          }
          j += 1
        }
        // clear the previous row, then promote this one
        t = 0
        while (t < nCur) { cur(curTouched(t)) = 0; t += 1 }
        val swapA = cur; cur = nxt; nxt = swapA
        val swapT = curTouched; curTouched = nxtTouched; nxtTouched = swapT
        nCur = nNxt
        i += 1
      }
      // extend over equal elements on both sides (difflib "popular" skip
      // is disabled — no junk)
      while (besti > alo && bestj > blo &&
          a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
          a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    var blocks = List.empty[(Int, Int, Int)]
    val queue = mutable.Stack((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = longestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        blocks ::= (i, j, k)
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    blocks
  }

  // test hooks: RatioSpec cross-checks the two block implementations on
  // pseudo-random pairs (they must agree exactly, including block order)
  private[fuzzy] def blocksScanForTest(a: String, b: String) =
    matchingBlockListScan(a, b)
  private[fuzzy] def blocksHashedForTest(a: String, b: String) =
    matchingBlockListHashed(a, b)

  /** Original difflib b2j hash-index form (long-|b| path). */
  private def matchingBlockListHashed(a: String, b: String)
      : List[(Int, Int, Int)] = {
    // b2j: char -> positions in b
    val b2j = mutable.HashMap.empty[Char, mutable.ArrayBuffer[Int]]
    b.zipWithIndex.foreach { case (c, j) =>
      b2j.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += j
    }

    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = mutable.HashMap.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        val newj2len = mutable.HashMap.empty[Int, Int]
        b2j.getOrElse(a.charAt(i), mutable.ArrayBuffer.empty).foreach { j =>
          if (j >= blo && j < bhi) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newj2len(j) = k
            if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          }
        }
        j2len = newj2len
        i += 1
      }
      // extend over equal elements on both sides (difflib "popular" skip
      // is disabled — no junk)
      while (besti > alo && bestj > blo &&
          a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
          a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    var blocks = List.empty[(Int, Int, Int)]
    val queue = mutable.Stack((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, j, k) = longestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        blocks ::= (i, j, k)
        if (alo < i && blo < j) queue.push((alo, i, blo, j))
        if (i + k < ahi && j + k < bhi) queue.push((i + k, ahi, j + k, bhi))
      }
    }
    blocks
  }

  /** fuzz.ratio: round(2·M/(len_a+len_b)·100) — fuzzywuzzy rounds via
    * Python round(), which is round-half-to-EVEN on exact .5 (e.g.
    * 12.5 → 12); math.rint has exactly those semantics, math.round
    * (half-up) does not. Pinned by the token_sort golden vectors. */
  def ratio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val la = a.length; val lb = b.length
    if (la + lb == 0) return 100
    val m = matchingBlocks(a, b)
    math.rint(200.0 * m / (la + lb)).toInt
  }

  /** Raw difflib SequenceMatcher.ratio in [0,1] (F4 threshold checks). */
  def ratioRaw(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val la = a.length; val lb = b.length
    if (la + lb == 0) return 1.0
    2.0 * matchingBlocks(a, b) / (la + lb)
  }

  /** fuzz.partial_ratio: best ratio of the shorter string against the
    * equal-length windows of the longer anchored at difflib matching
    * blocks — fuzzywuzzy's exact published algorithm (for each block
    * (i,j,size): window starts at max(0, j-i)), NOT an all-window scan.
    * fuzzywuzzy iterates get_matching_blocks() INCLUDING the terminal
    * zero-size sentinel (len(s), len(l), 0), which anchors one extra
    * window at the tail max(0, |l|-|s|) — omitting it undershoots ~0.6%
    * of random pairs (e.g. fuzzywuzzy("abbb c","bcc")=67 without-tail=40),
    * so the sentinel window is scored explicitly below.
    * Block anchoring is both the reference-faithful semantics and ~|l|/B
    * cheaper per call (B = block count); golden-tested against a CPython
    * replication. Divergence note: fuzzywuzzy's SequenceMatcher defaults
    * to autojunk=True, which changes blocks only for |l| ≥ 200 with
    * >1%-popular chars; this engine pins autojunk=False everywhere. */
  def partialRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100 else 0
    if (s.length == l.length) return ratio(s, l)
    // exact fast path: a contained substring is a block-anchored window
    // with ratio 100, the maximum
    if (l.contains(s)) return 100
    var best = 0
    def scoreWindow(start0: Int): Unit = if (best < 100) {
      val start = math.max(0, start0)
      val sub = l.substring(start, math.min(l.length, start + s.length))
      val r = ratio(s, sub)
      if (r > best) best = r
    }
    matchingBlockList(s, l).foreach { case (i, j, _) => scoreWindow(j - i) }
    // the sentinel block (|s|, |l|, 0) fuzzywuzzy also visits
    scoreWindow(l.length - s.length)
    best
  }

  private def tokenSet(s: String): Set[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet

  private def tokenList(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** fuzz.token_set_ratio: sort-join the token-set intersection and
    * differences, take the max pairwise ratio (fuzzywuzzy SE semantics). */
  def tokenSetRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val ta = tokenSet(a); val tb = tokenSet(b)
    val inter = (ta & tb).toSeq.sorted.mkString(" ")
    val d1 = (ta -- tb).toSeq.sorted.mkString(" ")
    val d2 = (tb -- ta).toSeq.sorted.mkString(" ")
    val s1 = inter
    val s2 = if (d1.isEmpty) inter else if (inter.isEmpty) d1 else s"$inter $d1"
    val s3 = if (d2.isEmpty) inter else if (inter.isEmpty) d2 else s"$inter $d2"
    Seq(ratio(s1, s2), ratio(s1, s3), ratio(s2, s3)).max
  }

  /** fuzz.token_sort_ratio: ratio over sorted-token joins. Unlike
    * token_set_ratio this KEEPS duplicate tokens (fuzzywuzzy sorts the
    * token list, it does not set-dedup it) — "big big data" vs "big data"
    * must not score 100. Golden-tested against CPython difflib. */
  def tokenSortRatio(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    def sortedJoin(s: String) = tokenList(s).sorted.mkString(" ")
    ratio(sortedJoin(a), sortedJoin(b))
  }

  // ---- Column UDFs ----
  val ratioUdf = udf((a: String, b: String) => ratio(a, b))
  val partialRatioUdf = udf((a: String, b: String) => partialRatio(a, b))
  val tokenSetRatioUdf = udf((a: String, b: String) => tokenSetRatio(a, b))

  def fuzzRatio(a: Column, b: Column): Column = ratioUdf(a, b)
  def fuzzPartialRatio(a: Column, b: Column): Column = partialRatioUdf(a, b)
  def fuzzTokenSetRatio(a: Column, b: Column): Column = tokenSetRatioUdf(a, b)
}
