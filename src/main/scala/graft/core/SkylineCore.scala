package graft.core

import scala.collection.mutable.ArrayBuffer

/** Pareto-dominance direction for one skyline dimension. */
sealed abstract class Direction(val isMin: Boolean) extends Serializable
object Direction {
  case object Min extends Direction(true)
  case object Max extends Direction(false)

  /** The direction a `min` / `max` token names (any case, surrounding
    * blanks ignored); None for any other token. */
  def of(token: String): Option[Direction] = token.trim.toLowerCase match {
    case "min" => Some(Min)
    case "max" => Some(Max)
    case _ => None
  }
}

/**
 * Pure (Spark-free) skyline math: dominance test, incremental
 * block-nested-loop skyline maintenance, and the three partitioning
 * schemes of the reference engine (MR_DIM / MR_GRID / MR_ANGLE).
 *
 * Semantics follow the reference exactly:
 *  - dominance (`/root/reference/src/utils/functions.py:6-27`): point `a`
 *    dominates `b` iff `a` is better-or-equal on every dimension and
 *    strictly better on at least one; equal points do NOT dominate each
 *    other.
 *  - skyline maintenance (`functions.py:29-54`): incremental insert
 *    ([[SkylineCore.Frontier]]); the reference's Python `set` collapses
 *    exact-duplicate points (and `0.0 == -0.0` there), so the insert
 *    drops a point equal to an incumbent.
 *  - partition keys (`functions.py:57-300`): generalized from the
 *    reference's hard-coded `[0, 10^9]` domain to caller-supplied
 *    per-dimension bounds.
 */
object SkylineCore {

  /** true iff `a` dominates `b` under per-dim directions (`minDir(i)` = dim i minimized). */
  def dominates(a: Array[Double], b: Array[Double], minDir: Array[Boolean]): Boolean = {
    var strict = false
    var i = 0
    val n = a.length
    while (i < n) {
      val av = a(i); val bv = b(i)
      if (av != bv) {
        val aBetter = if (minDir(i)) av < bv else av > bv
        if (!aBetter) return false
        strict = true
      }
      i += 1
    }
    strict
  }

  /** Merge skyline `b` into skyline `a` (returns the merged buffer). */
  def merge(
      a: ArrayBuffer[Array[Double]],
      b: ArrayBuffer[Array[Double]],
      minDir: Array[Boolean]): ArrayBuffer[Array[Double]] =
    Frontier.of(a, minDir).merge(Frontier.of(b, minDir)).points

  /** Full skyline of a point collection (used as test oracle and for golden replay). */
  def skylineOf(points: IterableOnce[Array[Double]], minDir: Array[Boolean]): ArrayBuffer[Array[Double]] = {
    val f = new Frontier(minDir)
    points.iterator.foreach(f.insert)
    f.points
  }

  /**
   * The skyline kernel: a running skyline (block-nested-loops, Börzsönyi
   * et al., ICDE 2001) held flat. Member `r`'s coordinates sit at
   * `coords(r * d until r * d + d)`, MIN-oriented (MAX dimensions negated
   * on the way in and restored on the way out) and with -0.0 normalised
   * to +0.0, so bitwise equality agrees with SQL equality; `scores(r)` is
   * the left-to-right floating-point sum of those coordinates.
   *
   * Set semantics follow the reference (`functions.py:29-54`): a point is
   * dropped if an incumbent dominates it or equals it (bitwise, NaN equal
   * to NaN, like `java.util.Arrays.equals`); otherwise the incumbents it
   * dominates leave, the survivors keep their relative order and the
   * point is appended.
   *
   * With `k > 1` it holds a k-skyband's candidates instead, each with a
   * running dominator count ([[insertCounted]], [[mergeCounted]],
   * [[recount]]).
   */
  final class Frontier(minDir: Array[Boolean], k: Int = 1) {
    val d: Int = minDir.length
    private var coords = new Array[Double](8 * d)
    private var scores = new Array[Double](8)
    private var n = 0
    /** The oriented point being inserted. */
    private val staged = new Array[Double](d)
    /** Band only: running dominator counts, and the members the point
      * being inserted dominates; both as long as `scores`. */
    private var counts: Array[Int] = if (k > 1) new Array[Int](8) else null
    private var hits: Array[Int] = if (k > 1) new Array[Int](8) else null

    def size: Int = n

    /** Stages coordinate `i` of the next point, given in its own direction. */
    def stage(i: Int, x: Double): Unit =
      staged(i) = if (minDir(i)) x + 0.0 else 0.0 - x

    /** Stages the point at `p(off until off + d)`, given in its own
      * direction. ([[insert]] and [[add]] keep their own loops: routing
      * them through this method made `SkylineCore.merge` of four d = 7
      * local skylines ~8 % slower on a 4-core x86-64 JDK 17 host.) */
    def stage(p: Array[Double], off: Int): Unit = {
      var i = 0
      while (i < d) { stage(i, p(off + i)); i += 1 }
    }

    /** Inserts `p` (read, never kept); true iff it joined the skyline. */
    def insert(p: Array[Double]): Boolean = {
      var i = 0
      while (i < d) { stage(i, p(i)); i += 1 }
      insertStaged()
    }

    /** Inserts the staged point; true iff it joined the skyline.
      *
      * Single-pass safety: if some incumbent dominates (or equals) the
      * point, no incumbent is dominated by it (members are mutually
      * non-dominating and dominance is transitive), so the early return
      * never fires after a removal has shifted the write pointer. */
    def insertStaged(): Boolean = {
      val s = stagedScore
      var r = 0
      var w = 0
      while (r < n) {
        val rel = relation(r, staged, 0, s)
        if (rel >= Rejects) return false
        if (rel == Keeps) { moveMember(r, w); w += 1 }
        r += 1
      }
      n = w
      append(staged, 0, s)
      true
    }

    /** Appends `p(off until off + d)` unchecked: the caller vouches that it
      * neither dominates, is dominated by nor equals any member (it comes
      * from the same skyline). */
    def add(p: Array[Double], off: Int = 0): Unit = {
      var i = 0
      while (i < d) { stage(i, p(off + i)); i += 1 }
      append(staged, 0, stagedScore)
    }

    /** Inserts the staged point into the band; true iff it joined.
      *
      * Pass 1 rejects the point on an equal member or once `k` members
      * dominate it, and notes the members it dominates. Only then does
      * pass 2 add one to each noted member's count, dropping those that
      * reach `k`: a hit applied during pass 1 would stand even when an
      * equal member later rejects the point. Survivors keep their order
      * and the point is appended with its count. See the exactness
      * argument at [[kSkybandOf]]. */
    def insertCounted(): Boolean = {
      if (counts == null) return insertStaged()
      val s = stagedScore
      var c = 0
      var h = 0
      var r = 0
      while (r < n) {
        val rel = relation(r, staged, 0, s)
        if (rel == Equal) return false
        if (rel == Rejects) { c += 1; if (c >= k) return false }
        else if (rel == Dropped) { hits(h) = r; h += 1 }
        r += 1
      }
      if (h > 0) {
        var w = hits(0)
        var j = 0
        r = w
        while (r < n) {
          if (j < h && hits(j) == r) { counts(r) += 1; j += 1 }
          if (counts(r) < k) { moveMember(r, w); counts(w) = counts(r); w += 1 }
          r += 1
        }
        n = w
      }
      append(staged, 0, s)
      if (counts.length < scores.length) {
        counts = java.util.Arrays.copyOf(counts, scores.length)
        hits = new Array[Int](scores.length)
      }
      counts(n - 1) = c
      true
    }

    /** The band of the union of this band and `that`: `that`'s members
      * are inserted in turn ([[insertCounted]]), so their running counts
      * are recounted against this band's. Returns this band. */
    def mergeCounted(that: Frontier): Frontier = {
      var j = 0
      while (j < that.n) {
        System.arraycopy(that.coords, j * d, staged, 0, d)
        insertCounted()
        j += 1
      }
      this
    }

    /** Each member's dominator count among the members, counted up to
      * `k`: the band's emission recount, exact by the argument at
      * [[kSkybandOf]]. A member cannot dominate itself and no two members
      * are equal, so its own entry never counts. */
    def recount(): Array[Int] = {
      val sorted = ScoreSorted(d, java.util.Arrays.copyOf(coords, n * d))
      Array.tabulate(n)(r => sorted.dominators(coords, r * d, k))
    }

    /** Skyline of the union of this skyline and `that`: the smaller one is
      * inserted into the larger, which is returned. Each incoming point is
      * compared only with the larger frontier's surviving original
      * members: points of one skyline never dominate or equal each other.
      * Result order is as if each point were inserted in turn. */
    def merge(that: Frontier): Frontier = {
      require(that.d == d, s"merging frontiers of dimension $d and ${that.d}")
      if (n >= that.n) absorb(that) else that.absorb(this)
    }

    private def absorb(small: Frontier): Frontier = {
      val m = n
      val dead = new Array[Boolean](m)
      val joined = new Array[Int](small.n)
      var k = 0
      var j = 0
      while (j < small.n) {
        val sp = small.scores(j)
        var rejected = false
        var r = 0
        while (r < m && !rejected) {
          if (!dead(r)) {
            val rel = relation(r, small.coords, j * d, sp)
            if (rel >= Rejects) rejected = true
            else if (rel == Dropped) dead(r) = true
          }
          r += 1
        }
        if (!rejected) { joined(k) = j; k += 1 }
        j += 1
      }
      var w = 0
      var r = 0
      while (r < m) {
        if (!dead(r)) { moveMember(r, w); w += 1 }
        r += 1
      }
      n = w
      var i = 0
      while (i < k) { append(small.coords, joined(i) * d, small.scores(joined(i))); i += 1 }
      this
    }

    /** How member `r` relates to the point at `p(po until po + d)` with score `sp`. */
    private def relation(r: Int, p: Array[Double], po: Int, sp: Double): Int =
      gated(coords, r * d, scores(r), p, po, sp, d)

    private def moveMember(from: Int, to: Int): Unit = if (to < from) {
      System.arraycopy(coords, from * d, coords, to * d, d)
      scores(to) = scores(from)
    }

    private def stagedScore: Double = score(staged, 0, d)

    private def append(p: Array[Double], off: Int, s: Double): Unit = {
      if (n == scores.length) {
        scores = java.util.Arrays.copyOf(scores, 2 * n)
        coords = java.util.Arrays.copyOf(coords, 2 * n * d)
      }
      System.arraycopy(p, off, coords, n * d, d)
      scores(n) = s
      n += 1
    }

    /** Members' MIN-oriented coordinates, flat, member order. */
    def oriented: Array[Double] = java.util.Arrays.copyOf(coords, n * d)

    /** Members' coordinates in their own directions, flat, member order. */
    def flat: Array[Double] = {
      val out = oriented
      var i = 0
      while (i < d) {
        if (!minDir(i)) { var o = i; while (o < out.length) { out(o) = 0.0 - out(o); o += d } }
        i += 1
      }
      out
    }

    /** Members in their own directions, one array each, member order. */
    def points: ArrayBuffer[Array[Double]] = {
      val all = flat
      ArrayBuffer.tabulate(n)(r => java.util.Arrays.copyOfRange(all, r * d, r * d + d))
    }
  }

  object Frontier {
    /** A frontier holding `skyline`'s points unchecked (see [[Frontier.add]]). */
    def of(skyline: collection.Seq[Array[Double]], minDir: Array[Boolean]): Frontier = {
      val f = new Frontier(minDir)
      skyline.foreach(f.add(_))
      f
    }
  }

  /** The left-to-right floating-point sum of `p(off until off + d)`: the
    * score of [[Frontier]]'s gate and of [[ScoreSorted]]. It starts from
    * +0.0, so it is never -0.0. */
  private def score(p: Array[Double], off: Int, d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) { s += p(off + i); i += 1 }
    s
  }

  /**
   * MIN-oriented points held flat (stride `d`) in ascending score order
   * (the [[Frontier]] score, NaN last): the dominance-count kernels of
   * `kSkybandJoin` and `topKDominating`, and the dominance filter of
   * `skylineExternal`. `q` dominates `p` iff
   * `q(i) <= p(i)` everywhere and `<` somewhere, in Java semantics, so a
   * point with a NaN coordinate neither dominates nor is dominated.
   *
   * The score bounds every scan: if `q` dominates `p` and score(p) is
   * neither NaN nor +Inf, then `q` holds no NaN or +Inf, and by the
   * [[Frontier]] gate's argument score(q) <= score(p). A NaN score (a NaN
   * coordinate, or +Inf meeting -Inf) or a +Inf one bounds nothing.
   *
   * With `origins`, each member carries the id of the frontier it came
   * from, and [[survives]] tells which members form the skyline of them
   * all.
   */
  final class ScoreSorted private (val d: Int, val coords: Array[Double],
      scores: Array[Double], origins: Array[Int]) extends Serializable {
    def size: Int = scores.length

    /** How many members dominate the point at `p(po until po + d)`,
      * counted up to `k`; with `counts`, each such member `c` also adds
      * one to `counts(c)`. The scan stops at the first member scoring
      * above the point. */
    def dominators(p: Array[Double], po: Int, k: Int, counts: Array[Int] = null): Int = {
      val sp = score(p, po, d)
      val end = if (sp.isNaN || sp == Double.PositiveInfinity) size else firstFrom(sp, inclusive = false)
      var n = 0
      var c = 0
      while (c < end && n < k) {
        if (dominates(coords, c * d, p, po)) { n += 1; if (counts != null) counts(c) += 1 }
        c += 1
      }
      n
    }

    /** Adds one to `counts(c)` for every member `c` that the point at
      * `p(po until po + d)` dominates. Members scoring below the point
      * cannot be dominated by it, so the scan starts at a binary-searched
      * index; a NaN-scored point scans every member. */
    def tallyDominated(p: Array[Double], po: Int, counts: Array[Int]): Unit = {
      val sp = score(p, po, d)
      var c = if (sp.isNaN) 0 else firstFrom(sp, inclusive = true)
      while (c < size) { if (dominates(p, po, coords, c * d)) counts(c) += 1; c += 1 }
    }

    /** True iff member `i` is in the skyline of the members under
      * [[Frontier]]'s set semantics: no member dominates it, and no member
      * of a lower origin equals it (bitwise, NaN equal to NaN). The scan
      * ends where [[dominators]]'s does; each member is tested through
      * the [[Frontier]] gate ([[gated]]). */
    def survives(i: Int): Boolean = {
      val po = i * d
      val sp = scores(i)
      val end = if (sp.isNaN || sp == Double.PositiveInfinity) size else firstFrom(sp, inclusive = false)
      var c = 0
      while (c < end) {
        if (c != i) {
          val rel = gated(coords, c * d, scores(c), coords, po, sp, d)
          if (rel == Rejects || (rel == Equal && origins(c) < origins(i))) return false
        }
        c += 1
      }
      true
    }

    /** First member whose score is at least `s` (`inclusive`) or above it. */
    private def firstFrom(s: Double, inclusive: Boolean): Int = {
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.lang.Double.compare(scores(mid), s)
        if (c < 0 || (c == 0 && !inclusive)) lo = mid + 1 else hi = mid
      }
      lo
    }

    private def dominates(q: Array[Double], qo: Int, p: Array[Double], po: Int): Boolean = {
      var le = 0
      var lt = 0
      var i = 0
      while (i < d) {
        val qv = q(qo + i)
        val pv = p(po + i)
        if (qv <= pv) le += 1
        if (qv < pv) lt += 1
        i += 1
      }
      le == d && lt > 0
    }
  }

  object ScoreSorted {
    /** The points of `flat` (stride `d`, MIN-oriented, no -0.0), sorted. */
    def apply(d: Int, flat: Array[Double]): ScoreSorted = union(d, Array(flat))

    /** The points of all `parts` (each as in [[apply]], read in place),
      * sorted, each with the index of its part as its origin. */
    def union(d: Int, parts: Array[Array[Double]]): ScoreSorted = {
      // each point's part (high word) and offset in it (low word)
      val at = parts.indices.toArray.flatMap(o => Array.tabulate(parts(o).length / d)(j => o.toLong << 32 | j * d))
      val s = at.map(a => score(parts((a >>> 32).toInt), a.toInt, d))
      val order = at.indices.toArray.sortBy(s(_))(Ordering.Double.TotalOrdering)
      val coords = new Array[Double](at.length * d)
      var r = 0
      while (r < at.length) {
        val a = at(order(r))
        System.arraycopy(parts((a >>> 32).toInt), a.toInt, coords, r * d, d)
        r += 1
      }
      new ScoreSorted(d, coords, order.map(s), order.map(i => (at(i) >>> 32).toInt))
    }
  }

  /** How the point at `q(qo until qo + d)`, with score `sq`, relates to
    * the one at `p(po until po + d)`, with score `sp`, as a [[Frontier]]
    * member to a new point.
    *
    * Score gate. If q dominates p, then q(i) <= p(i) in every oriented
    * dimension, and rounded addition is monotone in each operand, so
    * every partial sum of q is <= the matching one of p: sq <= sp. Equal
    * points have equal sums. Hence sq < sp rules out p dominating or
    * equalling q, sq > sp rules out the converse, and one one-sided test
    * decides. A NaN coordinate, or +Inf meeting -Inf, makes a sum NaN;
    * NaN compares false both ways and falls through to the full test
    * ([[tie]]), as do tied sums. */
  private def gated(q: Array[Double], qo: Int, sq: Double, p: Array[Double], po: Int, sp: Double,
      d: Int): Int =
    if (sq < sp) {
      // No NaN on this path, and q(i) <= p(i) everywhere with sq < sp
      // makes one dimension strict. The count runs without an early
      // exit: a fixed-length loop and one rarely-taken branch beat a
      // data-dependent exit on frontier-heavy data.
      var k = 0
      var i = 0
      while (i < d) { if (q(qo + i) <= p(po + i)) k += 1; i += 1 }
      if (k == d) Rejects else Keeps
    } else if (sq > sp) {
      var k = 0
      var i = 0
      while (i < d) { if (p(po + i) <= q(qo + i)) k += 1; i += 1 }
      if (k == d) Dropped else Keeps
    } else tie(q, qo, p, po, d)

  /** The full test behind the score gate, in one fused pass:
    * strict-better flags both ways, NaN incomparability, and equality
    * (NaN equal to NaN). */
  private def tie(q: Array[Double], qo: Int, p: Array[Double], po: Int, d: Int): Int = {
    var qBetter = false
    var pBetter = false
    var nan = false
    var unequalNan = false
    var i = 0
    while (i < d && !(qBetter && pBetter)) {
      val qv = q(qo + i)
      val pv = p(po + i)
      if (qv < pv) qBetter = true
      else if (qv > pv) pBetter = true
      else if (qv != pv) { nan = true; if (qv == qv || pv == pv) unequalNan = true }
      i += 1
    }
    if (!qBetter && !pBetter && !unequalNan) Equal
    else if (nan || qBetter == pBetter) Keeps
    else if (qBetter) Rejects
    else Dropped
  }

  /** [[Frontier]] member relations: the member stays, it is dominated by
    * the new point, it dominates the new point, or it equals it. Only the
    * band tells the last two apart; the skyline rejects the point on
    * either (`>= Rejects`). */
  private final val Keeps = 0
  private final val Dropped = 1
  private final val Rejects = 2
  private final val Equal = 3

  // ---------------------------------------------------------------------
  // k-skyband (Papadias et al., SIGMOD'03): the relaxed skyline — points
  // dominated by FEWER than k others. k = 1 is exactly the skyline. Set
  // semantics like the skyline (exact duplicates collapse; equal points
  // do not dominate each other).
  //
  // Candidate maintenance is BNL-style with RUNNING dominator counts
  // ([[Frontier.insertCounted]]): a point is dropped only when it has
  // accumulated >= k GENUINE dominators (every counted dominator is a
  // real input point, so drops are always sound). Running counts may
  // UNDERCOUNT (dominators dropped earlier are forgotten), which only
  // keeps extra candidates — the final [[Frontier.recount]] inside the
  // surviving candidate set is provably exact: by induction over
  // dominance depth, a point with >= k global dominators always has >= k
  // dominators among the never-dropped candidates (each dropped dominator
  // contributes its own >= k dominators transitively), and conversely
  // every k-skyband member's dominators all have < k dominators
  // themselves and are therefore never dropped — so emitted counts equal
  // TRUE global dominator counts.
  // ---------------------------------------------------------------------

  /** Full k-skyband with exact dominator counts (test oracle form), in
    * candidate order. Coordinates enter with -0.0 normalised to +0.0, as
    * in the band aggregate. */
  def kSkybandOf(
      points: IterableOnce[Array[Double]], minDir: Array[Boolean],
      k: Int): ArrayBuffer[(Array[Double], Int)] = {
    val f = new Frontier(minDir, k)
    points.iterator.foreach { p => f.stage(p, 0); f.insertCounted() }
    f.points.zip(f.recount()).filter(_._2 < k)
  }

  // ---------------------------------------------------------------------
  // MR_DIM (functions.py:57-73): 1-D equal-width range bucketing.
  // ---------------------------------------------------------------------

  /** Bucket of `x` among `p` equal-width buckets over `[lo, hi]`; `x >= hi` clamps to `p-1`. */
  def dimKey(p: Int, lo: Double, hi: Double, x: Double): Int = {
    require(p > 0 && hi > lo, s"need p>0 and hi>lo, got p=$p [$lo,$hi]")
    if (x >= hi) p - 1
    else {
      val range = (hi - lo) / p
      val k = math.floor((x - lo) / range).toInt
      if (k < 0) 0 else if (k > p - 1) p - 1 else k
    }
  }

  // ---------------------------------------------------------------------
  // MR_GRID (functions.py:76-220): base-b digit grid + the reference's
  // dominated-cell prune (parity only).
  // ---------------------------------------------------------------------

  /** Per-dim grid digits of a point (digit i = dimKey of x_i). */
  def gridDigits(b: Int, bounds: Array[(Double, Double)], x: Array[Double]): Array[Int] = {
    val out = new Array[Int](x.length)
    var i = 0
    while (i < x.length) { out(i) = dimKey(b, bounds(i)._1, bounds(i)._2, x(i)); i += 1 }
    out
  }

  /** Combined grid key = sum_i b^i * digit_i (functions.py:131-134);
    * the caller keeps b^d within Long range. */
  def gridKey(b: Int, digits: Array[Int]): Long = {
    var key = 0L
    var mult = 1L
    var i = 0
    while (i < digits.length) { key += mult * digits(i); mult *= b; i += 1 }
    key
  }

  /** Digits of the best cell: 0 for MIN dims, b-1 for MAX dims (functions.py:138-154). */
  def bestGridDigits(minDir: Array[Boolean], b: Int): Array[Int] =
    minDir.map(m => if (m) 0 else b - 1)

  /** Cell-level dominance: strictly better digit in EVERY dim (functions.py:157-174). */
  def cellDominates(minDir: Array[Boolean], k1: Array[Int], k2: Array[Int]): Boolean = {
    var i = 0
    while (i < minDir.length) {
      val better = if (minDir(i)) k1(i) < k2(i) else k1(i) > k2(i)
      if (!better) return false
      i += 1
    }
    true
  }

  /** decimal -> base-b digit list (LSB first), padded to d digits (functions.py:195-220). */
  def decimalToBase(n0: Int, b: Int, d: Int): Array[Int] = {
    val out = new Array[Int](d)
    var n = n0
    var i = 0
    while (n != 0 && i < d) { out(i) = (n % b).toInt; n /= b; i += 1 }
    out
  }

  /**
   * Enumerate the grid keys NOT dominated by the best cell — exactly
   * `b^d - (b-1)^d` of `b^d` cells survive (reference README.md:55-57).
   *
   * NOTE — this is the reference's prune (`functions.py:177-192`) and it
   * is UNSOUND on sparse data: its "corollary" (a cell may be filtered
   * iff the best cell dominates it) silently assumes the best cell is
   * non-empty. Counterexample: points (0,8), (8,0), (5,5) with b=2 —
   * (5,5) is in the true skyline but sits in the cell dominated by the
   * (empty) best cell, so the reference drops it. Kept here for parity
   * tests only; the engine's GridHint prunes no cell: its cells only
   * group the local frontiers that the verify stage checks.
   */
  def keptGridKeys(minDir: Array[Boolean], b: Int): Seq[Int] = {
    val d = minDir.length
    val total = math.pow(b, d)
    require(total <= (1 << 22), s"grid cell count b^d = $total too large to enumerate")
    val best = bestGridDigits(minDir, b)
    (0 until total.toInt).filter { k =>
      !cellDominates(minDir, best, decimalToBase(k, b, d))
    }
  }

  // ---------------------------------------------------------------------
  // MR_ANGLE (functions.py:223-300): hyperspherical angular bucketing.
  // First-orthant, MIN-only (reference restriction, functions.py:224-225).
  // ---------------------------------------------------------------------

  /** Bucket of one angular coordinate phi_i = atan(||tail||_2 / v_i); v_i == 0 -> p-1. */
  def angleDimKey(p: Int, vI: Double, tailNorm: Double): Int = {
    if (vI == 0) p - 1
    else {
      val range = (math.Pi / 2) / p
      val k = math.floor(math.atan(tailNorm / vI) / range).toInt
      if (k < 0) 0 else if (k > p - 1) p - 1 else k
    }
  }

  /** Combined MR_ANGLE key = sum_i p^i * angleDimKey_i over the first d-1
    * dims; the caller keeps p^(d-1) within Long range. */
  def angleKey(p: Int, x: Array[Double]): Long = {
    var key = 0L
    var mult = 1L
    var i = 0
    while (i < x.length - 1) {
      var ss = 0.0
      var j = i + 1
      while (j < x.length) { ss += x(j) * x(j); j += 1 }
      key += mult * angleDimKey(p, x(i), math.sqrt(ss))
      mult *= p
      i += 1
    }
    key
  }
}
