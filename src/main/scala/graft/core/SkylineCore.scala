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
 *  - skyline maintenance (`functions.py:29-54`): incremental insert; the
 *    reference's Python `set` collapses exact-duplicate points, so
 *    `insert` drops a point equal to an incumbent.
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

  /**
   * Insert `p` into the running skyline `buf` in place (single pass).
   * Drops `p` if dominated by, or exactly equal to, an incumbent;
   * otherwise removes incumbents dominated by `p` and appends `p`.
   *
   * Single-pass safety: if some incumbent dominates (or equals) `p`, then
   * no incumbent can be dominated by `p` (skyline members are mutually
   * non-dominating and dominance is transitive), so the early return can
   * never fire after a removal has shifted the write pointer.
   */
  def insert(buf: ArrayBuffer[Array[Double]], p: Array[Double], minDir: Array[Boolean]): Unit = {
    val n = buf.length
    var r = 0
    var w = 0
    while (r < n) {
      val q = buf(r)
      if (dominates(q, p, minDir) || java.util.Arrays.equals(q, p)) return
      if (!dominates(p, q, minDir)) { buf(w) = q; w += 1 }
      r += 1
    }
    if (w < n) buf.dropRightInPlace(n - w)
    buf += p
  }

  /** Merge skyline `b` into skyline `a` (returns the merged buffer). */
  def merge(
      a: ArrayBuffer[Array[Double]],
      b: ArrayBuffer[Array[Double]],
      minDir: Array[Boolean]): ArrayBuffer[Array[Double]] = {
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { insert(big, small(i), minDir); i += 1 }
    big
  }

  /** Full skyline of a point collection (used as test oracle and for golden replay). */
  def skylineOf(points: IterableOnce[Array[Double]], minDir: Array[Boolean]): ArrayBuffer[Array[Double]] = {
    val buf = ArrayBuffer.empty[Array[Double]]
    points.iterator.foreach(insert(buf, _, minDir))
    buf
  }

  // ---------------------------------------------------------------------
  // k-skyband (Papadias et al., SIGMOD'03): the relaxed skyline — points
  // dominated by FEWER than k others. k = 1 is exactly the skyline. Set
  // semantics like the skyline (exact duplicates collapse; equal points
  // do not dominate each other).
  //
  // Candidate maintenance is BNL-style with RUNNING dominator counts:
  // a point is dropped only when it has accumulated >= k GENUINE
  // dominators (every counted dominator is a real input point, so drops
  // are always sound). Running counts may UNDERCOUNT (dominators dropped
  // earlier are forgotten), which only keeps extra candidates — the
  // final [[kSkybandCounts]] recount inside the surviving candidate set
  // is provably exact: by induction over dominance depth, a point with
  // >= k global dominators always has >= k dominators among the
  // never-dropped candidates (each dropped dominator contributes its own
  // >= k dominators transitively), and conversely every k-skyband
  // member's dominators all have < k dominators themselves and are
  // therefore never dropped — so emitted counts equal TRUE global
  // dominator counts.
  // ---------------------------------------------------------------------

  /** Insert `p` into the candidate buffer (parallel point/count arrays)
    * in place. Returns silently when `p` is an exact duplicate or
    * already has `k` buffered dominators. */
  def kSkybandInsert(
      buf: ArrayBuffer[Array[Double]], cnt: ArrayBuffer[Int],
      p: Array[Double], minDir: Array[Boolean], k: Int): Unit = {
    var c = 0
    var i = 0
    while (i < buf.length) {
      val q = buf(i)
      if (java.util.Arrays.equals(q, p)) return
      if (dominates(q, p, minDir)) { c += 1; if (c >= k) return }
      i += 1
    }
    // p joins; incumbents it dominates take a hit, dropping at k
    i = 0
    while (i < buf.length) {
      if (dominates(p, buf(i), minDir)) {
        cnt(i) += 1
        if (cnt(i) >= k) {
          buf.remove(i); cnt.remove(i); ()
        } else i += 1
      } else i += 1
    }
    buf += p
    cnt += c
    ()
  }

  /** Exact per-candidate dominator counts WITHIN the candidate set (the
    * emission pass — see the exactness argument above). Returns the
    * (point, count) pairs with count < k. */
  def kSkybandCounts(
      buf: ArrayBuffer[Array[Double]], minDir: Array[Boolean],
      k: Int): ArrayBuffer[(Array[Double], Int)] = {
    val out = ArrayBuffer.empty[(Array[Double], Int)]
    var i = 0
    while (i < buf.length) {
      var c = 0
      var j = 0
      while (j < buf.length && c < k) {
        if (j != i && dominates(buf(j), buf(i), minDir)) c += 1
        j += 1
      }
      if (c < k) out += ((buf(i), c))
      i += 1
    }
    out
  }

  /** Full k-skyband with exact dominator counts (test oracle form). */
  def kSkybandOf(
      points: IterableOnce[Array[Double]], minDir: Array[Boolean],
      k: Int): ArrayBuffer[(Array[Double], Int)] = {
    val buf = ArrayBuffer.empty[Array[Double]]
    val cnt = ArrayBuffer.empty[Int]
    points.iterator.foreach(kSkybandInsert(buf, cnt, _, minDir, k))
    kSkybandCounts(buf, minDir, k)
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
  // MR_GRID (functions.py:76-220): base-b digit grid + dominated-cell prune.
  // ---------------------------------------------------------------------

  /** Per-dim grid digits of a point (digit i = dimKey of x_i). */
  def gridDigits(b: Int, bounds: Array[(Double, Double)], x: Array[Double]): Array[Int] = {
    val out = new Array[Int](x.length)
    var i = 0
    while (i < x.length) { out(i) = dimKey(b, bounds(i)._1, bounds(i)._2, x(i)); i += 1 }
    out
  }

  /** Combined grid key = sum_i b^i * digit_i (functions.py:131-134). */
  def gridKey(b: Int, digits: Array[Int]): Int = {
    var key = 0L
    var mult = 1L
    var i = 0
    while (i < digits.length) { key += mult * digits(i); mult *= b; i += 1 }
    require(key <= Int.MaxValue, s"grid key overflow: b=$b d=${digits.length}")
    key.toInt
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
  def decimalToBase(n0: Int, b: Int, d: Int): Array[Int] =
    decimalToBaseLong(n0.toLong, b, d)

  /** As [[decimalToBase]] for Long keys — grid keys are b^d-sized and
    * overflow Int quickly (e.g. b=4, d=16). */
  def decimalToBaseLong(n0: Long, b: Int, d: Int): Array[Int] = {
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
   * tests only; the engine's GridHint uses [[keptOccupiedKeys]].
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

  /** Most occupied cells [[keptOccupiedKeys]] accepts. The prune is an
    * O(|occupied|^2 * d) driver-side loop; 2^16 cells => <= ~4e9 cheap
    * comparisons, still sub-second-ish, and the driver-side collect of
    * the keys stays at 512 KB. Beyond that the caller should coarsen b. */
  val MaxOccupiedGridCells: Int = 1 << 16

  /**
   * Sound dominated-cell prune: among the cells that actually contain
   * points, keep those not strictly dominated by another occupied cell.
   * Strict per-dim bucket dominance implies strict per-dim value
   * dominance for any point pair across the two cells, so every point of
   * a pruned cell is dominated by every point of its (non-empty)
   * dominating cell — the prune can never drop a skyline point. On dense
   * data where the best cell is occupied this keeps exactly the
   * reference's `b^d - (b-1)^d` surviving cells.
   */
  def keptOccupiedKeys(minDir: Array[Boolean], b: Int, occupied: Seq[Long]): Seq[Long] = {
    val d = minDir.length
    require(occupied.size <= MaxOccupiedGridCells,
      s"${occupied.size} occupied grid cells — too many for the dominated-cell " +
        "prune; use a smaller grid base b")
    val digits = occupied.map(k => k -> decimalToBaseLong(k, b, d)).toMap
    occupied.filter { c =>
      val cd = digits(c)
      !occupied.exists(a => a != c && cellDominates(minDir, digits(a), cd))
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

  /** Combined MR_ANGLE key = sum_i p^i * angleDimKey_i over the first d-1 dims. */
  def angleKey(p: Int, x: Array[Double]): Int = {
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
    require(key <= Int.MaxValue, s"angle key overflow: p=$p d=${x.length}")
    key.toInt
  }
}
