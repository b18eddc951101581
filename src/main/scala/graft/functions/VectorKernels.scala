package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Tight per-row kernels over Catalyst `ArrayData`, shared by interpreted
  * `eval` and generated code (whole-stage codegen emits a static call into
  * this object, keeping the hot loop JIT-friendly with zero boxing).
  *
  * These back the embedding-similarity surface (brute-force and LSH ANN,
  * embedding near-dup) — the n-dimensional analogue of the reference's
  * point kernels (reference: spatial/Point.scala:52-58 Euclidean minDist).
  */
object VectorKernels {

  @inline private def sameDim(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    // a silent min() here would score a vector as identical to its own
    // prefix — a schema mix-up (mismatched embedding models) must be loud
    require(n == b.numElements(),
      s"vector dimension mismatch: $n vs ${b.numElements()}")
    n
  }

  /** Cosine similarity of two float vectors; 0.0 when either norm is 0. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Euclidean norm of one float vector — EXACTLY cosineF's `sqrt(na)`
    * factor (same index-order accumulation over the same double casts),
    * so `dotF(a,b) / (normF(a) * normF(b))` is bit-identical to
    * `cosineF(a,b)` wherever the norms are nonzero. Exists so pair joins
    * can hoist the two norm passes out of the n^2 loop (1/3 of cosineF's
    * per-pair arithmetic each) without perturbing oracle parity. */
  def normF(a: ArrayData): Double = {
    val n = a.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      na += x * x
      i += 1
    }
    math.sqrt(na)
  }

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  def l2F(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Nearest-pivot assignment for the Voronoi kNN joins: 1-based cell
    * of the argmin-distance pivot (ties to the LOWEST index — the
    * `array_position(array_min)` semantics of the HOF form this kernel
    * replaced) and the TRUE Euclidean distance to it, as one struct row.
    * `pivots` is the flattened row-major p×d matrix riding the plan as
    * ONE reference object. Element arithmetic matches [[l2F]] exactly
    * for float vectors (`getFloat(i).toDouble` diffs, dim-order
    * accumulation, one final sqrt), and the double form matches the
    * spatial joins' `sqrt(Σ(key−pivot)²)` column chain — the pivot
    * bounds need the recorded distance to BE the join metric's value.
    *
    * Why a kernel: the prior `transform(pivotsLit, …)` argmin was
    * interpreted per element (ArrayTransform is CodegenFallback), which
    * made O(p·d) boxed evaluations per row the dominant cost of the
    * d=64 vector join and the d=4 auto route. This is the same loop,
    * compiled. */
  def pivotArgmin(v: ArrayData, pivots: Array[Double], d: Int,
                  isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    require(n == d, s"vector dimension mismatch: $n vs pivot dim $d")
    val np = pivots.length / d
    var best = 0
    var bestSq = Double.PositiveInfinity
    var c = 0
    while (c < np) {
      val off = c * d
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val diff = x - pivots(off + i)
        acc += diff * diff
        i += 1
      }
      if (acc < bestSq) { bestSq = acc; best = c }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best + 1, math.sqrt(bestSq)))
  }

  /** The right-side twin of [[pivotArgmin]]: the 1-based cells whose
    * admission band accepts this vector (`l2(v, pivot_i) <= bands(i)`),
    * as one int array — replaces a posexplode-over-all-pivots +
    * band filter with a compiled loop that also never materializes the
    * p rejected rows per input. Cells with a -inf band (no lefts) are
    * skipped inside the loop. */
  def pivotAdmitted(v: ArrayData, pivots: Array[Double],
                    bands: Array[Double], d: Int,
                    isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    require(n == d, s"vector dimension mismatch: $n vs pivot dim $d")
    val np = pivots.length / d
    val out = new Array[Int](np)
    var m = 0
    var c = 0
    while (c < np) {
      val band = bands(c)
      if (band > Double.NegativeInfinity) {
        val off = c * d
        var acc = 0.0
        var i = 0
        while (i < d) {
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          val diff = x - pivots(off + i)
          acc += diff * diff
          i += 1
        }
        if (math.sqrt(acc) <= band) { out(m) = c + 1; m += 1 }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, m))
  }

  @inline private def sqDistTo(v: ArrayData, flat: Array[Double], off: Int,
                               d: Int, isFloat: Boolean): Double = {
    var acc = 0.0
    var i = 0
    while (i < d) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      val diff = x - flat(off + i)
      acc += diff * diff
      i += 1
    }
    acc
  }

  /** Two-level [[pivotArgmin]]: route through the nearest of G coarse
    * centers, then argmin over ONLY that coarse group's fine pivots —
    * O((G + |group|)·d) per row instead of O(p·d), which is what lets
    * the pivot joins hold per-cell population CONSTANT at scale
    * (p ∝ n) instead of p ∝ √n (VERDICT r15 #1). `pivots` is ordered
    * group-by-group; `offsets` (length G+1) spans group g's fine
    * indices [offsets(g), offsets(g+1)). The returned cell is the
    * 1-based GLOBAL fine index and the distance is the true Euclidean
    * distance to that fine pivot — the assignment is a hierarchical
    * APPROXIMATION of the global argmin (the true nearest fine pivot
    * can live in a neighboring coarse group), which is sound because
    * no admission bound assumes argmin-ness: the per-cell radius bound
    * maxDl is MEASURED from these assignments, so the triangle-
    * inequality band `d(r, p_i) <= maxDl_i + theta_i` covers every
    * assigned left's theta-ball exactly as in the flat form; the only
    * cost of a boundary misroute is a slightly wider measured bound.
    * Ties break to the lowest index at both levels (deterministic). */
  def hierPivotArgmin(v: ArrayData, coarse: Array[Double],
                      pivots: Array[Double], offsets: Array[Int], d: Int,
                      isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    require(n == d, s"vector dimension mismatch: $n vs pivot dim $d")
    val g = coarse.length / d
    var bestG = 0
    var bestGSq = Double.PositiveInfinity
    var c = 0
    while (c < g) {
      val acc = sqDistTo(v, coarse, c * d, d, isFloat)
      if (acc < bestGSq) { bestGSq = acc; bestG = c }
      c += 1
    }
    var best = offsets(bestG)
    var bestSq = Double.PositiveInfinity
    var i = offsets(bestG)
    val end = offsets(bestG + 1)
    while (i < end) {
      val acc = sqDistTo(v, pivots, i * d, d, isFloat)
      if (acc < bestSq) { bestSq = acc; best = i }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best + 1, math.sqrt(bestSq)))
  }

  /** Relative widening of a kNN rescue bound. Rounding can make a
    * computed `d(l, r)` exceed the computed `d(l, s) + reach(s)` it is
    * bounded by, by a few ulps per dimension, and a tied neighbour on
    * the bound would then be dropped; this slack covers any dimension
    * while admitting only candidates within a billionth of the bound. */
  val RescueSlack = 1e-9

  @inline private def widen(x: Double): Double = x + x * RescueSlack

  /** The kNN joins' rescue step for one starved left `v`:
    *  - `theta` = min over the sample rows s of `l2(v, s) + reach(s)`,
    *    widened by [[RescueSlack]]. With `reach(s)` the exact k-th
    *    distance from s to the right side, the triangle inequality
    *    makes it an upper bound on v's own k-th distance;
    *  - `cells`, the 1-based pivots p_j with
    *    `l2(v, p_j) <= min_i l2(v, p_i) + 2·theta` (widened): a right r
    *    within theta of v, assigned to its nearest pivot p_j
    *    ([[pivotArgmin]]), has `d(r, p_j) <= d(r, p_near(v))
    *    <= theta + d(v, p_near(v))`, so `d(v, p_j) <= d(v, p_near(v)) + 2·theta`.
    * `sample` and `pivots` are flattened row-major n×d matrices. */
  def knnRescue(v: ArrayData, sample: Array[Double], reach: Array[Double],
                pivots: Array[Double], d: Int,
                isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    require(n == d, s"vector dimension mismatch: $n vs pivot dim $d")
    var theta = Double.PositiveInfinity
    var s = 0
    while (s < reach.length) {
      val t = math.sqrt(sqDistTo(v, sample, s * d, d, isFloat)) + reach(s)
      if (t < theta) theta = t
      s += 1
    }
    theta = widen(theta)
    val np = pivots.length / d
    val dp = Array.tabulate(np)(c => math.sqrt(sqDistTo(v, pivots, c * d, d, isFloat)))
    val band = widen(dp.min + 2 * theta)
    val out = new Array[Int](np)
    var m = 0
    var c = 0
    while (c < np) {
      if (dp(c) <= band) { out(m) = c + 1; m += 1 }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](theta,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOf(out, m))))
  }

  /** The shape twin of [[knnRescue]]'s bound: for a 2-D box
    * `[lx, ly, hx, hy]`, the min over the sampled boxes s of
    * `maxBoxDist(box, s) + reach(s)`, widened. Any point of a shape in
    * `box` lies within maxBoxDist of every point of s, so its minDist to
    * a right shape exceeds s's by at most that: the bound holds for any
    * shape, convex or not. `boxes` is the flattened n×4 matrix. */
  def boxReach(box: ArrayData, boxes: Array[Double], reach: Array[Double]): Double = {
    val (lx, ly, hx, hy) = (box.getDouble(0), box.getDouble(1), box.getDouble(2),
      box.getDouble(3))
    var theta = Double.PositiveInfinity
    var s = 0
    while (s < reach.length) {
      val o = 4 * s
      val dx = math.max(math.abs(hx - boxes(o)), math.abs(boxes(o + 2) - lx))
      val dy = math.max(math.abs(hy - boxes(o + 1)), math.abs(boxes(o + 3) - ly))
      val t = math.sqrt(dx * dx + dy * dy) + reach(s)
      if (t < theta) theta = t
      s += 1
    }
    widen(theta)
  }

  /** Two-level [[pivotAdmitted]]: a group whose coarse ball rejects the
    * vector (`d(v, c_g) > groupBands(g)`) is skipped WHOLE — by the
    * triangle inequality `d(v, p_i) >= d(v, c_g) - d(c_g, p_i)`, so
    * with `groupBands(g) = max_i (d(c_g, p_i) + bands(i))` no fine
    * band in the group can admit it. Expected per-row work is
    * O((G + admitting-groups·|group|)·d); the emitted cells (1-based
    * global fine indices) are EXACTLY the flat kernel's set. Groups
    * with no admitting fine cells carry a -inf group band and are
    * skipped like -inf fine bands. */
  def hierPivotAdmitted(v: ArrayData, coarse: Array[Double],
                        pivots: Array[Double], offsets: Array[Int],
                        groupBands: Array[Double], bands: Array[Double],
                        d: Int, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    require(n == d, s"vector dimension mismatch: $n vs pivot dim $d")
    val g = coarse.length / d
    var out = new Array[Int](16)
    var m = 0
    var c = 0
    while (c < g) {
      val gb = groupBands(c)
      if (gb > Double.NegativeInfinity &&
          math.sqrt(sqDistTo(v, coarse, c * d, d, isFloat)) <= gb) {
        var i = offsets(c)
        val end = offsets(c + 1)
        while (i < end) {
          val band = bands(i)
          if (band > Double.NegativeInfinity &&
              math.sqrt(sqDistTo(v, pivots, i * d, d, isFloat)) <= band) {
            if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
            out(m) = i + 1; m += 1
          }
          i += 1
        }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, m))
  }

  /** 1-based indices of the `np` nearest centroids to an
    * integer-quantized vector, ordered by (squared L2, index) — the
    * IVF probe/assign kernel. The per-centroid accumulation is the
    * EXACT IEEE chain of the former literal-column form (dim-order
    * left-to-right sum of `(qv_d - c_d)^2` over double-cast longs) and
    * ties break to the LOWEST index (a stable sort — the
    * `array_position(min)` semantics), so cell choices are bit-stable
    * across the two implementations. */
  def nearestCellsQ(qv: ArrayData, cs: Array[Array[Double]],
                    np: Int): ArrayData = {
    val n = cs.length
    val dim = qv.numElements()
    val dists = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c = cs(i)
      require(c.length == dim,
        s"nearestCellsQ: vector dim $dim vs centroid dim ${c.length}")
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val x = qv.getLong(d).toDouble - c(d)
        acc += x * x
        d += 1
      }
      dists(i) = acc
      i += 1
    }
    val order = Array.range(0, n).sortBy(dists) // stable: ties -> lowest id
    val k = math.min(np, n)
    val out = new Array[Int](k)
    var j = 0
    while (j < k) { out(j) = order(j) + 1; j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-subspace PQ codes (0-based) of an integer-quantized vector:
    * for subspace s, the argmin codeword by (squared L2 over the
    * slice, code index) — the EXACT IEEE chain and lowest-index
    * tie-break of the former literal-column form (per-codeword
    * left-to-right sum of `(qv_j - cw_j)^2` over double-cast longs,
    * `array_position(min)` ties). */
  def pqCodes(qv: ArrayData, books: Array[Array[Array[Double]]],
              subDim: Int): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cws = books(s)
      var best = Double.PositiveInfinity
      var bestC = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val x = qv.getLong(s * subDim + j).toDouble - cw(j)
          acc += x * x
          j += 1
        }
        if (acc < best) { best = acc; bestC = c } // strict <: first min wins
        c += 1
      }
      out(s) = bestC
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `qv - centers(cell)` elementwise over longs — the residual shift
    * of the IVF-PQ encode path (`cell` is the 0-based coarse cell). */
  def centroidShiftL(qv: ArrayData, cell: Int,
                     centers: Array[Array[Long]]): ArrayData = {
    val c = centers(cell)
    val out = new Array[Long](c.length)
    var i = 0
    while (i < c.length) { out(i) = qv.getLong(i) - c(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The query-side residual shift: long quantized vector minus double
    * centroid, elementwise to doubles (`cell` 0-based) — the exact
    * coercion the former zip_with(long, double) literal form did. */
  def centroidShiftD(qv: ArrayData, cell: Int,
                     centers: Array[Array[Double]]): ArrayData = {
    val c = centers(cell)
    val out = new Array[Double](c.length)
    var i = 0
    while (i < c.length) { out(i) = qv.getLong(i).toDouble - c(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC distance of a (possibly residual-shifted) query vector against
    * a row's PQ codes: per subspace the left-to-right `(qv_j - cw_j)^2`
    * sum over the CODED codeword, subspace sums added in subspace
    * order — the exact chain of the former per-subspace
    * aggregate/reduce column form. `longInput` mirrors the coercion:
    * a non-residual query rides the long quantized vector, a shifted
    * one rides doubles. */
  def pqAdc(qv: ArrayData, longInput: Boolean, codes: ArrayData,
            books: Array[Array[Array[Double]]], subDim: Int): Double = {
    val m = books.length
    var total = 0.0
    var s = 0
    while (s < m) {
      val cw = books(s)(codes.getInt(s))
      var acc = 0.0
      var j = 0
      while (j < subDim) {
        val q = if (longInput) qv.getLong(s * subDim + j).toDouble
                else qv.getDouble(s * subDim + j)
        val x = q - cw(j)
        acc += x * x
        j += 1
      }
      total += acc
      s += 1
    }
    total
  }

  /** Weighted-sum projection replicating the PCA scorer's former HOF
    * chain `aggregate(zip_with(v, w, (x, w) => x.cast(double) * w),
    * 0.0, (acc, x) => acc + x)` BIT-FOR-BIT: per-index product
    * `v_i.toDouble * w_i`, sequential left-fold additions from a 0.0
    * seed in index order. The HOF form is CodegenFallback (interpreted,
    * boxed per element — a real k·d-per-row cost at corpus scale); this
    * is one static call inside whole-stage codegen. Null semantics
    * match zip_with's padding + aggregate's null cascade: a null
    * element, or a vector whose length differs from the weight count,
    * yields null (boxed return is the null channel). */
  def projectFold(v: ArrayData, floatInput: Boolean,
                  w: Array[Double]): java.lang.Double = {
    val n = v.numElements()
    if (n != w.length) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (floatInput) v.getFloat(i).toDouble else v.getDouble(i)
      acc += x * w(i)
      i += 1
    }
    acc
  }

  /** Sign-bit sketch: dot the vector against `nPlanes` deterministic
    * pseudo-random hyperplanes (seeded by plane index) and pack the signs
    * into a Long — random-hyperplane LSH for cosine similarity. */
  def hyperplaneSketch(a: ArrayData, nPlanes: Int, seed: Long): Long = {
    require(nPlanes <= 64)
    val n = a.numElements()
    var sketch = 0L
    var p = 0
    while (p < nPlanes) {
      // xorshift64* stream per (seed, plane, dim) — deterministic, cheap.
      var dot = 0.0
      var i = 0
      while (i < n) {
        var h = seed + p * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        // map to (-1, 1): use the high bit for sign, rest for magnitude
        val r = (h >> 11).toDouble / (1L << 52).toDouble // in (-1, 1)
        dot += a.getFloat(i).toDouble * r
        i += 1
      }
      if (dot >= 0) sketch |= 1L << p
      p += 1
    }
    sketch
  }

  /** murmur3's 32-bit avalanche finalizer on a key masked to 32 bits.
    * A bare multiplicative hash's top bit is a golden-ratio ROTATION of
    * the key — quasi-periodic, so sign sequences drawn from it correlate
    * with structured inputs; fmix32's xorshift/multiply rounds give true
    * avalanche. Engine-portable: each wrapping multiply replays in plain
    * 64-bit SQL arithmetic as the two-halves fold
    * `((k // 65536 * C) % 2^32 * 65536 + (k % 65536) * C) % 2^32`
    * (no intermediate exceeds 2^49), and the xorshifts as
    * `xor(k, k // 2^s)`. Callers must pass non-negative keys (SQL `%`
    * truncates toward zero on negatives where this masks). */
  @inline private def fmix32(k0: Long): Long = {
    var k = k0 & 0xffffffffL
    k ^= k >>> 16
    k = k * 0x85ebca6bL & 0xffffffffL // == two-halves fold mod 2^32
    k ^= k >>> 13
    k = k * 0xc2b2ae35L & 0xffffffffL
    k ^= k >>> 16
    k
  }

  /** Squared L2 between a float vector and a float centroid row —
    * EXACTLY the `aggregate(zip_with(v, c, (a,b) => (a-b)²), 0.0, +)`
    * HOF chain of the literal two-level IVF form it replaces
    * (double-cast diffs, ascending-index accumulation from 0.0, no
    * sqrt). */
  @inline private def l2sqFC(v: ArrayData, c: Array[Float]): Double = {
    val n = v.numElements()
    require(n == c.length, s"vector dimension mismatch: $n vs ${c.length}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = v.getFloat(i).toDouble - c(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** sqrt-L2 between a float vector and a float centroid row — the
    * `l2Distance(col, lit(center))` chain ([[l2F]]: double-cast diffs,
    * ascending accumulation, one final sqrt). */
  @inline private def l2FC(v: ArrayData, c: Array[Float]): Double =
    math.sqrt(l2sqFC(v, c))

  /** Two-level IVF cell ASSIGNMENT of a float vector (0-based global
    * cell id `sc * childK + childIdx`): nearest supercell by
    * (sqrt-L2, index) — the `array_position(array_min(__sd))` lowest-
    * index tie-break of the literal form — then that supercell's
    * nearest child by (squared L2, index). Super/child codebooks ride
    * as reference objects; the literal form put an O(nlist·dim)
    * data+expression matrix in the plan, which
    * PushProjectionThroughUnion multiplied per union leg (the r12
    * "planning bomb" rule: literal matrices stay O(100) elements). */
  def twoLevelAssignF(v: ArrayData, sup: Array[Array[Float]],
                      kids: Array[Array[Array[Float]]], childK: Int): Int = {
    var sc = 0; var sbest = Double.PositiveInfinity
    var i = 0
    while (i < sup.length) {
      val d = l2FC(v, sup(i))
      if (d < sbest) { sbest = d; sc = i } // strict < : ties -> lowest
      i += 1
    }
    val cws = kids(sc)
    var cj = 0; var cbest = Double.PositiveInfinity
    var j = 0
    while (j < cws.length) {
      val d = l2sqFC(v, cws(j))
      if (d < cbest) { cbest = d; cj = j }
      j += 1
    }
    sc * childK + cj
  }

  /** Two-level IVF PROBE set of a float vector: the two nearest
    * supercells by (sqrt-L2, index), their children's (squared L2,
    * global id) candidates merged, stably sorted by (dist, id), first
    * `nprobe` global ids returned (0-based) — exactly the literal
    * form's `slice(array_sort(concat(candOf(s1), candOf(s2))), 1,
    * nprobe)`. Returns null when fewer than two supercells exist (the
    * literal form's element_at(...,2) null cascade), so callers route
    * those rows to the starved/naive path identically. */
  def twoLevelProbesF(v: ArrayData, sup: Array[Array[Float]],
                      kids: Array[Array[Array[Float]]], childK: Int,
                      nprobe: Int): ArrayData = {
    if (sup.length < 2) return null
    var s1 = -1; var s2 = -1
    var d1 = Double.PositiveInfinity; var d2 = Double.PositiveInfinity
    var i = 0
    while (i < sup.length) {
      val d = l2FC(v, sup(i))
      // (d, index) ordering with strict < : ties keep the lower index
      if (d < d1) { d2 = d1; s2 = s1; d1 = d; s1 = i }
      else if (d < d2) { d2 = d; s2 = i }
      i += 1
    }
    val a = kids(s1); val b = kids(s2)
    val m = a.length + b.length
    val dist = new Array[Double](m)
    val gid = new Array[Int](m)
    var at = 0
    var j = 0
    while (j < a.length) {
      dist(at) = l2sqFC(v, a(j)); gid(at) = s1 * childK + j; at += 1; j += 1
    }
    j = 0
    while (j < b.length) {
      dist(at) = l2sqFC(v, b(j)); gid(at) = s2 * childK + j; at += 1; j += 1
    }
    // stable sort by (dist, gid) — the struct array_sort semantics
    val order = Array.range(0, m).sortBy(ix => (dist(ix), gid(ix)))
    val k = math.min(nprobe, m)
    val out = new Array[Int](k)
    var o = 0
    while (o < k) { out(o) = gid(order(o)); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Johnson–Lindenstrauss sign projection: `out(j) = Σ_i a(i) ·
    * s(i,j)` with `s(i,j) = +1` when [[fmix32]] of `i·outDim + j +
    * seed` lands in the lower half of the 32-bit range, else `−1` —
    * the Achlioptas ±1 random projection, with the matrix generated
    * from the key instead of stored. Accumulation starts at 0.0 and
    * runs in ascending `i` (the `list_sum` parity shape), so any SQL
    * engine folding the same products in order replays every output
    * coordinate bit-for-bit. */
  def signProject(a: ArrayData, outDim: Int, seed: Long): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val s = if (fmix32(i.toLong * outDim + j + seed) < 2147483648L) 1.0
                else -1.0
        acc += a.getFloat(i).toDouble * s
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
