package graft.nn

import breeze.linalg.DenseMatrix

/** The one matrix product of [[Network]], in plain Scala for the JIT's
  * auto-vectoriser, blocked in the style of Goto & van de Geijn
  * ("Anatomy of High-Performance Matrix Multiplication", TOMS 2008).
  *
  * Order contract: `c(i, j) = (((0.0 + a(i,0)*b(0,j)) + a(i,1)*b(1,j)) + ...)`,
  * summed over the inner index in ascending order. The order is the same
  * for every path, row count, vector width, block and column group, and
  * Java never fuses `a*b + c` into an FMA, so a row's result does not
  * depend on the block it is computed in: one-row and block inference agree
  * bit for bit. Blocking only pauses a sum: the partial is parked as the
  * exact double and the next block adds on to it.
  *
  * Two paths, both in that order:
  *  - packed (every product but the one below): for each block of
  *    [[BlockRows]] rows and [[BlockInner]] inner indices, each column of
  *    `a` is copied into its own array, and four output columns accumulate
  *    at once, in four separate arrays, two inner indices per pass. The
  *    inner loop runs down the rows; with every operand in its own array,
  *    C2's SuperWord packs it into vector instructions (offsets into one
  *    shared array were not packed).
  *  - dot (`aᵀ·b` layout with at most [[DotOutput]] outputs, the weight
  *    gradient `patchesᵀ·dZ` of a small conv layer): rows of `a` and
  *    columns of `b` are contiguous, the inner size is long and the rows
  *    few, too few for the packed path's vector loop, so it sums 4×4
  *    blocks of dot products in scalar registers straight from the
  *    operands' arrays.
  *
  * Column groups and 4×4 blocks past the last row or column are clamped
  * onto it: they recompute that row or column in the same order and store
  * the same bits again, so no remainder loop is needed.
  */
object Gemm {

  /** Rows per block: four accumulators and two packed columns of this
    * length (24 KB) stay in L1. */
  private val BlockRows = 512

  /** Inner indices per block: a `BlockRows × BlockInner` panel of `a`
    * (1 MB) stays in L2. */
  private val BlockInner = 256

  /** Largest output the dot path takes: 32 of its 4×4 blocks. It ran ×2–5
    * faster than the packed path on 9×8 and 32×16 outputs, and ×1.4 slower
    * on a 25×32 one over 57,600 inner indices, where it has no inner
    * blocking to keep its operands in cache. */
  private val DotOutput = 512

  /** `a * b` for any Breeze view: plain, transposed (`.t`) or sliced. */
  def mul(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    require(a.cols == b.rows,
      s"inner dimensions differ: ${a.rows}x${a.cols} * ${b.rows}x${b.cols}")
    if (a.isTranspose && !b.isTranspose && a.rows * b.cols <= DotOutput) dots(a, b)
    else packed(a, b)
  }

  private def packed(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val m = a.rows
    val k = a.cols
    val n = b.cols
    val out = new Array[Double](m * n)
    val rows = math.min(BlockRows, m)
    val cols = Array.fill(math.min(BlockInner, k))(new Array[Double](rows))
    val c0, c1, c2, c3 = new Array[Double](rows)
    var i0 = 0
    while (i0 < m) {
      val mi = math.min(rows, m - i0)
      var p0 = 0
      while (p0 < k) {
        val p1 = math.min(k, p0 + BlockInner)
        var p = p0
        while (p < p1) { pack(a, i0, mi, p, cols(p - p0)); p += 1 }
        var j = 0
        while (j < n) {
          val j1 = math.min(j + 1, n - 1)
          val j2 = math.min(j + 2, n - 1)
          val j3 = math.min(j + 3, n - 1)
          System.arraycopy(out, j * m + i0, c0, 0, mi)
          System.arraycopy(out, j1 * m + i0, c1, 0, mi)
          System.arraycopy(out, j2 * m + i0, c2, 0, mi)
          System.arraycopy(out, j3 * m + i0, c3, 0, mi)
          p = p0
          while (p + 2 <= p1) {
            val u = cols(p - p0)
            val v = cols(p + 1 - p0)
            val s00 = at(b, p, j); val s01 = at(b, p, j1); val s02 = at(b, p, j2); val s03 = at(b, p, j3)
            val s10 = at(b, p + 1, j); val s11 = at(b, p + 1, j1); val s12 = at(b, p + 1, j2); val s13 = at(b, p + 1, j3)
            var i = 0
            while (i < mi) {
              val ui = u(i)
              val vi = v(i)
              c0(i) = (c0(i) + ui * s00) + vi * s10
              c1(i) = (c1(i) + ui * s01) + vi * s11
              c2(i) = (c2(i) + ui * s02) + vi * s12
              c3(i) = (c3(i) + ui * s03) + vi * s13
              i += 1
            }
            p += 2
          }
          if (p < p1) {
            val u = cols(p - p0)
            val s00 = at(b, p, j); val s01 = at(b, p, j1); val s02 = at(b, p, j2); val s03 = at(b, p, j3)
            var i = 0
            while (i < mi) {
              val ui = u(i)
              c0(i) = c0(i) + ui * s00
              c1(i) = c1(i) + ui * s01
              c2(i) = c2(i) + ui * s02
              c3(i) = c3(i) + ui * s03
              i += 1
            }
          }
          System.arraycopy(c0, 0, out, j * m + i0, mi)
          System.arraycopy(c1, 0, out, j1 * m + i0, mi)
          System.arraycopy(c2, 0, out, j2 * m + i0, mi)
          System.arraycopy(c3, 0, out, j3 * m + i0, mi)
          j += 4
        }
        p0 = p1
      }
      i0 += mi
    }
    new DenseMatrix(m, n, out)
  }

  /** Element (r, c) of a Breeze view, read from its backing array. Breeze's
    * own `x(r, c)` also checks bounds and wraps negative indices; on one- to
    * sixteen-row products, where these reads are a large share of the work,
    * that made the whole product up to 1.5× slower. */
  private def at(x: DenseMatrix[Double], r: Int, c: Int): Double =
    if (x.isTranspose) x.data(x.offset + c + r * x.majorStride)
    else x.data(x.offset + r + c * x.majorStride)

  /** Rows `i0 until i0 + mi` of column `p` of `x` into `col`. Spelled out
    * rather than as a Breeze slice copy (`x(i0 until i0 + mi, p).toArray`),
    * which made conv-sized products up to 1.4× slower. */
  private def pack(x: DenseMatrix[Double], i0: Int, mi: Int, p: Int, col: Array[Double]): Unit =
    if (!x.isTranspose) System.arraycopy(x.data, x.offset + i0 + p * x.majorStride, col, 0, mi)
    else {
      var i = 0
      while (i < mi) { col(i) = x.data(x.offset + p + (i0 + i) * x.majorStride); i += 1 }
    }

  private def dots(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val m = a.rows
    val k = a.cols
    val n = b.cols
    val ad = a.data
    val bd = b.data
    val out = new Array[Double](m * n)
    var i = 0
    while (i < m) {
      val i1 = math.min(i + 1, m - 1)
      val i2 = math.min(i + 2, m - 1)
      val i3 = math.min(i + 3, m - 1)
      val a0 = a.offset + i * a.majorStride
      val a1 = a.offset + i1 * a.majorStride
      val a2 = a.offset + i2 * a.majorStride
      val a3 = a.offset + i3 * a.majorStride
      var j = 0
      while (j < n) {
        val j1 = math.min(j + 1, n - 1)
        val j2 = math.min(j + 2, n - 1)
        val j3 = math.min(j + 3, n - 1)
        val b0 = b.offset + j * b.majorStride
        val b1 = b.offset + j1 * b.majorStride
        val b2 = b.offset + j2 * b.majorStride
        val b3 = b.offset + j3 * b.majorStride
        var s00, s01, s02, s03, s10, s11, s12, s13 = 0.0
        var s20, s21, s22, s23, s30, s31, s32, s33 = 0.0
        var p = 0
        while (p < k) {
          val x0 = ad(a0 + p); val x1 = ad(a1 + p); val x2 = ad(a2 + p); val x3 = ad(a3 + p)
          val y0 = bd(b0 + p); val y1 = bd(b1 + p); val y2 = bd(b2 + p); val y3 = bd(b3 + p)
          s00 += x0 * y0; s01 += x0 * y1; s02 += x0 * y2; s03 += x0 * y3
          s10 += x1 * y0; s11 += x1 * y1; s12 += x1 * y2; s13 += x1 * y3
          s20 += x2 * y0; s21 += x2 * y1; s22 += x2 * y2; s23 += x2 * y3
          s30 += x3 * y0; s31 += x3 * y1; s32 += x3 * y2; s33 += x3 * y3
          p += 1
        }
        out(j * m + i) = s00; out(j1 * m + i) = s01; out(j2 * m + i) = s02; out(j3 * m + i) = s03
        out(j * m + i1) = s10; out(j1 * m + i1) = s11; out(j2 * m + i1) = s12; out(j3 * m + i1) = s13
        out(j * m + i2) = s20; out(j1 * m + i2) = s21; out(j2 * m + i2) = s22; out(j3 * m + i2) = s23
        out(j * m + i3) = s30; out(j1 * m + i3) = s31; out(j2 * m + i3) = s32; out(j3 * m + i3) = s33
        j += 4
      }
      i += 4
    }
    new DenseMatrix(m, n, out)
  }
}
