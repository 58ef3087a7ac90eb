package graft.nn

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** [[Gemm.mul]] against a naive triple loop in the order it promises, bit
  * for bit, on plain, transposed and sliced operands of every shape class
  * the kernel treats apart: odd inner sizes, output column counts of every
  * remainder mod 4, several row and inner blocks, and both product paths. */
class GemmSpec extends AnyFunSuite {
  import GemmSpec.mm

  private def bits(m: DenseMatrix[Double]): Seq[Long] =
    m.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq

  private def gaussian(rng: Random, rows: Int, cols: Int): DenseMatrix[Double] =
    DenseMatrix.fill(rows, cols)(rng.nextGaussian())

  private def assertContractOrder(a: DenseMatrix[Double], b: DenseMatrix[Double], what: String): Unit = {
    val c = Gemm.mul(a, b)
    assert((c.rows, c.cols) == ((a.rows, b.cols)), what)
    assert(bits(c) == bits(mm(a, b)), what)
  }

  test("plain operands: row counts 0 to 500, odd and even inner sizes, every column count mod 4") {
    val rng = new Random(1)
    for (rows <- Seq(0, 1, 3, 16, 256, 500); inner <- Seq(0, 1, 4, 7, 64); cols <- Seq(0, 1, 2, 3, 4, 9)) {
      assertContractOrder(gaussian(rng, rows, inner), gaussian(rng, inner, cols),
        s"${rows}x$inner * ${inner}x$cols")
    }
  }

  test("transposed and offset/strided views on either side") {
    val rng = new Random(2)
    val big = gaussian(rng, 12, 14)
    val slice = big(1 until 6, 2 until 9) // 5x7 at offset 25, stride 12
    val tSlice = big.t(3 until 10, 1 until 4) // a transposed view with an offset
    assert(slice.offset > 0 && slice.majorStride == 12 && tSlice.isTranspose && tSlice.offset > 0)
    val cases = Seq(
      "slice * plain" -> (slice, gaussian(rng, 7, 6)),
      "plain * slice" -> (gaussian(rng, 3, 5), slice),
      "slice.t * plain" -> (slice.t, gaussian(rng, 5, 7)),
      "plain * slice.t" -> (gaussian(rng, 9, 7), slice.t),
      "slice.t * slice" -> (slice.t, slice),
      "plain.t * plain.t" -> (gaussian(rng, 11, 6).t, gaussian(rng, 5, 11).t),
      "transposed slice * transposed slice" -> (tSlice, big.t(0 until 3, 2 until 7)))
    for ((what, (a, b)) <- cases) assertContractOrder(a, b, what)
  }

  test("blocked shapes: several row and inner blocks, and both paths of the aᵀ·b layout") {
    val rng = new Random(4)
    // 1100 rows = two full 512-row blocks and a partial one; 521 inner
    // indices = two full 256-index blocks and an odd remainder.
    for ((rows, inner, cols) <- Seq((1100, 9, 6), (40, 521, 7), (1100, 521, 5)))
      assertContractOrder(gaussian(rng, rows, inner), gaussian(rng, inner, cols),
        s"${rows}x$inner * ${inner}x$cols")
    // aᵀ·b with a small output takes the dot path, a larger one the packed
    // path; every row and column count mod 4, long inner sizes.
    for ((rows, inner, cols) <- Seq((1, 5, 1), (9, 3600, 8), (5, 700, 3), (32, 400, 16), (25, 600, 22),
        (26, 521, 30), (64, 300, 9)))
      assertContractOrder(gaussian(rng, inner, rows).t, gaussian(rng, inner, cols),
        s"(${inner}x$rows).t * ${inner}x$cols")
  }

  test("each row of a 500-row product equals that row computed alone") {
    val rng = new Random(3)
    val x = gaussian(rng, 500, 64)
    val w = gaussian(rng, 64, 256)
    val block = Gemm.mul(x, w)
    for (r <- 0 until x.rows)
      assert(bits(block(r to r, ::).copy) == bits(Gemm.mul(x(r to r, ::).copy, w)), s"row $r")
  }

  test("mismatched inner dimensions throw, naming both shapes") {
    val e = intercept[IllegalArgumentException](
      Gemm.mul(DenseMatrix.zeros[Double](2, 3), DenseMatrix.zeros[Double](4, 5)))
    assert(e.getMessage.contains("2x3") && e.getMessage.contains("4x5"), e.getMessage)
  }
}

object GemmSpec {
  /** `a * b` with each element summed from 0.0 over the inner index in
    * ascending order: the order [[Gemm]] promises, written independently
    * of it. */
  def mm(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    require(a.cols == b.rows)
    DenseMatrix.tabulate(a.rows, b.cols) { (i, j) =>
      var s = 0.0
      var p = 0
      while (p < a.cols) { s = s + a(i, p) * b(p, j); p += 1 }
      s
    }
  }
}
