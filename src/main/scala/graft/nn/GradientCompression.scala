package graft.nn

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import breeze.linalg.DenseMatrix
import graft.nn.Tensors.Tensors

/** Top-k gradient sparsification with error feedback — the standard
  * bandwidth lever for parameter-server training (Deep Gradient
  * Compression family): each push sends only the k
  * largest-magnitude gradient entries; everything unsent accumulates in
  * a worker-local RESIDUAL added to the next step's gradient, so
  * information is delayed, never lost, and convergence is preserved.
  *
  * At cluster scale this attacks the training design ceiling named in
  * the round-1 audit: the driver-hosted server serializes whole weight
  * tensors per update (O(model) per push × partitions), saturating the
  * driver NIC first. A k of ~1% of entries cuts push bytes ~50×
  * (4-byte index + 8-byte value per entry vs 8 bytes × all entries).
  *
  * Wire format is self-describing (magic header), so the server accepts
  * dense and sparse pushes interchangeably ([[decodeMaybeSparse]]) and
  * mixed fleets work during rollout.
  */
object GradientCompression {
  /** Magic first-int of a sparse wire payload. Dense [[Tensors.toBytes]]
    * starts with the tensor count (always ≥ 0), so negative ⇒ sparse. */
  private val Magic = -2

  /** One sparse gradient set: per tensor, shape + column-major linear
    * indices + values of the kept entries. */
  case class SparseGrad(rows: Array[Int], cols: Array[Int],
      idx: Array[Array[Int]], vals: Array[Array[Double]]) {
    def nnz: Int = idx.iterator.map(_.length).sum
    def toDense: Tensors =
      Array.tabulate(rows.length) { t =>
        val m = DenseMatrix.zeros[Double](rows(t), cols(t))
        var i = 0
        while (i < idx(t).length) { m.data(idx(t)(i)) = vals(t)(i); i += 1 }
        m
      }
  }

  /** Sparsify `grad + residual` to its k largest-magnitude entries;
    * `residual` is UPDATED IN PLACE to hold everything not sent (kept
    * entries zero out). Deterministic under ties: earlier tensors /
    * lower linear indices win the remaining budget. */
  def sparsifyTopK(grad: Tensors, residual: Tensors, k: Int): SparseGrad = {
    require(grad.length == residual.length, "grad/residual shape mismatch")
    val acc: Tensors = Array.tabulate(grad.length)(i => grad(i) + residual(i))
    // drop non-finite entries OUTRIGHT (hogwild races can produce NaN —
    // see the centered-rmsprop fix): a NaN magnitude would poison the
    // sort threshold (every comparison false ⇒ nothing ever sent again)
    // and, parked in the residual, it would stay NaN forever. Zeroing
    // is the only recoverable choice.
    acc.foreach { m => val d = m.data; var i = 0
      while (i < d.length) { if (!java.lang.Double.isFinite(d(i))) d(i) = 0.0; i += 1 } }
    val total = acc.iterator.map(_.size).sum
    val kk = math.min(k, total)
    if (kk <= 0) {
      // nothing sent, but the contract stands: the whole accumulated
      // gradient parks in the residual for a later push
      var t = 0
      while (t < acc.length) {
        System.arraycopy(acc(t).data, 0, residual(t).data, 0, acc(t).data.length); t += 1
      }
      return SparseGrad(grad.map(_.rows), grad.map(_.cols),
        grad.map(_ => Array.empty[Int]), grad.map(_ => Array.empty[Double]))
    }
    // threshold = kk-th largest |value| over ALL entries (global top-k,
    // not per-tensor: biases and hot layers compete fairly)
    val mags = new Array[Double](total)
    var p = 0
    acc.foreach { m => val d = m.data; var i = 0
      while (i < d.length) { mags(p) = math.abs(d(i)); p += 1; i += 1 } }
    java.util.Arrays.sort(mags)
    val thr = mags(total - kk)
    val strictOver = {
      // entries strictly above thr always go; ties at thr share the rest
      var c = 0; var i = total - 1
      while (i >= 0 && mags(i) > thr) { c += 1; i -= 1 }
      c
    }
    var tieBudget = kk - strictOver
    val idx = Array.ofDim[Array[Int]](acc.length)
    val vals = Array.ofDim[Array[Double]](acc.length)
    var t = 0
    while (t < acc.length) {
      val d = acc(t).data
      val ib = Array.newBuilder[Int]; val vb = Array.newBuilder[Double]
      var i = 0
      while (i < d.length) {
        val a = math.abs(d(i))
        val take = a > thr || (a == thr && tieBudget > 0 && { tieBudget -= 1; true })
        if (take) { ib += i; vb += d(i); residual(t).data(i) = 0.0 }
        else residual(t).data(i) = d(i)
        i += 1
      }
      idx(t) = ib.result(); vals(t) = vb.result()
      t += 1
    }
    SparseGrad(grad.map(_.rows), grad.map(_.cols), idx, vals)
  }

  def toBytes(s: SparseGrad): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    out.writeInt(s.rows.length)
    var t = 0
    while (t < s.rows.length) {
      out.writeInt(s.rows(t)); out.writeInt(s.cols(t)); out.writeInt(s.idx(t).length)
      s.idx(t).foreach(out.writeInt)
      s.vals(t).foreach(out.writeDouble)
      t += 1
    }
    out.flush()
    bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): SparseGrad = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a sparse gradient payload")
    val n = in.readInt()
    val rows = new Array[Int](n); val cols = new Array[Int](n)
    val idx = new Array[Array[Int]](n); val vals = new Array[Array[Double]](n)
    var t = 0
    while (t < n) {
      rows(t) = in.readInt(); cols(t) = in.readInt()
      val nnz = in.readInt()
      idx(t) = Array.fill(nnz)(in.readInt())
      vals(t) = Array.fill(nnz)(in.readDouble())
      t += 1
    }
    SparseGrad(rows, cols, idx, vals)
  }

  /** Server-side decode of either wire form: a sparse payload (magic
    * header) densifies, anything else is the plain dense codec. */
  def decodeMaybeSparse(bytes: Array[Byte]): Tensors = {
    val head = if (bytes.length >= 4)
      (bytes(0) & 0xFF) << 24 | (bytes(1) & 0xFF) << 16 |
        (bytes(2) & 0xFF) << 8 | (bytes(3) & 0xFF)
    else 0
    if (head == Magic) fromBytes(bytes).toDense
    else Tensors.fromBytes(bytes)
  }
}
