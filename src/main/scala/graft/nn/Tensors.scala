package graft.nn

import breeze.linalg.DenseMatrix
import java.nio.ByteBuffer

/** Uniform weight/gradient representation: a flat list of matrices.
  *
  * For a dense net of L layers the list has 2L entries:
  * `tensors(2i)` = weight matrix W_i (fanIn x fanOut), `tensors(2i+1)` =
  * bias b_i as a 1 x fanOut matrix. Keeping biases as matrices makes
  * optimizers, codecs and the parameter-server wire format uniform.
  *
  * Mirrors the reference's "weights = list of numpy arrays" model
  * (lifeomic/sparkflow `ml_util.py:9-13`, `ml_util.py:31-40`) with a
  * binary wire codec instead of Python pickle
  * (`HogwildSparkModel.py:27-35`).
  */
object Tensors {
  type Tensors = Array[DenseMatrix[Double]]

  def zerosLike(ts: Tensors): Tensors =
    ts.map(t => DenseMatrix.zeros[Double](t.rows, t.cols))

  def copy(ts: Tensors): Tensors = ts.map(_.copy)

  /** Whether `t`'s backing array holds its values column-major from index
    * 0, as every matrix a GEMM, `fill` or [[fromBytes]] makes does. */
  private[nn] def isPlain(t: DenseMatrix[Double]): Boolean =
    t.offset == 0 && !t.isTranspose && t.majorStride == t.rows

  // ---- binary wire codec: big-endian, as java.io.DataOutput writes ----
  // int count, then per tensor int rows, int cols and rows*cols doubles in
  // column-major order. One exact-size buffer, the doubles bulk-copied.

  def toBytes(ts: Tensors): Array[Byte] = {
    val size = ts.foldLeft(4L)((s, t) => s + 8 + 8L * t.size)
    require(size <= Int.MaxValue, s"$size bytes of tensors do not fit one array")
    val bb = ByteBuffer.allocate(size.toInt) // big-endian
    bb.putInt(ts.length)
    ts.foreach { t =>
      bb.putInt(t.rows).putInt(t.cols)
      val data = if (isPlain(t)) t.data else t.toArray // column-major
      val n = t.size
      val start = bb.position()
      bb.asDoubleBuffer().put(data, 0, n)
      // the bulk copy keeps a NaN's raw bits; DataOutput writes every NaN
      // as the canonical one (doubleToLongBits), and so does this codec
      var i = 0
      while (i < n) {
        val v = data(i)
        if (v != v) bb.putLong(start + 8 * i, java.lang.Double.doubleToLongBits(v))
        i += 1
      }
      bb.position(start + 8 * n)
    }
    bb.array()
  }

  /** Decodes [[toBytes]]. The bytes may come from outside the program
    * (a POST to `/update`), so every declared size is checked against the
    * bytes actually left before anything is allocated for it, and bytes
    * past the last declared tensor are refused. */
  def fromBytes(bytes: Array[Byte]): Tensors = {
    val bb = ByteBuffer.wrap(bytes) // big-endian
    require(bytes.length >= 4,
      s"a tensor payload starts with a 4-byte count, but has ${bytes.length} bytes")
    val n = bb.getInt()
    // each tensor needs at least its 8-byte shape header
    require(n >= 0 && n.toLong * 8 <= bb.remaining(),
      s"declared $n tensors, but only ${bb.remaining()} bytes follow the count")
    val ts = Array.tabulate(n) { k =>
      require(bb.remaining() >= 8,
        s"tensor $k of $n needs an 8-byte shape header, but only ${bb.remaining()} bytes are left")
      val rows = bb.getInt(); val cols = bb.getInt()
      require(rows >= 0 && cols >= 0 && rows.toLong * cols * 8 <= bb.remaining(),
        s"declared a ${rows}x$cols tensor (${rows.toLong * cols * 8} bytes), " +
          s"but only ${bb.remaining()} bytes are left")
      val data = new Array[Double](rows * cols)
      bb.asDoubleBuffer().get(data)
      bb.position(bb.position() + 8 * data.length)
      new DenseMatrix(rows, cols, data) // column-major, as written
    }
    require(!bb.hasRemaining,
      s"${bb.remaining()} bytes follow the last of the $n declared tensors")
    ts
  }

  // ---- JSON codec (nested lists, row-major like numpy.tolist()) ----
  // Parity with convert_weights_to_json / convert_json_to_weights
  // (`ml_util.py:31-40`).

  def toJson(ts: Tensors): String = {
    val sb = new StringBuilder
    sb.append('[')
    ts.zipWithIndex.foreach { case (t, k) =>
      if (k > 0) sb.append(',')
      sb.append('[')
      var r = 0
      while (r < t.rows) {
        if (r > 0) sb.append(',')
        sb.append('[')
        var c = 0
        while (c < t.cols) {
          if (c > 0) sb.append(',')
          val v = t(r, c)
          // bare NaN/Infinity tokens are not legal JSON — quote the
          // non-finite values so a diverged model still round-trips
          // (the codec must be total: persistence is not the place to
          // discover training blew up)
          if (java.lang.Double.isFinite(v)) sb.append(java.lang.Double.toString(v))
          else sb.append('"').append(java.lang.Double.toString(v)).append('"')
          c += 1
        }
        sb.append(']')
        r += 1
      }
      sb.append(']')
    }
    sb.append(']')
    sb.toString
  }

  def fromJson(json: String): Tensors = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JArray(tensors) = JsonMethods.parse(json): @unchecked
    tensors.zipWithIndex.map {
      case (JArray(rows), t) =>
        val rowArrays = rows.map {
          case JArray(cells) =>
            cells.map {
              case JDouble(d)  => d
              case JInt(i)     => i.toDouble
              case JLong(l)    => l.toDouble
              case JDecimal(d) => d.toDouble
              case JString(s)  => java.lang.Double.parseDouble(s) // quoted NaN/±Infinity
              case other       => sys.error(s"bad weight cell: $other")
            }.toArray
          case other => sys.error(s"bad weight row (expected array): $other")
        }.toArray
        val r = rowArrays.length
        val c = if (r == 0) 0 else rowArrays(0).length
        rowArrays.indices.foreach { k =>
          require(rowArrays(k).length == c,
            s"tensor $t row $k has ${rowArrays(k).length} values, but row 0 has $c")
        }
        val m = DenseMatrix.zeros[Double](r, c)
        var i = 0
        while (i < r) { var j = 0; while (j < c) { m(i, j) = rowArrays(i)(j); j += 1 }; i += 1 }
        m
      case (other, _) => sys.error(s"bad tensor (expected array of rows): $other")
    }.toArray
  }
}
