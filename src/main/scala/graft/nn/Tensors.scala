package graft.nn

import breeze.linalg.DenseMatrix
import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, ByteArrayInputStream}

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

  // ---- binary wire codec (little-endian-free: DataOutput big-endian) ----

  def toBytes(ts: Tensors): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(ts.length)
    ts.foreach { t =>
      out.writeInt(t.rows); out.writeInt(t.cols)
      val data = t.toDenseMatrix.toArray // column-major
      var i = 0
      while (i < data.length) { out.writeDouble(data(i)); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }

  /** Decodes [[toBytes]]. The bytes may come from outside the program
    * (a POST to `/update`), so every declared size is checked against the
    * bytes actually left before anything is allocated for it. */
  def fromBytes(bytes: Array[Byte]): Tensors = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    // each tensor needs at least its 8-byte shape header
    require(n >= 0 && n.toLong * 8 <= in.available(),
      s"declared $n tensors, but only ${in.available()} bytes follow the count")
    Array.fill(n) {
      val rows = in.readInt(); val cols = in.readInt()
      require(rows >= 0 && cols >= 0 && rows.toLong * cols * 8 <= in.available(),
        s"declared a ${rows}x$cols tensor (${rows.toLong * cols * 8} bytes), " +
          s"but only ${in.available()} bytes are left")
      val data = new Array[Double](rows * cols)
      var i = 0
      while (i < data.length) { data(i) = in.readDouble(); i += 1 }
      new DenseMatrix(rows, cols, data) // column-major, matches toArray
    }
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
