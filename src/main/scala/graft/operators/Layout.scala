package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout and skew utilities — the knobs that decide whether a
  * plan survives a 100× scale-up:
  *
  *  - salted joins: a hot key (one customer with millions of rows) turns a
  *    shuffle join into a single straggler task. Salting splits the hot
  *    side into `salts` subkeys and replicates the small side per salt, so
  *    the hot key spreads over `salts` tasks. (AQE's skew-join handles
  *    sort-merge cases at runtime; explicit salting is the declarative
  *    fallback for when the small side can't broadcast.)
  *  - bucketed tables: pre-shuffling both join sides into the same
  *    bucketing removes the per-query shuffle entirely — bucket joins read
  *    co-located buckets. Worth it for dimensions joined every query.
  */
object Layout {

  /** Join `big` to `small` on `key`, salting the big side into `salts`
    * subkeys and exploding the small side to match. Result equals a plain
    * inner join on `key`; the shuffle distributes each key over `salts`
    * partitions. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val salt = "__graft_salt" // collision-proof temp name
    val b = big.withColumn(salt, pmod(hash(monotonically_increasing_id()), lit(salts)))
    val s = small.withColumn(salt, explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, salt)).drop(salt)
  }

  /** Write a bucketed + sorted copy of `df` as a table so repeated
    * joins/aggregations on `key` skip their shuffle (bucket pruning +
    * co-located join). The table is managed, under the session's
    * warehouse, unless `path` names where to store it. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(w.option("path", _)).saveAsTable(table)
  }

  /** Top-N most frequent values of `key` with counts — the skew report
    * you run before deciding to salt. One pass, partial-aggregated. */
  def skewReport(df: DataFrame, key: String, topN: Int = 10): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(topN)

  /** Z-order (Morton) key over two numeric dimensions: each value is
    * equal-width-bucketed to `bits` bits between its [lo, hi] bounds,
    * then the bucket bits interleave (a₃b₃a₂b₂a₁b₁a₀b₀). Sorting a
    * table by this key clusters BOTH dimensions at once, so parquet
    * row-group/file min-max stats stay tight on each dimension
    * separately — a box predicate prunes files on either dim, where a
    * linear sort only ever prunes its leading column. Pure codegen'd
    * builtins (width_bucket + shifts + bitwise or): no UDF in the
    * write path. Bounds come from the caller (one cheap agg, or known
    * domain) — equal-width is the right trade for layout: rank-based
    * (ntile) normalization would cost a global sort per dimension
    * before the layout sort itself. */
  def zorderKey(a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 16, s"bits=$bits out of [1,16]")
    val n = 1 << bits
    // width_bucket returns 1..n+1 (n+1 for the hi edge); clamp to 0..n-1
    def bucket(c: Column, lo: Double, hi: Double): Column =
      least(greatest(width_bucket(c.cast("double"), lit(lo), lit(hi), lit(n)) - 1,
        lit(0L)), lit((n - 1).toLong))
    val ab = bucket(a, aLo, aHi)
    val bb = bucket(b, bLo, bHi)
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(ab, i).bitwiseAND(1L), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftrightunsigned(bb, i).bitwiseAND(1L), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** Hilbert-curve key over two numeric dimensions — the z-order
    * sibling with strictly better locality: the Hilbert curve is
    * CONTINUOUS (consecutive keys are always Manhattan-adjacent cells,
    * asserted in spec), so a file owning a contiguous key range covers
    * one compact blob of the plane, while Morton order teleports across
    * half the domain at power-of-two boundaries and drags a file's
    * min-max box with it. Same contract as [[zorderKey]]: equal-width
    * bucketing to `bits` bits per dim, caller-supplied bounds.
    *
    * The iterative rotate/flip state of the Hilbert mapping would
    * explode as a Catalyst expression tree (each of the `bits` steps
    * rewrites both coordinates), so the whole 2-D mapping is
    * precomputed into a 4^bits lookup table evaluated UDF-free via
    * `element_at(lit(table), bucketA * n + bucketB + 1)` — ≤ 256 KB in
    * the plan at the bits=8 cap, a one-time cost in a write-path job. */
  def hilbertKey(a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 8, s"bits=$bits out of [1,8]")
    val n = 1 << bits
    def bucket(c: Column, lo: Double, hi: Double): Column =
      least(greatest(width_bucket(c.cast("double"), lit(lo), lit(hi), lit(n)) - 1,
        lit(0L)), lit((n - 1).toLong))
    val table: Array[Long] = {
      val t = new Array[Long](n * n)
      var x = 0
      while (x < n) {
        var y = 0
        while (y < n) { t(x * n + y) = hilbertD(n, x, y); y += 1 }
        x += 1
      }
      t
    }
    element_at(lit(table), (bucket(a, aLo, aHi) * n + bucket(b, bLo, bHi) + 1).cast("int"))
  }

  /** Standard xy→d Hilbert walk (rotate/flip per scale level). */
  private[operators] def hilbertD(n: Int, x0: Int, y0: Int): Long = {
    var (x, y) = (x0, y0)
    var d = 0L
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  /** [[writeZordered]]'s Hilbert twin. */
  def writeHilbertOrdered(df: DataFrame, path: String,
      colA: String, aLo: Double, aHi: Double,
      colB: String, bLo: Double, bHi: Double,
      files: Int, bits: Int = 8): Unit = {
    val hk = "__graft_hkey"
    df.withColumn(hk, hilbertKey(col(colA), aLo, aHi, col(colB), bLo, bHi, bits))
      .repartitionByRange(files, col(hk))
      .sortWithinPartitions(col(hk))
      .drop(hk)
      .write.mode("overwrite").parquet(path)
  }

  /** Write `df` clustered by the z-order of (`colA`, `colB`):
    * range-partition on the z-key (so files own contiguous z-ranges),
    * sort within partitions, drop the key. `files` controls output file
    * count. Read-side pruning then works through the ordinary min-max
    * stats of the data columns themselves — no reader cooperation
    * needed, which is what makes z-ordering a pure layout decision. */
  def writeZordered(df: DataFrame, path: String,
      colA: String, aLo: Double, aHi: Double,
      colB: String, bLo: Double, bHi: Double,
      files: Int, bits: Int = 8): Unit = {
    val zk = "__graft_zkey"
    df.withColumn(zk, zorderKey(col(colA), aLo, aHi, col(colB), bLo, bHi, bits))
      .repartitionByRange(files, col(zk))
      .sortWithinPartitions(col(zk))
      .drop(zk)
      .write.mode("overwrite").parquet(path)
  }
}
