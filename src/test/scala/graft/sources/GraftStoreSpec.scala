package graft.sources

import java.nio.file.Files

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft-store: manifest-committed snapshot store — round-trips,
  * append/overwrite snapshot semantics, manifest-gated visibility,
  * schema-drift rejection, pruning, vacuum. */
class GraftStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def tmp(): String = Files.createTempDirectory("gstore").toString + "/store"

  private def rows(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map {
        case a: Seq[_] => a.mkString("[", ",", "]")
        case b: Array[Byte] => b.mkString("<", ",", ">")
        case v => String.valueOf(v)
      }.mkString("|")).toSet
  }

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("documents round-trip (strings + longs), read via format shortName") {
    val dir = tmp()
    GraftStore.write(docs, dir)
    val back = spark.read.format("graft-store").load(dir)
    assert(back.count() == docs.count())
    assert(rows(back) == rows(docs))
  }

  test("array<float> embeddings and null values round-trip") {
    val dir = tmp()
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("maybe", when(col("vec_id") % 2 === 0, col("vec_id").cast("double")))
    GraftStore.write(df, dir)
    val back = GraftStore.read(spark, dir)
    assert(rows(back) == rows(df))
    assert(back.where(col("maybe").isNull).count() == df.where(col("maybe").isNull).count())
  }

  test("snapshots() metadata table reports exact per-version history off the manifests") {
    import spark.implicits._
    val root = tmp()
    GraftStore.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, overwrite = true)
    GraftStore.write(Seq((3L, "c")).toDF("k", "s"), root)
    GraftStore.write(Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "s"), root)
    val h = GraftStore.snapshots(spark, root).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "contiguous versions")
    assert(h.map(r => r.getLong(2)).toSeq == Seq(2L, 3L, 6L), "exact row counts")
    // file counts never shrink across appends; every snapshot has bytes
    val files = h.map(_.getLong(1))
    assert(files.sliding(2).forall(p => p(0) <= p(1)), files.toSeq.toString)
    assert(h.forall(_.getLong(3) > 0), "bytes recorded per version")
    // the walk never opens data files: history of a vacuumed-tag store
    // still reads (manifests are retained even when data files age out)
    assert(GraftStore.snapshots(spark, root).count() == 3)
  }

  test("append adds a snapshot; overwrite replaces it") {
    val dir = tmp()
    val a = docs.limit(10)
    val b = docs.orderBy(col("doc_id").desc).limit(5)
    GraftStore.write(a, dir)
    GraftStore.write(b, dir)
    assert(GraftStore.read(spark, dir).count() == 15)
    GraftStore.write(b, dir, overwrite = true)
    assert(rows(GraftStore.read(spark, dir)) == rows(b))
  }

  test("uncommitted data files are invisible (manifest gates visibility)") {
    val dir = tmp()
    GraftStore.write(docs.limit(7), dir)
    // simulate an orphan from a failed/speculative attempt: copy a real
    // data file under a new name WITHOUT touching the manifest
    val data = new java.io.File(dir, "data")
    val part = data.listFiles().head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(data, "orphan-attempt.gsb").toPath)
    assert(GraftStore.read(spark, dir).count() == 7)
  }

  test("a failed batch append aborts: version unchanged, committed tasks' files deleted") {
    val dir = tmp()
    // partition 3 throws after the others have committed their files
    val boom = udf { (id: Long) =>
      if (org.apache.spark.TaskContext.getPartitionId() == 3) {
        Thread.sleep(1500); throw new IllegalStateException("partition 3 fails")
      }
      id
    }
    def frame(parts: Int) = spark.range(0, 100, 1, parts).select(boom(col("id")).as("k"))
    GraftStore.write(frame(1), dir)
    val data = new java.io.File(dir, "data")
    def gsb() = data.listFiles().map(_.getName).filter(_.endsWith(".gsb")).toSet
    val before = gsb()
    val sc = spark.sparkContext
    sc.setJobGroup("gstore-abort", "append with one failing partition")
    try intercept[Exception](GraftStore.write(frame(4), dir))
    finally sc.clearJobGroup()
    // some tasks of the failed job did commit, so abort had files to delete
    def completedTasks = sc.statusTracker.getJobIdsForGroup("gstore-abort").toSeq
      .flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds)
      .flatMap(sc.statusTracker.getStageInfo(_)).map(_.numCompletedTasks).sum
    val deadline = System.currentTimeMillis() + 10000
    while (completedTasks == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(completedTasks >= 1)
    assert(GraftStore.currentVersion(dir) == Some(1L))
    assert(gsb() == before)
    assert(GraftStore.read(spark, dir).count() == 100)
  }

  test("append with drifted schema fails before writing") {
    val dir = tmp()
    GraftStore.write(docs.limit(3), dir)
    // lit(1L) is non-nullable: NOT a legal evolution (old files could
    // never supply a value), so the append must still fail fast
    val bad = docs.limit(2).withColumn("extra", lit(1L))
    val e = intercept[Exception] { GraftStore.write(bad, dir) }
    assert(e.getMessage.contains("schema"), e.getMessage)
    assert(GraftStore.read(spark, dir).count() == 3)
    // a type change on a stored column is equally illegal
    val retyped = docs.limit(2)
      .withColumn("doc_id", col("doc_id").cast("string"))
    val e2 = intercept[Exception] { GraftStore.write(retyped, dir) }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    // and so is dropping a stored column
    val dropped = docs.limit(2).drop("lang")
    val e3 = intercept[Exception] { GraftStore.write(dropped, dir) }
    assert(e3.getMessage.contains("schema"), e3.getMessage)
  }

  test("schema evolution: a nullable new column widens the snapshot; old files null-fill") {
    val dir = tmp()
    GraftStore.write(docs.limit(3), dir)                       // v1: base schema
    val evolved = docs.limit(2)
      .withColumn("score", when(col("doc_id") >= 0, col("doc_id") * 2.0))
    GraftStore.write(evolved, dir)                             // v2: + nullable score
    val latest = GraftStore.read(spark, dir)
    assert(latest.columns.toSeq ==
      docs.columns.toSeq :+ "score") // stored order kept, new col appended
    assert(latest.count() == 5)
    // the 2 evolved rows carry values; the 3 pre-evolution rows are null
    assert(latest.filter(col("score").isNull).count() == 3)
    assert(latest.filter(col("score") === col("doc_id") * 2.0).count() == 2)
    // time travel: v1 still reads with the ORIGINAL schema
    val v1 = spark.read.format("graft-store").option("version", 1).load(dir)
    assert(v1.columns.toSeq == docs.columns.toSeq && v1.count() == 3)
    // and a post-evolution append using the widened schema is plain
    GraftStore.write(evolved, dir)                             // v3
    assert(GraftStore.read(spark, dir).count() == 7)
  }

  test("column pruning reports the narrow read schema") {
    val dir = tmp()
    GraftStore.write(docs.limit(20), dir)
    val pruned = GraftStore.read(spark, dir).select("doc_id", "lang")
    assert(rows(pruned) == rows(docs.limit(20).select("doc_id", "lang")))
    val scanDesc = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("doc_id"))
    assert(!scanDesc.toLowerCase.contains("readschema: struct<doc_id:bigint,text"))
  }

  test("vacuum removes orphans and overwritten snapshots, keeps live files") {
    val dir = tmp()
    GraftStore.write(docs.limit(10), dir)
    GraftStore.write(docs.limit(4), dir, overwrite = true) // v1 files now dead
    val data = new java.io.File(dir, "data")
    // count .gsb only: the local FS keeps hidden .crc sidecars that
    // vanish together with their data file
    def gsb() = data.listFiles().count(_.getName.endsWith(".gsb"))
    val before = gsb()
    val removed = GraftStore.vacuum(dir, graceMs = 0L)
    assert(removed > 0 && gsb() == before - removed)
    assert(rows(GraftStore.read(spark, dir)) == rows(docs.limit(4)))
  }

  test("expireSnapshots bounds manifest history; tags and latest survive; chunks free up") {
    import spark.implicits._
    val dir = tmp()
    GraftStore.write(Seq(1L, 2L).toDF("k"), dir, overwrite = true)   // v1
    GraftStore.tag(dir, "pin1")
    GraftStore.write(Seq(3L).toDF("k"), dir, overwrite = true)       // v2
    GraftStore.write(Seq(4L).toDF("k"), dir)                         // v3 (append)
    GraftStore.write(Seq(5L).toDF("k"), dir, overwrite = true)       // v4
    val expired = GraftStore.expireSnapshots(dir, keepLast = 1)
    assert(expired == 2L, s"v2+v3 should expire (v1 tagged, v4 latest): $expired")
    // latest + tag read back exactly; expired versions are gone by number
    assert(rows(GraftStore.read(spark, dir)) == Set("5"))
    assert(rows(spark.read.format("graft-store").option("ref", "pin1").load(dir))
      == Set("1", "2"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-store").option("version", 2L).load(dir).collect()
    }
    // history walk shows only the survivors
    assert(GraftStore.snapshots(spark, dir).collect().map(_.getLong(0)).toSet
      == Set(1L, 4L))
    // vacuum now collects the expired snapshots' data files
    assert(GraftStore.vacuum(dir, graceMs = 0L) >= 2L)
    assert(rows(GraftStore.read(spark, dir)) == Set("5"))
    // keepLast must keep at least the latest
    intercept[IllegalArgumentException] { GraftStore.expireSnapshots(dir, 0) }
  }

  test("vacuum grace window protects fresh orphans (in-flight commit safety)") {
    val dir = tmp()
    GraftStore.write(docs.limit(10), dir)
    GraftStore.write(docs.limit(4), dir, overwrite = true) // v1 files now dead
    val data = new java.io.File(dir, "data")
    def gsb() = data.listFiles().count(_.getName.endsWith(".gsb"))
    val before = gsb()
    // default grace: everything here is seconds old → nothing removed
    assert(GraftStore.vacuum(dir) == 0L && gsb() == before)
    // explicit zero-grace (single-writer) GC still works
    assert(GraftStore.vacuum(dir, graceMs = 0L) > 0 && gsb() < before)
  }

  test("manifestSummaryAt rejects a torn manifest whose tail merely contains 'end'") {
    val dir = tmp()
    GraftStore.write(docs.limit(3), dir) // v1 complete
    // craft a torn v2: no terminator LINE, but the truncated tail ends
    // in a token containing "end" (a 'weekend' relPath)
    val mdir = java.nio.file.Paths.get(dir, "manifest")
    val torn = mdir.resolve(f"v${2L}%020d.manifest")
    val schemaJson = GraftStore.latestManifest(dir, GraftStore.driverConf()).get.schema.json
    java.nio.file.Files.write(torn,
      s"2\nschema=$schemaJson\nsummary=1\t1\t1\nfile=data/weekend".getBytes("UTF-8"))
    assert(GraftStore.manifestSummaryAt(dir, GraftStore.driverConf(), 2L).isEmpty,
      "torn manifest with 'end'-suffixed tail must not read as committed")
    // the complete v1 still summarizes
    assert(GraftStore.manifestSummaryAt(dir, GraftStore.driverConf(), 1L).nonEmpty)
  }

  test("streaming sink appends one snapshot per micro-batch") {
    val src = Files.createTempDirectory("gstream_src").toString + "/in"
    val dir = tmp()
    val cp = Files.createTempDirectory("gstream_cp").toString
    val cols = docs.select("doc_id", "text")
    cols.limit(5).write.parquet(src)
    val q = spark.readStream.schema(cols.schema).parquet(src)
      .writeStream.format("graft-store")
      .option("path", dir).option("checkpointLocation", cp)
      .start()
    try {
      q.processAllAvailable()
      assert(GraftStore.read(spark, dir).count() == 5)
      cols.orderBy(col("doc_id").desc).limit(3).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(GraftStore.read(spark, dir).count() == 8)
    } finally q.stop()
    // two epochs committed, both recorded for replay detection
    val m = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    assert(m.epochs.size == 2, m.epochs)
  }

  test("streaming source: the store streams its snapshot then per-trigger deltas") {
    val a = tmp()
    val cp = Files.createTempDirectory("gsrc_cp").toString
    val cols = docs.select("doc_id", "text")
    GraftStore.write(cols.limit(5), a)                       // v1: initial load
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val got = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft-store").load(a)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        got.synchronized { got += df.select("doc_id").collect().map(_.getLong(0)).toSeq }
        sink.add(epoch); ()
      }.start()
    try {
      q.processAllAvailable()
      // first batch = the current snapshot (baseline v0 -> v1)
      assert(got.synchronized(got.flatten.sorted.toSeq) ==
        cols.limit(5).collect().map(_.getLong(0)).sorted.toSeq)
      val before = got.synchronized(got.size)
      GraftStore.write(cols.limit(8).exceptAll(cols.limit(5)), a) // v2: +3
      q.processAllAvailable()
      // the next non-empty batch carries ONLY the delta
      val delta = got.synchronized(got.drop(before)).flatten
      assert(delta.size == 3, s"delta=$delta")
      assert(got.synchronized(got.flatten.size) == 8, "no row re-delivered")
    } finally q.stop()
  }

  test("streaming source to streaming sink: store-to-store pipeline is exactly-once") {
    val a = tmp(); val b = tmp()
    val cp = Files.createTempDirectory("gs2s_cp").toString
    val cols = docs.select("doc_id", "text")
    GraftStore.write(cols.limit(4), a)
    def run() = spark.readStream.format("graft-store").load(a)
      .writeStream.format("graft-store")
      .option("path", b).option("checkpointLocation", cp).start()
    val q = run()
    try {
      q.processAllAvailable()
      assert(rows(GraftStore.read(spark, b)) == rows(cols.limit(4)))
      GraftStore.write(cols.limit(6).exceptAll(cols.limit(4)), a)
      q.processAllAvailable()
      assert(rows(GraftStore.read(spark, b)) == rows(cols.limit(6)))
    } finally q.stop()
    // restart from the checkpoint: the resumed query picks up only what
    // arrived while it was down (deserializeOffset path), no re-delivery
    GraftStore.write(cols.limit(7).exceptAll(cols.limit(6)), a)
    val q2 = run()
    try {
      q2.processAllAvailable()
      assert(rows(GraftStore.read(spark, b)) == rows(cols.limit(7)))
      assert(GraftStore.read(spark, b).count() == 7, "exactly once across restart")
    } finally q2.stop()
  }

  test("streaming evolution: a restarted stream with a widened schema appends; old rows null-fill") {
    val src = Files.createTempDirectory("gstream_ev_src").toString + "/in"
    val dir = tmp()
    val cp = Files.createTempDirectory("gstream_ev_cp").toString
    // v1 lands via a BATCH write with the base schema
    GraftStore.write(docs.limit(4).select("doc_id", "text"), dir)
    // the "restarted pipeline" streams with a widened projection
    val widened = docs.select("doc_id", "text")
      .withColumn("rev", when(col("doc_id") >= 0, col("doc_id") + 100L))
    widened.limit(2).write.parquet(src)
    val q = spark.readStream.schema(widened.schema).parquet(src)
      .writeStream.format("graft-store")
      .option("path", dir).option("checkpointLocation", cp)
      .start()
    try q.processAllAvailable() finally q.stop()
    val latest = GraftStore.read(spark, dir)
    assert(latest.columns.toSeq == Seq("doc_id", "text", "rev"))
    assert(latest.count() == 6)
    assert(latest.filter(col("rev").isNull).count() == 4)   // batch rows
    assert(latest.filter(col("rev") === col("doc_id") + 100L).count() == 2)
    // an ILLEGAL streaming drift (type change) still fails the epoch
    val bad = Files.createTempDirectory("gstream_bad_src").toString + "/in"
    val cpBad = Files.createTempDirectory("gstream_bad_cp").toString
    val retyped = docs.limit(1)
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    retyped.write.parquet(bad)
    val qb = spark.readStream.schema(retyped.schema).parquet(bad)
      .writeStream.format("graft-store")
      .option("path", dir).option("checkpointLocation", cpBad)
      .start()
    val e = intercept[Exception] {
      try qb.processAllAvailable() finally qb.stop()
    }
    assert(e.getMessage.contains("schema") || e.getMessage.contains("evolution"),
      e.getMessage)
    assert(GraftStore.read(spark, dir).count() == 6) // store unharmed
  }

  test("data skipping: range-clustered files prune at planning time, results exact") {
    val dir = tmp()
    GraftStore.write(docs.repartitionByRange(8, col("doc_id")), dir)
    def desc(df: DataFrame): String =
      df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // a point query on the clustering key reads ONE file of eight
    val point = GraftStore.read(spark, dir).filter(col("doc_id") === 5L)
    assert(desc(point).contains("files=1/8"), desc(point))
    assert(rows(point) == rows(docs.filter(col("doc_id") === 5L)))
    // an out-of-range predicate reads ZERO files
    val none = GraftStore.read(spark, dir).filter(col("doc_id") === -1L)
    assert(desc(none).contains("files=0/8"), desc(none))
    assert(none.count() == 0)
    // a range query keeps only the overlapping files, and the kept set
    // still returns exactly the right rows (skip is conservative)
    val ids = docs.select(min(col("doc_id")), max(col("doc_id")))
      .collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val mid = (lo + hi) / 2
    val range = GraftStore.read(spark, dir)
      .filter(col("doc_id") >= lo && col("doc_id") <= mid)
    val m = "files=(\\d+)/8".r.findFirstMatchIn(desc(range))
    assert(m.exists(_.group(1).toInt < 8), desc(range))
    assert(rows(range) ==
      rows(docs.filter(col("doc_id") >= lo && col("doc_id") <= mid)))
    // boundary inclusivity: filtering on the exact global max keeps it
    val edge = GraftStore.read(spark, dir).filter(col("doc_id") === hi)
    assert(edge.count() == 1)
    // filters on columns without helpful stats (lang spans every file)
    // skip nothing and stay correct
    val lang = GraftStore.read(spark, dir).filter(col("lang") === "nosuch")
    assert(lang.count() == 0)
    assert(desc(lang).contains("files=8/8"), desc(lang))
  }

  test("full streaming ingest: DocStream dedup -> graft-store, duplicates dropped across epochs") {
    import org.apache.spark.sql.types.StructType
    val base = Files.createTempDirectory("ingest").toString
    val (src, store, cp) = (base + "/in", base + "/store", base + "/cp")
    val schema = StructType.fromDDL("doc_id LONG, ingest_ts TIMESTAMP, text STRING")
    import spark.implicits._
    def batch(rows: (Long, String, String)*) =
      rows.toSeq.map { case (id, ts, t) => (id, java.sql.Timestamp.valueOf(ts), t) }
        .toDF("doc_id", "ingest_ts", "text")
    batch((1L, "2024-01-01 00:00:00", "alpha beta gamma"),
      (2L, "2024-01-01 00:01:00", "delta epsilon zeta"),
      (3L, "2024-01-01 00:02:00", "alpha beta gamma")).write.parquet(src)
    val deduped = graft.streaming.DocStream.dedupExact(
      spark.readStream.schema(schema).parquet(src), "ingest_ts", "text")
    val q = deduped.drop("content_hash").writeStream.format("graft-store")
      .option("path", store).option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(GraftStore.read(spark, store).count() == 2) // in-batch dup dropped
      // epoch 2: one cross-epoch dup, one genuinely new doc
      batch((4L, "2024-01-01 00:03:00", "delta epsilon zeta"),
        (5L, "2024-01-01 00:04:00", "eta theta iota")).write.mode("append").parquet(src)
      q.processAllAvailable()
      val stored = GraftStore.read(spark, store)
      assert(stored.count() == 3, "cross-epoch duplicate must not land in the store")
      assert(stored.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("streaming write with drifted schema is rejected before publishing") {
    val dir = tmp()
    GraftStore.write(docs.limit(3), dir) // schema A
    val w = new GsbStreamingWrite(dir,
      docs.limit(1).withColumn("extra", lit(1L)).schema, "qdrift")
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(GsbCommit("data/drift.gsb", 1, 10))
    val e = intercept[IllegalStateException] { w.commit(0L, msgs) }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // store still readable at the old schema
    assert(GraftStore.read(spark, dir).count() == 3)
  }

  test("a data file declaring a string length of 0x7FFFFFF0 or -1 fails naming the file") {
    import spark.implicits._
    val marker = "graft-length-probe"
    for (bad <- Seq(0x7FFFFFF0, -1)) {
      val dir = tmp()
      GraftStore.write(Seq((1L, marker)).toDF("k", "s").coalesce(1), dir)
      val Array(file) = new java.io.File(dir, "data").listFiles().filter(_.getName.endsWith(".gsb"))
      val bytes = Files.readAllBytes(file.toPath)
      val stored = java.nio.ByteBuffer.allocate(4).putInt(marker.length).array() ++
        marker.getBytes("UTF-8")
      val at = bytes.indexOfSlice(stored)
      assert(at > 0, "the stored string was not found")
      java.nio.ByteBuffer.wrap(bytes).putInt(at, bad)
      Files.write(file.toPath, bytes)
      // the local file system's checksum sidecar would refuse the edited
      // file first; without it the decoder itself reads the bad length
      new java.io.File(file.getParent, s".${file.getName}.crc").delete()
      val e = intercept[Exception](GraftStore.read(spark, dir).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains(s"data/${file.getName} declares a length of $bad"), msgs)
    }
  }

  test("an incomplete (terminator-less) manifest is skipped by readers") {
    val dir = tmp()
    GraftStore.write(docs.limit(4), dir) // v1, complete
    // simulate a crashed commit: a higher-version manifest missing `end`
    val mdir = new java.io.File(dir, "manifest")
    val v1 = mdir.listFiles().filter(_.getName.endsWith(".manifest")).head
    val partial = java.nio.file.Files.readString(v1.toPath)
      .replaceFirst("(?m)^end$", "").replaceFirst("(?m)^1$", "2")
    java.nio.file.Files.writeString(
      new java.io.File(mdir, "v00000000000000000002.manifest").toPath, partial)
    val m = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    assert(m.version == 1L, "reader must fall back to the last complete snapshot")
    assert(GraftStore.read(spark, dir).count() == 4)
  }

  test("a replayed epoch commit is a no-op (exactly-once)") {
    val dir = tmp()
    GraftStore.write(docs.limit(2), dir) // seed a store
    val schema = docs.schema
    val w = new GsbStreamingWrite(dir, schema, "qtest")
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(GsbCommit("data/fake-e7.gsb", 10, 100))
    w.commit(7L, msgs)
    val after1 = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    w.commit(7L, msgs) // recovery replays the same epoch
    val after2 = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    assert(after1.version == after2.version, "replayed commit must not publish a new snapshot")
    assert(after2.files.count(_.relPath == "data/fake-e7.gsb") == 1)
  }

  test("time travel: option(version) reads a historical snapshot") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir)                    // v1
    GraftStore.write(docs.limit(3), dir)                    // v2 (8 rows)
    GraftStore.write(docs.limit(2), dir, overwrite = true)  // v3 (2 rows)
    def at(v: Long) =
      spark.read.format("graft-store").option("version", v).load(dir).count()
    assert(at(1) == 5 && at(2) == 8 && at(3) == 2)
    assert(GraftStore.read(spark, dir).count() == 2, "no option = latest")
    val e = intercept[Exception] { at(9) }
    assert(e.getMessage.contains("version 9"), e.getMessage)
  }

  test("incremental read: sinceVersion yields exactly the delta files' rows") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir)                    // v1
    GraftStore.write(docs.limit(8).exceptAll(docs.limit(5)), dir) // v2: +3
    GraftStore.write(docs.limit(9).exceptAll(docs.limit(8)), dir) // v3: +1
    // delta since v1 = the two appended slices (4 rows), exactly
    val since1 = GraftStore.readChanges(spark, dir, 1L)
    assert(rows(since1) == rows(docs.limit(9).exceptAll(docs.limit(5))))
    // delta since v2 = the last append only
    assert(GraftStore.readChanges(spark, dir, 2L).count() == 1)
    // delta since the latest version is empty
    assert(GraftStore.readChanges(spark, dir, 3L).count() == 0)
    // combined with time travel: changes v1..v2 ignore the later append
    assert(spark.read.format("graft-store").option("version", 2)
      .option("sinceVersion", 1).load(dir).count() == 3)
    // a rewrite (overwrite) surfaces its files as re-additions
    GraftStore.write(docs.limit(2), dir, overwrite = true)  // v4
    assert(rows(GraftStore.readChanges(spark, dir, 3L)) == rows(docs.limit(2)))
    // unknown baseline fails loudly
    val e = intercept[Exception] { GraftStore.readChanges(spark, dir, 9L).count() }
    assert(e.getMessage.contains("sinceVersion"), e.getMessage)
  }

  test("compaction collapses an append history into few files, rows intact") {
    val dir = tmp()
    (0 until 4).foreach(i =>
      GraftStore.write(docs.limit(40).repartition(3), dir)) // 12 data files
    val before = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    assert(before.files.size == 12)
    GraftStore.compact(spark, dir, targetFiles = 2)
    val after = GraftStore.latestManifest(dir, GraftStore.driverConf()).get
    assert(after.files.size == 2, after.files)
    assert(GraftStore.read(spark, dir).count() == 160)
    assert(GraftStore.vacuum(dir, graceMs = 0L) == 12) // the pre-compaction files
  }

  test("SQL surface: CREATE TABLE USING graft-store, INSERT INTO, SELECT") {
    val dir = tmp()
    GraftStore.write(docs.limit(5).select("doc_id", "lang"), dir)
    spark.sql(s"""CREATE TABLE gstore_sql USING `graft-store` OPTIONS (path '$dir')""")
    try {
      assert(spark.sql("SELECT COUNT(*) FROM gstore_sql").head().getLong(0) == 5)
      spark.sql("INSERT INTO gstore_sql SELECT doc_id + 1000, lang FROM gstore_sql LIMIT 2")
      assert(spark.sql("SELECT COUNT(*) FROM gstore_sql").head().getLong(0) == 7)
      assert(spark.sql("SELECT COUNT(*) FROM gstore_sql WHERE doc_id >= 1000").head().getLong(0) == 2)
    } finally spark.sql("DROP TABLE gstore_sql")
  }

  test("exact statistics flow from the manifest to the planner") {
    val dir = tmp()
    GraftStore.write(docs.limit(12), dir)
    val scan = GraftStore.read(spark, dir)
    // manifest stats make a small store broadcastable: verify the scan
    // reports the exact committed row count
    val stats = scan.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong == 12L), s"stats=$stats")
  }

  test("streaming backlog admission: maxFilesPerTrigger drains a multi-snapshot backlog over several batches") {
    val a = tmp()
    val cp = Files.createTempDirectory("gadm_cp").toString
    val cols = docs.select("doc_id", "text").coalesce(1)
    // 3-snapshot backlog BEFORE the stream starts (the restart-after-
    // downtime shape); each commit lands exactly one data file
    GraftStore.write(cols.limit(3), a)                          // v1
    GraftStore.write(cols.limit(5).exceptAll(cols.limit(3)), a) // v2: +2
    GraftStore.write(cols.limit(8).exceptAll(cols.limit(5)), a) // v3: +3
    val got = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft-store")
      .option("maxFilesPerTrigger", 1).load(a)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got += df.select("doc_id").collect().map(_.getLong(0)).toSeq }
        ()
      }.start()
    try {
      q.processAllAvailable()
      val batches = got.synchronized(got.filter(_.nonEmpty).toList)
      // exactly-once across the drain: all 8 rows, none duplicated
      assert(batches.flatten.sorted ==
        cols.limit(8).collect().map(_.getLong(0)).sorted.toSeq, batches)
      // and the backlog drained over >= 2 micro-batches, not one gulp
      assert(batches.size >= 2, s"backlog delivered in ${batches.size} batch(es)")
      assert(batches.forall(_.size <= 3), batches)
    } finally q.stop()
  }

  // ---- optimistic concurrency -------------------------------------------

  private def manifest(dir: String): GsbManifest =
    GraftStore.latestManifest(dir, GraftStore.driverConf()).get

  test("concurrency: an append that loses its version slot retries against the new base") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir) // v1
    var injected = false
    val appender = new GsbBatchWrite(dir, docs.schema, "qa", overwrite = false,
      raceHook = () => if (!injected) {
        injected = true
        GraftStore.write(docs.limit(3), dir) // competitor wins the v2 slot
      })
    appender.commit(Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      GsbCommit("data/injected-append.gsb", 2, 64)))
    val m = manifest(dir)
    // both appends landed: v1's files + competitor's + ours, version 3
    assert(m.version == 3, m.version)
    assert(m.files.map(_.relPath).contains("data/injected-append.gsb"))
    assert(m.files.map(_.rows).sum == 5 + 3 + 2, m.files)
  }

  test("concurrency: two whole-stack appends from racing threads both land") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(7, 12).map { n =>
      new Thread(() => try GraftStore.write(docs.limit(n), dir)
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, errs)
    assert(GraftStore.read(spark, dir).count() == 5 + 7 + 12)
    assert(manifest(dir).version == 3)
  }

  test("concurrency: append racing a destructive overwrite is rejected, store stays consistent") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir) // v1
    var injected = false
    val appender = new GsbBatchWrite(dir, docs.schema, "qb", overwrite = false,
      raceHook = () => if (!injected) {
        injected = true
        GraftStore.write(docs.limit(3), dir, overwrite = true) // overwrite wins v2
      })
    val ex = intercept[IllegalStateException] {
      appender.commit(Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
        GsbCommit("data/injected-append2.gsb", 2, 64)))
    }
    assert(ex.getMessage.contains("destructive"), ex.getMessage)
    // the overwrite's snapshot is intact and ours never landed
    val m = manifest(dir)
    assert(m.version == 2 && m.files.map(_.rows).sum == 3, m)
    assert(GraftStore.read(spark, dir).count() == 3)
  }

  test("concurrency: an overwrite that loses its slot fails loudly instead of silently discarding") {
    val dir = tmp()
    GraftStore.write(docs.limit(5), dir) // v1
    var injected = false
    val over = new GsbBatchWrite(dir, docs.schema, "qc", overwrite = true,
      raceHook = () => if (!injected) {
        injected = true
        GraftStore.write(docs.limit(4), dir) // competitor appends, wins v2
      })
    val ex = intercept[IllegalStateException] {
      over.commit(Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
        GsbCommit("data/injected-over.gsb", 1, 32)))
    }
    assert(ex.getMessage.contains("overwrite"), ex.getMessage)
    assert(GraftStore.read(spark, dir).count() == 5 + 4)
  }

  test("tags: ref read equals version pin and survives later ingest") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq(1L, 2L, 3L).toDF("k"), dir, overwrite = true)
    val tagged = GraftStore.tag(dir, "release-1")
    assert(tagged == 1L)
    GraftStore.write(Seq(4L, 5L).toDF("k"), dir)
    val byRef = spark.read.format("graft-store").option("ref", "release-1").load(dir)
    val byVer = spark.read.format("graft-store").option("version", 1).load(dir)
    assert(rows(byRef) == rows(byVer))
    assert(byRef.count() == 3)
    assert(GraftStore.read(spark, dir).count() == 5)
  }

  test("tags are immutable: re-publishing a name fails loudly") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq(1L).toDF("k"), dir, overwrite = true)
    GraftStore.tag(dir, "pin")
    GraftStore.write(Seq(2L).toDF("k"), dir)
    val ex = intercept[IllegalStateException] { GraftStore.tag(dir, "pin") }
    assert(ex.getMessage.contains("immutable"), ex.getMessage)
    // the original resolution is untouched
    assert(spark.read.format("graft-store").option("ref", "pin").load(dir).count() == 1)
  }

  test("tags are vacuum GC roots: a tagged snapshot stays readable, untagged pins die") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq(1L, 2L).toDF("k"), dir, overwrite = true)   // v1
    GraftStore.tag(dir, "keep")
    GraftStore.write(Seq(3L).toDF("k"), dir, overwrite = true)       // v2 (drops v1 refs)
    GraftStore.write(Seq(4L).toDF("k"), dir, overwrite = true)       // v3 (drops v2 refs)
    val removed = GraftStore.vacuum(dir, graceMs = 0L)
    assert(removed >= 1, s"expected v2's orphaned file removed, got $removed")
    // the tagged v1 read survives vacuum byte-for-byte
    assert(rows(spark.read.format("graft-store").option("ref", "keep").load(dir))
      == Set("1", "2"))
    // the untagged v2 pin lost its data files (manifest still parses,
    // scan fails on the missing file) — the documented contract
    val v2 = spark.read.format("graft-store").option("version", 2).load(dir)
    intercept[Exception] { v2.count() }
    assert(GraftStore.listRefs(dir) == Seq("keep" -> 1L))
  }

  test("tags: unknown ref, bad name, and missing target version are rejected") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq(1L).toDF("k"), dir, overwrite = true)
    val unknown = intercept[IllegalArgumentException] {
      spark.read.format("graft-store").option("ref", "nope").load(dir).count()
    }
    assert(unknown.getMessage.contains("unknown ref"), unknown.getMessage)
    val badName = intercept[IllegalArgumentException] {
      GraftStore.tag(dir, "evil/../name")
    }
    assert(badName.getMessage.contains("invalid ref name"), badName.getMessage)
    val badVersion = intercept[IllegalArgumentException] {
      GraftStore.tag(dir, "ghost", 99L)
    }
    assert(badVersion.getMessage.contains("no complete manifest"), badVersion.getMessage)
  }

  test("manifest bytes end with an exact LF terminator (no platform separator)") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq((1L, "a")).toDF("k", "s"), dir, overwrite = true)
    val mpath = java.nio.file.Paths.get(dir, "manifest", f"v${1L}%020d.manifest")
    val bytes = java.nio.file.Files.readAllBytes(mpath)
    val text = new String(bytes, "UTF-8")
    assert(!text.contains("\r"), "manifest must be LF-only regardless of platform")
    assert(text.endsWith("\nend\n"), "terminator must be the exact LF-delimited line")
    // the O(1) summary path accepts it (the check that diverged in r14 ADVICE)
    val summary = GraftStore.manifestSummaryAt(dir, GraftStore.driverConf(), 1L)
    assert(summary.exists { case (nf, nr, _) => nf == 1L && nr == 1L },
      s"summary path must see the committed manifest, got $summary")
  }

  test("same-millisecond equal-length re-create at a manifest path is detected (uid token)") {
    val dir = tmp()
    import spark.implicits._
    GraftStore.write(Seq((1L, "aaaa"), (2L, "bbbb")).toDF("k", "s"), dir, overwrite = true)
    val conf = GraftStore.driverConf()
    val mpath = java.nio.file.Paths.get(dir, "manifest", f"v${1L}%020d.manifest")
    // the uid check engages while the cache entry is YOUNG (driver-clock
    // age ≤ UidHazardWindowMs — the only situation a same-mtime
    // re-create can exploit); the warm read below inserts the entry
    // moments before the doctored re-create, exactly that race
    // warm the parsed-manifest cache
    val before = GraftStore.latestManifest(dir, conf).get
    assert(before.uid.nonEmpty, "new manifests must carry a uid token")
    val mtime = java.nio.file.Files.getLastModifiedTime(mpath)
    val text = new String(java.nio.file.Files.readAllBytes(mpath), "UTF-8")
    // simulate DROP + re-CREATE landing a DIFFERENT manifest of the SAME
    // byte length in the SAME millisecond: new uid (as writeManifest
    // would generate), one changed rows digit, mtime pinned back
    val oldUid = before.uid.get
    val newUid = (if (oldUid.head == 'f') "0" else "f") + oldUid.tail
    val oldRows = before.files.map(_.rows).sum
    val lines = text.replace(s"uid=$oldUid", s"uid=$newUid").split("\n", -1)
    val fi = lines.indexWhere(_.startsWith("file="))
    assert(fi >= 0, "expected a flat file line")
    val parts = lines(fi).split("\t", -1)
    val r = parts(1).toLong
    parts(1) = (if (r < 9) r + 1 else r - 1).toString // same digit count
    lines(fi) = parts.mkString("\t")
    val swapped = lines.mkString("\n")
    assert(swapped.length == text.length, "edit must preserve byte length")
    assert(swapped != text)
    java.nio.file.Files.write(mpath, swapped.getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(mpath, mtime)
    val after = GraftStore.latestManifest(dir, conf).get
    assert(after.uid.contains(newUid),
      "cache served the dropped table's manifest — uid check failed")
    assert(after.files.map(_.rows).sum != oldRows,
      "re-created manifest's content must be served, not the cached parse")
  }

  test("outside the hazard window a cache hit is one stat, no head read") {
    // contract of the r15 optimization (r16: window measured on the
    // DRIVER clock so store-clock offset can't close it early): an
    // entry older than UidHazardWindowMs of driver time can no longer
    // be fooled by a re-create (the colliding re-create must share the
    // original's store mtime, i.e. happen essentially concurrently), so
    // validation stays getFileStatus-only. Observable via the
    // doctored-uid trick: same (mtime, length), new uid — OUTSIDE the
    // window the cached parse is (correctly) served without opening the
    // file.
    val dir = tmp()
    import spark.implicits._
    // shrink the (test-injectable) window so the suite sleeps tens of
    // milliseconds, not the production 2 s — the contract under test is
    // "older than the window ⇒ stat-only", which is window-size agnostic
    val savedWindow = GraftStore.UidHazardWindowMs
    GraftStore.UidHazardWindowMs = 50L
    try {
      GraftStore.write(Seq((1L, "zz")).toDF("k", "s"), dir, overwrite = true)
      val conf = GraftStore.driverConf()
      val mpath = java.nio.file.Paths.get(dir, "manifest", f"v${1L}%020d.manifest")
      val mtime = java.nio.file.Files.getLastModifiedTime(mpath)
      val before = GraftStore.latestManifest(dir, conf).get // warm the cache
      val oldUid = before.uid.get
      val newUid = (if (oldUid.head == 'f') "0" else "f") + oldUid.tail
      val text = new String(java.nio.file.Files.readAllBytes(mpath), "UTF-8")
      java.nio.file.Files.write(mpath,
        text.replace(s"uid=$oldUid", s"uid=$newUid").getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(mpath, mtime)
      // age the entry past the driver-clock hazard window
      Thread.sleep(GraftStore.UidHazardWindowMs + 100)
      val after = GraftStore.latestManifest(dir, conf).get
      assert(after.uid.contains(oldUid),
        "outside the hazard window the stat-only fast path must serve the cache")
    } finally GraftStore.UidHazardWindowMs = savedWindow
  }

  test("invalidateCaches purges entries for a scheme-less warehouse root") {
    val dir = tmp() // raw /tmp/... path, as sqlWarehouse configs produce
    import spark.implicits._
    GraftStore.write(Seq((1L, "x")).toDF("k", "s"), dir, overwrite = true)
    GraftStore.latestManifest(dir, GraftStore.driverConf()) // warm
    assert(GraftStore.cachedUnder(dir) > 0, "cache should be warm")
    GraftStore.invalidateCaches(dir)
    assert(GraftStore.cachedUnder(dir) == 0,
      "qualified listStatus keys must be purged from a raw-root prefix")
  }
}
