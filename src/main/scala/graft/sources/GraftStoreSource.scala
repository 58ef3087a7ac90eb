package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => wstreaming}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-store` — a DataSource V2 WRITE path with a real commit
  * protocol, plus the matching read path: a manifest-committed,
  * snapshot-isolated row store.
  *
  * The write side is the point of the exercise (the read-side twin of
  * [[DocGenSource]]): `df.write.format("graft-store").mode("append"|
  * "overwrite").save(path)`.
  *
  * Commit protocol (the miniature of what Iceberg/Delta do, built on
  * Spark's V2 write contract):
  *  - each task's [[DataWriter]] writes one data file with a name unique
  *    to (query, partition, task attempt) and returns it in its
  *    [[WriterCommitMessage]] — speculative or retried attempts write
  *    DIFFERENT files, and Spark delivers exactly one commit message per
  *    partition, so duplicated attempts can never double-commit;
  *  - data files are INVISIBLE until the driver's `BatchWrite.commit`
  *    publishes a new manifest version listing them (append = previous
  *    snapshot's files + new, overwrite = new only) via
  *    write-temp-then-atomic-rename — readers see the previous complete
  *    snapshot or the new complete snapshot, never a partial write;
  *  - `BatchWrite.abort` deletes the files named in the delivered
  *    messages; files from attempts that never reported stay orphaned
  *    but unreferenced (harmless), and [[GraftStore.vacuum]] removes
  *    anything the latest manifest doesn't reference.
  *
  * Scans pin the latest manifest at planning time, so a concurrent
  * writer cannot change the file set under a running query (snapshot
  * isolation per query). Overwrite never deletes old files inline — the
  * previous snapshot stays readable until vacuumed.
  *
  * Scale: one data file per write task (no small-file explosion beyond
  * the writing query's parallelism), commit cost is O(files) manifest
  * metadata on the driver, and reads parallelize per file with exact
  * row/byte statistics from the manifest. Executors reach storage
  * through Hadoop `FileSystem`, so any HDFS-compatible scheme works;
  * task-side code builds a default `Configuration` (cluster deployments
  * with non-default FS auth would propagate the conf via broadcast).
  *
  * The row codec is schema-driven length-prefixed binary (no per-value
  * tags): null flag + fixed-width primitives, length-prefixed
  * strings/binary, one nesting level of arrays — enough for every graft
  * table shape (documents, events-as-micros, embeddings' array<float>).
  */
class GraftStoreSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-store"
  /** Writes to a brand-new store have no manifest to infer from — accept
    * the incoming query's schema (Spark then skips inferSchema on the
    * write path; reads still infer from the pinned manifest). */
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = GraftStore.rootOf(options)
    // a version-pinned read (explicit or via an immutable ref) must
    // surface THAT snapshot's schema — after an evolving append, v1
    // still presents its original columns
    GraftStore.pinnedVersion(root, GraftStore.driverConf(), options) match {
      case Some(v) =>
        GraftStore.manifestAt(root, GraftStore.driverConf(), v)
          .getOrElse(throw new IllegalArgumentException(
            s"graft-store: no complete manifest version $v under $root")).schema
      case None =>
        GraftStore.latestManifest(root, GraftStore.driverConf())
          .getOrElse(throw new IllegalArgumentException(
            s"graft-store: no manifest under $root — write first or pass an explicit schema")).schema
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftStoreTable(properties.get("path"), schema)
}

/** Manifest entry: path relative to the store root (relocatable store).
  * `epochs` records committed streaming (queryId, epochId) pairs so a
  * replayed epoch commit is a detectable no-op (exactly-once sink). */
/** Another writer owned the version slot this commit tried to publish. */
private[sources] class GsbCommitRaceException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

private[sources] case class GsbFile(relPath: String, rows: Long, bytes: Long,
    stats: Map[String, (String, String)] = Map.empty)

/** Name of the hidden per-row metadata column carrying the data file. */
private[sources] object GsbFileColumn { val Name = "_gsb_file" }

/** Column-evolution event, ordered oldest-first in the manifest. Data
  * files are IMMUTABLE, so DROP/RENAME COLUMN are metadata-only: the
  * snapshot schema changes, and readers resolve a current (logical)
  * column back to the name each file was written under by walking the
  * rename chain in reverse. `kind` ∈ {"rename", "drop"}; drop keeps
  * `to` empty. Every name a colop VACATES (a dropped name, a rename's
  * source) is tombstoned — permanently reserved until an overwrite
  * resets history — because committed files still carry data under it,
  * and re-binding the name would silently resurrect that data into an
  * unrelated new column (the problem Iceberg solves with field IDs;
  * tombstoning is the honest line-oriented equivalent). */
private[sources] case class GsbColOp(kind: String, from: String, to: String)

private[sources] case class GsbManifest(version: Long, schema: StructType,
    files: Seq[GsbFile], epochs: Set[String] = Set.empty,
    colops: Seq[GsbColOp] = Seq.empty, ts: Option[Long] = None,
    /** (chunk name, file count) refs when this manifest was chunked —
      * lets the NEXT commit carry untouched full segments structurally
      * (no re-render/re-hash; see writeManifest's prefix reuse). */
    chunks: Seq[(String, Int)] = Seq.empty,
    /** Per-manifest identity token (`uid=` line) — distinguishes two
      * manifests that landed on the same path with equal length in the
      * same millisecond (DROP + re-CREATE), which (mtime, length) cache
      * validation cannot. None for manifests written before r15. */
    uid: Option[String] = None,
    /** Declared clustering columns (`cluster=` line) — the table's
      * `PARTITIONED BY` metadata. The store does NOT lay out partition
      * directories; instead every write against a clustered table is
      * required (via `RequiresDistributionAndOrdering`) to arrive
      * range-distributed and sorted on these columns, so each data
      * file covers a narrow [min,max] slice and the EXISTING file-stats
      * skipping becomes planning-time partition pruning. One metadata
      * line, zero read-path changes — the Iceberg hidden-clustering
      * shape rather than the Hive directory shape. */
    cluster: Seq[String] = Seq.empty,
    /** Declared write fan-out for clustered tables (`clusterparts=`
      * line, from the `write.partitions` table property). 0 = let AQE
      * size the range shuffle (the 100 TB default: ~advisory-sized
      * files); >0 pins the partition count — small tables would
      * otherwise coalesce to ONE file and have nothing to prune. */
    clusterParts: Int = 0) {
  /** Names no new column may ever take (see [[GsbColOp]]): every colop
    * vacates its `from`, drop and rename alike. */
  def tombstones: Set[String] = colops.map(_.from).toSet
  /** Ordered rename events, for reader-side chain resolution. */
  def renames: Seq[(String, String)] =
    colops.filter(_.kind == "rename").map(op => (op.from, op.to))
}

/** What a commit attempt publishes: the next snapshot's schema, file
  * set, committed streaming epochs, and column-evolution history.
  * Carriers (append/DML) must PROPAGATE the base's colops — losing them
  * would orphan every pre-rename file's data — so the field is explicit
  * at every call site, never defaulted. */
private[sources] case class GsbNext(schema: StructType, files: Seq[GsbFile],
    epochs: Set[String], colops: Seq[GsbColOp],
    /** None = carry the base snapshot's declared write fan-out (the
      * default every data commit wants); Some(n) = DDL explicitly
      * retunes it (`ALTER TABLE ... SET TBLPROPERTIES
      * ('write.partitions'=...)`; Some(0) clears back to AQE-sized). */
    clusterPartsOverride: Option[Int] = None)

object GraftStore {
  private[sources] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-store requires a path")
    p
  }

  private[sources] def driverConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private[sources] def fs(root: String, conf: Configuration): FileSystem =
    new HPath(root).getFileSystem(conf)

  /** A write's `abort`: deletes the data files its committed tasks wrote.
    * No manifest names them yet, so nothing else would remove them before
    * vacuum. */
  private[sources] def deleteCommitted(root: String, messages: Array[WriterCommitMessage]): Unit = {
    val f = fs(root, driverConf())
    messages.foreach {
      case c: GsbCommit => f.delete(new HPath(root, c.relPath), false)
      case _ => ()
    }
  }

  private val ManifestRe = "v(\\d{20})\\.manifest".r

  /** Driver-side parsed-manifest cache. A COMPLETE manifest is immutable
    * by protocol (exclusive-create, never modified after its terminator
    * lands), so the parse can be reused across every planning call that
    * pins the same snapshot — at 10⁶ files that turns each re-plan from
    * an O(files) text parse into one `getFileStatus`. Keys are
    * SCHEME-QUALIFIED paths (every insertion goes through
    * [[qualifiedKey]]) so prefix invalidation works whether the caller
    * configured the warehouse as `/tmp/wh` or `file:/tmp/wh`. Validity
    * is (mtime, length) plus the manifest's own `uid=` token: mtime is
    * millisecond-grained and a DROP + re-CREATE reuses version paths,
    * so an equal-length re-create landing inside one millisecond would
    * be invisible to (mtime, length) alone — the uid head-read (first
    * two lines, one bounded pread) closes that window. Manifests
    * written before the uid line fall back to (mtime, length) only.
    * Bounded LRU — manifests of hot stores stay, cold ones re-parse. */
  /** Default [[vacuum]] retention window: files younger than this are
    * never GC candidates, protecting in-flight optimistic commits whose
    * manifest terminator has not landed yet. The window compares store
    * mtimes against the DRIVER's clock — on an object store / NFS whose
    * clock skews more than a few minutes from the driver, widen
    * `graceMs` to cover the skew (a fast store clock ages in-flight
    * files out early; a slow one merely delays GC). Same caveat Delta's
    * retention carries; 10 minutes assumes sub-minute skew. */
  val DefaultVacuumGraceMs: Long = 10 * 60 * 1000L

  /** Cache entry: file (mtime, length) at parse time, the parse, and
    * WHEN this entry was inserted (driver clock). The insert time
    * bounds the uid head-read to the actual hazard window: a DROP +
    * re-CREATE landing in a LATER store-clock millisecond than the
    * original create changes mtime (which the (mtime, length) check
    * catches), so only a re-create essentially concurrent with our
    * parse can ever be fooled. We bound that with the DRIVER clock —
    * both ends of `now − insertAt` are the same clock, so a store whose
    * clock is OFFSET from the driver's by any amount cannot shrink the
    * window (the r15 formulation compared insertAt against the store
    * mtime and silently closed the window on a store lagging >2 ms).
    * The remaining assumption is clock RATE, not offset: a colliding
    * re-create needs the store clock to advance <1 ms across
    * [[UidHazardWindowMs]] of real time — a frozen clock, not skew.
    * For every hit older than the window the head-read is skipped and
    * validation stays one getFileStatus, the advertised O(1) contract. */
  private final case class ManifestCacheEntry(
      mtime: Long, len: Long, parsed: GsbManifest, insertAt: Long)

  /** Driver-clock age below which a manifest cache hit re-verifies its
    * uid by head read (see [[ManifestCacheEntry]]). 2 s of real time is
    * ~2000× the 1 ms store-mtime granularity a colliding re-create must
    * fit inside; the head read is one bounded 128-byte pread, so paying
    * it on very young entries is noise.
    *
    * A `var` (volatile, production code never writes it) solely so the
    * spec exercising the OUTSIDE-the-window fast path can shrink it to
    * tens of milliseconds instead of Thread.sleeping the real window —
    * otherwise raising the window would silently slow the suite. */
  @volatile private[sources] var UidHazardWindowMs = 2000L

  private val ManifestCacheMax = 64
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, ManifestCacheEntry](
        ManifestCacheMax, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, ManifestCacheEntry]): Boolean =
          size() > ManifestCacheMax
      })

  /** Above this file count a manifest stores its file list as CHUNKS —
    * immutable, content-addressed segment files of [[ChunkSize]] lines
    * (`manifest/chunk-<sha1₁₆>.list`) referenced by `chunk=` manifest
    * lines. Why: a self-contained manifest makes every commit O(table)
    * — at 10⁶ files that is a 76 MB rewrite per append (measured,
    * SCALE.md). With fixed segment boundaries an append reuses
    * every untouched full segment BY HASH (same content → same path →
    * exclusive create says "exists", skip), so commit cost drops to
    * O(delta + ChunkSize). Chunks are immutable forever, so the chunk
    * cache needs no validity check at all — content addressing IS the
    * validity. Small stores stay flat (zero format change below the
    * threshold); readers accept both forms from any version. This is
    * the measured-cutover design SCALE.md's manifest note commits to. */
  private[sources] val ChunkSize = 50000
  /** Test hook: shrink the segment size so specs exercise the chunked
    * path without writing 100k file entries. Production value above. */
  private[sources] var chunkSizeOverride: Option[Int] = None
  private def chunkSize: Int = chunkSizeOverride.getOrElse(ChunkSize)
  private val chunkCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[GsbFile]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[GsbFile]]): Boolean =
          size() > 64
      })

  /** Scheme-qualified cache key for `path` — the ONE form every cache
    * insertion and invalidation uses. `listStatus` returns qualified
    * paths (`file:/tmp/...`) while constructed paths inherit the
    * caller's raw root (`/tmp/...`); mixing the two forms made prefix
    * invalidation silently miss half the entries (r14 ADVICE). */
  private def qualifiedKey(f: FileSystem, path: HPath): String =
    f.makeQualified(path).toString

  /** Drop every cached parse under `root` — called when a table is
    * dropped or renamed away, so a re-CREATE at the same path never
    * serves the dropped table's parsed manifests. Keys are normalized
    * at insertion ([[qualifiedKey]]); the prefix here is qualified the
    * same way, and the raw form is swept too as belt-and-braces.
    * chunkCache entries are content-addressed (name = SHA-1 of payload)
    * so a re-created same-name chunk is byte-identical by construction
    * — still dropped here for symmetry (they are cheap to re-read). */
  /** Key predicate for everything cached under `root`'s manifest dir,
    * matching both the qualified form insertions use and the raw form
    * as belt-and-braces — shared by invalidation and the test hook so
    * the two can never diverge. */
  private def underRoot(root: String): String => Boolean = {
    val rawPrefix = new HPath(root, "manifest").toString
    val qPrefix = try {
      qualifiedKey(fs(root, driverConf()), new HPath(root, "manifest"))
    } catch { case _: Exception => rawPrefix }
    k => k.startsWith(rawPrefix) || k.startsWith(qPrefix)
  }

  private[sources] def invalidateCaches(root: String): Unit = {
    val hit = underRoot(root)
    manifestCache.synchronized {
      manifestCache.keySet().removeIf(k => hit(k))
    }
    chunkCache.synchronized {
      chunkCache.keySet().removeIf(k => hit(k))
    }
  }

  /** Test hook: live cache entries under `root` (either key form). */
  private[sources] def cachedUnder(root: String): Int = {
    val hit = underRoot(root)
    val m = manifestCache.synchronized {
      manifestCache.keySet().stream().filter(k => hit(k)).count()
    }
    val c = chunkCache.synchronized {
      chunkCache.keySet().stream().filter(k => hit(k)).count()
    }
    (m + c).toInt
  }

  /** Driver-side pool for parallel chunk parsing — daemon threads (must
    * never block JVM exit), bounded by core count. */
  private lazy val ChunkParsePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "gsb-chunk-parse"); t.setDaemon(true); t }))

  private def renderFileLine(e: GsbFile): String = {
    val tail = if (e.stats.isEmpty) "" else "\t" + GsbStats.render(e.stats)
    s"file=${e.relPath}\t${e.rows}\t${e.bytes}$tail"
  }

  private def parseFileLine(l: String, where: String): GsbFile =
    l.stripPrefix("file=").split("\t", -1) match {
      case Array(rel, rows, bytes) => GsbFile(rel, rows.toLong, bytes.toLong)
      case Array(rel, rows, bytes, stats) =>
        GsbFile(rel, rows.toLong, bytes.toLong, GsbStats.parse(stats))
      case other => throw new IllegalStateException(
        s"graft-store: malformed file line in $where: ${other.mkString("|")}")
    }

  /** Write one content-addressed chunk if absent; returns its rel name.
    * Concurrent writers of the same content race benignly: the loser's
    * exclusive create fails on an identical file. */
  private def writeChunk(f: FileSystem, dir: HPath, lines: Seq[String]): String = {
    val payload = lines.mkString("", "\n", "\n")
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(payload.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val name = s"chunk-$sha.list"
    val target = new HPath(dir, name)
    // an EXISTING chunk is only reusable if COMPLETE: a writer that
    // died mid-chunk would otherwise poison this content address
    // forever (every later commit would skip the write, publish a
    // manifest referencing the torn chunk, and every reader would fail
    // its terminator check — unfixable by vacuum, which sees the chunk
    // as live). Torn + older than the grace window = corpse, reclaim;
    // torn + young = a racer still writing — wait briefly for its
    // terminator, then fail LOUDLY rather than reference a maybe-torn
    // chunk from a commit that reported success.
    def complete(): Option[Boolean] = try {
      val st = f.getFileStatus(target)
      if (st.getLen < 5) return Some(false)
      val in = f.open(target)
      try {
        val tail = new Array[Byte](5)
        in.seek(st.getLen - 5)
        in.readFully(tail)
        Some(new String(tail, "UTF-8") == "\nend\n")
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
    complete() match {
      case Some(false) =>
        // the re-stat races a concurrent reclaimer: the chunk vanishing
        // between complete() and here is the DESIRED state (torn corpse
        // gone) — fall through to the exclusive-create claim rather
        // than failing the whole commit on the FNF
        val stOpt = try Some(f.getFileStatus(target)) catch {
          case _: java.io.FileNotFoundException => None
        }
        // 2x grace (TornSlotReclaimMs), same as the manifest-slot path:
        // this branch AUTOMATICALLY deletes another writer's artifact on
        // commit contention, so it needs the doubled clock-skew headroom;
        // the 1x DefaultVacuumGraceMs stays reserved for operator-invoked
        // vacuum, where a human chose the retention.
        val aged = stOpt.exists(_.getModificationTime <
          System.currentTimeMillis() - TornSlotReclaimMs)
        if (stOpt.isEmpty) {
          chunkCache.remove(qualifiedKey(f, target))
        } else if (aged) {
          try f.delete(target, false) catch {
            case _: java.io.FileNotFoundException => () // reclaimer won
          }
          chunkCache.remove(qualifiedKey(f, target))
          System.err.println(s"graft-store: reclaimed torn chunk $target")
        } else {
          // give an in-flight racer (identical content by construction)
          // a moment to land its terminator
          var waited = 0
          while (waited < 2000 && complete().contains(false)) {
            Thread.sleep(100); waited += 100
          }
          if (complete().contains(false)) throw new java.io.IOException(
            s"graft-store: chunk $target exists but is torn and inside the " +
              "grace window — refusing to publish a manifest referencing it")
        }
      case _ => () // complete (reuse) or absent (claim below)
    }
    if (!f.exists(target)) {
      // claim must be ATOMIC exclusive-create, exactly like
      // writeManifest: the local FileSystem's create(overwrite=false)
      // is check-then-act, so a racer writing identical content could
      // TRUNCATE a complete chunk a published manifest already
      // references, tearing concurrent readers. On file:// claim with
      // O_EXCL (createNewFile); elsewhere rely on the FS's atomic
      // exclusive create. Losing the race is benign — content is
      // identical by construction (content-addressed name).
      val out: java.io.OutputStream =
        if (f.getScheme == "file") {
          val jf = new java.io.File(target.toUri.getPath)
          if (jf.createNewFile()) new java.io.FileOutputStream(jf) else null
        } else {
          try f.create(target, false) catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: java.nio.file.FileAlreadyExistsException => null // racer won
          }
        }
      if (out != null) {
        val w = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(out, "UTF-8"))
        // explicit LF terminator — same separator contract as
        // writeManifest (readChunk's readLine tolerates either, but one
        // byte format beats two)
        try { w.print(payload); w.print("end\n") } finally w.close()
        // PrintWriter swallows IOExceptions into a trouble flag — an
        // ENOSPC/stream error would otherwise read as a successful
        // chunk write and poison this content address (see writeManifest)
        if (w.checkError()) {
          // best-effort removal of OUR torn chunk (we own the exclusive
          // create) — leaving it would make every same-content retry
          // wait out the 2 s racer window and fail until the grace
          // window ages the corpse, even after the I/O condition clears
          try f.delete(target, false) catch { case _: java.io.IOException => () }
          chunkCache.remove(qualifiedKey(f, target))
          throw new java.io.IOException(
            s"graft-store: I/O error writing chunk $target")
        }
      }
    }
    name
  }

  private def readChunk(f: FileSystem, dir: HPath, name: String): Seq[GsbFile] = {
    val key = qualifiedKey(f, new HPath(dir, name))
    val hit = chunkCache.get(key)
    if (hit != null) return hit
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(new HPath(dir, name)), "UTF-8"))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
      require(lines.lastOption.contains("end"),
        s"graft-store: chunk $key is torn (no terminator)")
      val files = lines.dropRight(1).map(parseFileLine(_, key))
      chunkCache.put(key, files)
      files
    } finally in.close()
  }

  /** The manifest's `uid=` token via one bounded head read (the line
    * sits right after the version line; 128 bytes cover both). None for
    * pre-uid manifests or unreadable files. */
  private def headUid(f: FileSystem, path: HPath): Option[String] = {
    val in = try f.open(path) catch { case _: java.io.IOException => return None }
    try {
      val buf = new Array[Byte](128)
      var n = 0
      var eof = false
      while (n < buf.length && !eof) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) eof = true else n += r
      }
      parseHead(buf, n)
    } catch { case _: java.io.IOException => None } finally in.close()
  }

  private def parseHead(buf: Array[Byte], n: Int): Option[String] =
    new String(buf, 0, n, "UTF-8").linesIterator.take(2)
      .collectFirst { case l if l.startsWith("uid=") => l.stripPrefix("uid=") }

  private def parseManifestCached(f: FileSystem, ver: Long, path: HPath)
      : Option[GsbManifest] = {
    val st = try f.getFileStatus(path) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val key = qualifiedKey(f, path)
    val hit = manifestCache.get(key)
    if (hit != null && hit.mtime == st.getModificationTime &&
        hit.len == st.getLen) {
      // (mtime, length) alone cannot see a same-millisecond equal-length
      // re-create (DROP + CREATE reusing the version path) — but that
      // hazard only EXISTS while the entry is YOUNG: any re-create a
      // store-clock millisecond after the original lands a new mtime,
      // which the check above catches. The window is measured on the
      // DRIVER clock (now − insertAt) so store/driver clock OFFSET
      // cannot close it early — see ManifestCacheEntry. Outside the
      // window the hit is accepted on stat alone; inside it, one
      // bounded head read of the manifest's uid token settles identity.
      // Pre-uid manifests (uid None) keep the legacy contract.
      val inHazardWindow =
        System.currentTimeMillis() - hit.insertAt <= UidHazardWindowMs
      val fresh = !inHazardWindow || hit.parsed.uid.isEmpty ||
        headUid(f, path) == hit.parsed.uid
      if (fresh) return Some(hit.parsed)
    }
    val parsed = parseManifest(f, ver, path)
    // only completes are immutable; in-flight manifests must re-read
    parsed.foreach(m =>
      manifestCache.put(key, ManifestCacheEntry(st.getModificationTime,
        st.getLen, m, System.currentTimeMillis())))
    parsed
  }

  /** Latest COMPLETE committed snapshot, or None for an empty/absent
    * store. Manifest format is line-oriented text: `version`,
    * `schema=<json>` (single line — StructType.json never contains
    * newlines), one `file=<rel>\t<rows>\t<bytes>` per data file, then a
    * literal `end` terminator. A manifest without the terminator is an
    * in-flight or crashed write and is skipped (readers fall back to
    * the previous complete version), which is what makes exclusive
    * CREATE of the final name safe without a rename step. */
  private[sources] def latestManifest(root: String, conf: Configuration): Option[GsbManifest] = {
    val f = fs(root, conf)
    val dir = new HPath(root, "manifest")
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }
    versions.sortBy(-_._1).iterator
      .flatMap { case (ver, path) => parseManifestCached(f, ver, path) }
      .nextOption()
  }

  /** A SPECIFIC committed snapshot — time travel. None if that version
    * was never completely written. */
  private[sources] def manifestAt(root: String, conf: Configuration, version: Long): Option[GsbManifest] = {
    val f = fs(root, conf)
    val path = new HPath(new HPath(root, "manifest"), f"v$version%020d.manifest")
    parseManifestCached(f, version, path)
  }

  /** Header-only snapshot summary: (n_files, n_rows, n_bytes) off the
    * `summary=` line plus a TAIL SEEK for the completeness terminator —
    * O(1) I/O per version regardless of file count, which is what keeps
    * `$snapshots` / retention walks sub-second on a store whose
    * manifests hold 10⁶ file lines. Manifests written before the
    * summary line fall back to the full (cached) parse. */
  private[sources] def manifestSummaryAt(root: String, conf: Configuration,
      version: Long): Option[(Long, Long, Long)] = {
    val f = fs(root, conf)
    val path = new HPath(new HPath(root, "manifest"), f"v$version%020d.manifest")
    val st = try f.getFileStatus(path) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val in = f.open(path)
    try {
      // completeness first: the file must END with the exact terminator
      // LINE ("\nend\n" at EOF) — the same check parseManifest makes. A
      // substring match on the tail would promote a torn manifest whose
      // truncated last token merely contains "end" (a relPath like
      // 'weekend.parquet', an epoch id) into $snapshots/history.
      val tailLen = math.min(5L, st.getLen).toInt
      if (tailLen < 5) return None
      val tail = new Array[Byte](tailLen)
      in.seek(st.getLen - tailLen)
      in.readFully(tail)
      if (new String(tail, "UTF-8") != "\nend\n") return None
      in.seek(0L)
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      var line = rd.readLine()
      var hops = 0
      while (line != null && hops < 8 && !line.startsWith("file=")) {
        if (line.startsWith("summary=")) {
          line.stripPrefix("summary=").split("\t", -1) match {
            case Array(nf, nr, nb) =>
              return Some((nf.toLong, nr.toLong, nb.toLong))
            case _ => ()
          }
        }
        line = rd.readLine(); hops += 1
      }
      // pre-summary manifest: full parse (cached)
      parseManifestCached(f, version, path)
        .map(m => (m.files.size.toLong, m.files.map(_.rows).sum,
          m.files.map(_.bytes).sum))
    } finally in.close()
  }

  private def parseManifest(f: FileSystem, ver: Long, path: HPath): Option[GsbManifest] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(f.open(path), "UTF-8"))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
      if (!lines.lastOption.contains("end")) None // incomplete write: skip
      else {
        val schema = lines.collectFirst { case l if l.startsWith("schema=") =>
          DataType.fromJson(l.stripPrefix("schema=")).asInstanceOf[StructType] }
          .getOrElse(throw new IllegalStateException(s"graft-store: manifest $path has no schema"))
        // file list: flat `file=` lines, or `chunk=` references to
        // content-addressed segment files (large stores) — in line order
        // either way. The 4th tab field of a file line (per-column
        // min/max stats) is optional: manifests written before data
        // skipping parse unchanged.
        val chunkDir = path.getParent
        // chunks are independent immutable segments — parse them in
        // PARALLEL (a 10⁶-file manifest is 20 × 50k-line chunks; the
        // cold parse drops from ~1.4 s sequential to the longest single
        // chunk on a multicore driver). Names first, in order, so the
        // concatenation preserves manifest order exactly.
        val chunkNames = lines.collect {
          case l if l.startsWith("chunk=") =>
            l.stripPrefix("chunk=").split("\t", -1)(0)
        }
        val parsedChunks: Map[String, Seq[GsbFile]] =
          if (chunkNames.size <= 1)
            chunkNames.map(n => n -> readChunk(f, chunkDir, n)).toMap
          else {
            import scala.concurrent.{Await, Future, ExecutionContext}
            import scala.concurrent.duration.Duration
            implicit val ec: ExecutionContext = ChunkParsePool
            Await.result(
              Future.traverse(chunkNames.distinct)(n =>
                Future(n -> readChunk(f, chunkDir, n))),
              Duration.Inf).toMap
          }
        val chunkRefs = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
        val files = lines.flatMap {
          case l if l.startsWith("file=") =>
            Seq(parseFileLine(l, path.toString))
          case l if l.startsWith("chunk=") =>
            val name = l.stripPrefix("chunk=").split("\t", -1)(0)
            val seg = parsedChunks(name)
            chunkRefs += ((name, seg.size))
            seg
          case _ => Seq.empty
        }
        val epochs = lines.collect { case l if l.startsWith("epoch=") =>
          l.stripPrefix("epoch=") }.toSet
        // optional lines — manifests written before column evolution /
        // commit timestamps parse unchanged
        val colops = lines.collect { case l if l.startsWith("colop=") =>
          l.stripPrefix("colop=").split("\t", -1) match {
            case Array("rename", from, to) => GsbColOp("rename", from, to)
            case Array("drop", name, _) => GsbColOp("drop", name, "")
            case other => throw new IllegalStateException(
              s"graft-store: malformed colop line in $path: ${other.mkString("|")}")
          }
        }
        val ts = lines.collectFirst { case l if l.startsWith("ts=") =>
          l.stripPrefix("ts=").toLong }
        val uid = lines.collectFirst { case l if l.startsWith("uid=") =>
          l.stripPrefix("uid=") }
        val cluster = lines.collectFirst { case l if l.startsWith("cluster=") =>
          l.stripPrefix("cluster=").split("\t", -1).toSeq.filter(_.nonEmpty) }
          .getOrElse(Seq.empty)
        val clusterParts = lines.collectFirst {
          case l if l.startsWith("clusterparts=") =>
            l.stripPrefix("clusterparts=").toInt }.getOrElse(0)
        Some(GsbManifest(ver, schema, files, epochs, colops, ts,
          chunkRefs.toSeq, uid, cluster, clusterParts))
      }
    } finally in.close()
  }

  /** Publish snapshot `version` by EXCLUSIVE create of the final name
    * (`overwrite=false` — fails if it exists on HDFS and local FS
    * alike, unlike rename, which POSIX happily lets clobber an existing
    * target). Partial visibility during the write is handled on the
    * read side: a manifest is only honored once its `end` terminator
    * landed, so a concurrent reader sees the previous snapshot. */
  private[sources] def writeManifest(
      root: String, conf: Configuration, version: Long,
      schema: StructType, files: Seq[GsbFile],
      epochs: Set[String] = Set.empty,
      colops: Seq[GsbColOp] = Seq.empty,
      prev: Option[GsbManifest] = None,
      cluster: Seq[String] = Seq.empty,
      clusterParts: Int = 0): Unit = {
    val f = fs(root, conf)
    val dir = new HPath(root, "manifest")
    f.mkdirs(dir)
    val target = new HPath(dir, f"v$version%020d.manifest")
    // the version slot claim must be ATOMIC create-exclusive: exactly
    // one writer may own v{N}. HDFS create(overwrite=false) is atomic
    // at the namenode, but the local FileSystem's is check-then-act —
    // two racing writers can both pass the exists() check and clobber
    // each other. On file:// claim the slot with O_EXCL
    // (File.createNewFile); content visibility stays governed by the
    // `end` terminator either way, so a half-written claimed slot just
    // parks competitors on the previous snapshot until it completes.
    // Race vs. failure taxonomy: only "the slot already exists" is a
    // race (createNewFile()==false; HDFS FileAlreadyExistsException).
    // Any other IOException (permissions, ENOSPC, bad path) is a genuine
    // IO failure and must propagate AS an IO failure — wrapping it as a
    // race would make commitLoop retry a disk error 8 times with backoff
    // and then report it as "another writer won this version".
    val stream: java.io.OutputStream =
      if (f.getScheme == "file") {
        val jf = new java.io.File(target.toUri.getPath)
        if (!jf.createNewFile()) throw new GsbCommitRaceException(
          s"graft-store: commit race publishing $target — another writer won this version", null)
        new java.io.FileOutputStream(jf)
      } else {
        // REQUIREMENT (r11 ADVICE): the optimistic commit protocol is
        // only safe on filesystems whose create(path, overwrite=false)
        // is ATOMIC exclusive-create — HDFS (namenode-arbitrated) and
        // file:// (O_EXCL above) qualify. Object stores without an
        // atomic conditional put (plain s3a) can let two writers both
        // "win" a slot and interleave manifest bytes; deploy those
        // behind a consistency layer (S3 conditional writes / a
        // commit-coordinator FS) or point the store at HDFS. The `end`
        // terminator guards torn READS, not duplicate WRITERS.
        try f.create(target, false)
        catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException) =>
            throw new GsbCommitRaceException(
              s"graft-store: commit race publishing $target — another writer won this version", e)
        }
      }
    // all lines written with an EXPLICIT "\n": the reader's
    // completeness checks (manifestSummaryAt's exact "\nend\n" tail,
    // parseManifest's terminator line) assume LF, and PrintWriter's
    // println would emit the platform separator — on a CRLF JVM every
    // committed manifest would look torn to the summary path while the
    // readLine path accepted it (r14 ADVICE divergence).
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(stream, "UTF-8"))
    def ln(s: String): Unit = { out.print(s); out.print("\n") }
    try {
      ln(version.toString)
      // identity token — lets the parsed-manifest cache detect a
      // same-millisecond equal-length re-create at this path
      ln(s"uid=${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}")
      ln(s"schema=${schema.json}")
      // header summary: history/retention walks read THIS line + the
      // tail terminator instead of parsing every file line (O(1) per
      // version at any file count — see manifestSummaryAt)
      ln(s"summary=${files.size}\t${files.map(_.rows).sum}" +
        s"\t${files.map(_.bytes).sum}")
      if (files.size >= 2 * chunkSize) {
        // large store: file list as content-addressed chunks. Append
        // commits are O(delta + ChunkSize) two ways: STRUCTURALLY — when
        // the new list starts with the previous manifest's files (the
        // append shape), its full segments carry over by NAME without
        // being re-rendered or re-hashed — and by CONTENT — any other
        // segment that hashes to an existing chunk skips the write
        // (DML reorders land here).
        val carried = prev match {
          case Some(p) if p.chunks.nonEmpty && files.size >= p.files.size &&
              files.startsWith(p.files) =>
            // prev's full segments sit on our fixed boundaries iff they
            // hold exactly chunkSize files; stop at the first partial
            p.chunks.takeWhile(_._2 == chunkSize)
          case _ => Seq.empty
        }
        var off = 0
        carried.foreach { case (name, n) =>
          val seg = files.slice(off, off + n)
          ln(s"chunk=$name\t$n\t${seg.map(_.rows).sum}" +
            s"\t${seg.map(_.bytes).sum}")
          off += n
        }
        files.drop(off).grouped(chunkSize).foreach { seg =>
          val name = writeChunk(f, dir, seg.map(renderFileLine))
          ln(s"chunk=$name\t${seg.size}\t${seg.map(_.rows).sum}" +
            s"\t${seg.map(_.bytes).sum}")
        }
      } else files.foreach(e => ln(renderFileLine(e)))
      epochs.toSeq.sorted.foreach(e => ln(s"epoch=$e"))
      colops.foreach { op =>
        require(!op.from.contains("\t") && !op.to.contains("\t") &&
          !op.from.contains("\n") && !op.to.contains("\n"),
          s"graft-store: column name '${op.from}'/'${op.to}' would corrupt " +
            "the line-oriented manifest")
        ln(s"colop=${op.kind}\t${op.from}\t${op.to}")
      }
      if (cluster.nonEmpty) {
        cluster.foreach(c => require(!c.contains("\t") && !c.contains("\n"),
          s"graft-store: cluster column name '$c' would corrupt the manifest"))
        ln("cluster=" + cluster.mkString("\t"))
        if (clusterParts > 0) ln(s"clusterparts=$clusterParts")
      }
      // commit wall-clock (millis) — the TIMESTAMP AS OF anchor
      ln(s"ts=${System.currentTimeMillis()}")
      ln("end")
    } finally out.close()
    // PrintWriter swallows IOExceptions into a trouble flag: without
    // this check an ENOSPC/stream failure mid-manifest would return
    // normally and report the commit as SUCCESSFUL while the manifest
    // has no terminator — the write silently lost. Surface it as the
    // I/O failure it is (the torn slot itself is reclaimed by
    // commitLoop's grace-window cleanup).
    if (out.checkError()) throw new java.io.IOException(
      s"graft-store: I/O error writing manifest $target — commit NOT published")
  }

  /** Optimistic-concurrency commit loop. Each attempt re-reads the
    * LATEST snapshot, rebuilds the next manifest against it, and tries
    * the exclusive version publish ([[writeManifest]]'s create-no-
    * overwrite is the atomicity primitive — exactly one writer can own
    * a version slot). Losing the slot means another committer advanced
    * the store between our snapshot read and publish: re-read and
    * rebuild, up to `maxRetries` times. The caller's `attempt` decides
    * per-base whether the commit is still valid against the advanced
    * snapshot (append: yes, rebuild the union; overwrite racing anyone,
    * or append racing a destructive writer: throw loudly) and returns
    * None for a no-op (e.g. a replayed streaming epoch detected against
    * the new base). This is O(retries · manifest-size) driver-side work
    * with no coordination service — the same single-directory optimistic
    * protocol production lakehouses use. */
  private[sources] def commitLoop(root: String, conf: Configuration,
      maxRetries: Int = 8)(
      attempt: Option[GsbManifest] => Option[GsbNext])
      : Unit = {
    var tries = 0
    while (true) {
      val prev = latestManifest(root, conf)
      attempt(prev) match {
        case None => return
        case Some(next @ GsbNext(schema, files, epochs, colops, _)) =>
          try {
            // clustering metadata is table-level and survives every
            // commit shape (append/overwrite/DML/compact/evolution) —
            // propagated HERE so no GsbNext builder can silently drop
            // it, the same hazard the colop carry comment warns about.
            // EXCEPT when the committed schema no longer carries every
            // cluster column (an overwrite that replaced the shape):
            // advertising clustering on columns the table lost would
            // lie to DESCRIBE and to future writes, so the spec clears.
            val prevCluster = prev.map(_.cluster).getOrElse(Seq.empty)
            val keep = prevCluster.forall(schema.fieldNames.contains)
            writeManifest(root, conf, prev.map(_.version + 1).getOrElse(1L),
              schema, files, epochs, colops, prev,
              cluster = if (keep) prevCluster else Seq.empty,
              clusterParts =
                if (keep) next.clusterPartsOverride
                  .getOrElse(prev.map(_.clusterParts).getOrElse(0))
                else 0)
            return
          } catch {
            case e: GsbCommitRaceException =>
              // a TORN slot (a writer that died between the exclusive
              // create and the terminator) would otherwise wedge the
              // store forever: latestManifest skips it, every attempt
              // recomputes the same next version, and the exclusive
              // create loses to a corpse. Reclaim the slot when its
              // manifest is incomplete AND older than the vacuum grace
              // window (an in-flight writer inside the window is
              // protected — its terminator may still be coming).
              val ver = prev.map(_.version + 1).getOrElse(1L)
              if (reclaimTornSlot(root, conf, ver)) {
                // corpse removed; retry the same attempt immediately
              } else {
                if (tries >= maxRetries) throw e
                tries += 1
                // linear backoff: the slot owner may still be writing
                // its content (we only see its snapshot once the
                // terminator lands), so give it time before re-reading
                Thread.sleep(25L * tries)
              }
          }
      }
    }
  }

  /** Delete version slot `ver`'s manifest iff it is TORN (no
    * terminator) and older than [[TornSlotReclaimMs]] — the corpse of a
    * crashed writer, never an in-flight one. Returns true when the slot
    * was reclaimed (callers may immediately retry the exclusive
    * create). Also invalidates any cached parse of the path.
    *
    * Like [[vacuum]], the age test compares a STORE mtime against the
    * DRIVER's clock, so a store clock running fast ages an in-flight
    * writer's slot out early (see the DefaultVacuumGraceMs caveat). The
    * threshold here is deliberately WIDER (2×) than the vacuum grace:
    * vacuum is operator-invoked and its grace is a conscious parameter,
    * while this path fires automatically on every commit contention —
    * an automatic delete of another writer's slot deserves more skew
    * headroom than a human-triggered GC. */
  private[sources] val TornSlotReclaimMs: Long = 2 * DefaultVacuumGraceMs
  private def reclaimTornSlot(root: String, conf: Configuration,
      ver: Long): Boolean = {
    val f = fs(root, conf)
    val slot = new HPath(new HPath(root, "manifest"), f"v$ver%020d.manifest")
    try {
      val st = f.getFileStatus(slot)
      val torn = manifestSummaryAt(root, conf, ver).isEmpty
      val aged =
        st.getModificationTime < System.currentTimeMillis() - TornSlotReclaimMs
      if (torn && aged && f.delete(slot, false)) {
        manifestCache.remove(qualifiedKey(f, slot))
        System.err.println(s"graft-store: reclaimed torn manifest slot $slot " +
          "(crashed writer older than the grace window)")
        true
      } else false
    } catch { case _: java.io.FileNotFoundException => false }
  }

  /** Names-and-types (nullability-insensitive) schema signature, used to
    * reject appends whose schema drifted from the stored snapshot's. */
  private[sources] def signature(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(fd => (fd.name, fd.dataType.sql))

  /** Schema EVOLUTION check for appends: legal iff every stored field is
    * present in `incoming` with the same type (by name — column order
    * may differ), and every NEW field is nullable (old files have no
    * value for it, so reads must be able to fill null). Returns an error
    * description, or None if the append may proceed. */
  private[sources] def evolutionError(
      stored: StructType, incoming: StructType,
      tombstones: Set[String] = Set.empty): Option[String] = {
    val in = incoming.fields.map(f => f.name -> f).toMap
    val missing = stored.fields.filter(f => !in.contains(f.name))
    if (missing.nonEmpty)
      return Some(s"stored column(s) ${missing.map(_.name).mkString(", ")} " +
        "absent from the append")
    val retyped = stored.fields.filter(f =>
      in(f.name).dataType.sql != f.dataType.sql)
    if (retyped.nonEmpty)
      return Some(s"column(s) ${retyped.map(_.name).mkString(", ")} change type")
    val newNonNull = incoming.fields.filter(f =>
      !stored.fieldNames.contains(f.name) && !f.nullable)
    if (newNonNull.nonEmpty)
      return Some(s"new column(s) ${newNonNull.map(_.name).mkString(", ")} " +
        "must be nullable (existing files cannot supply a value)")
    // a dropped/renamed-away name is permanently reserved: committed
    // files still hold data under it, and re-binding it would resurrect
    // that data into the new column (see GsbColOp)
    val reused = incoming.fields.filter(f =>
      !stored.fieldNames.contains(f.name) && tombstones.contains(f.name))
    if (reused.nonEmpty)
      return Some(s"new column(s) ${reused.map(_.name).mkString(", ")} " +
        "reuse a dropped/renamed name (reserved until an overwrite " +
        "resets column history)")
    None
  }

  /** The widened snapshot schema an evolving append publishes: stored
    * fields keep their order and types; genuinely new fields append in
    * the incoming order, forced nullable. */
  private[sources] def widen(stored: StructType, incoming: StructType): StructType =
    StructType(stored.fields ++
      incoming.fields.filter(f => !stored.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)))

  /** Delete data files neither the LATEST manifest nor any TAGGED
    * snapshot references (orphans from aborted/speculative attempts,
    * overwritten snapshots). Tags are GC roots — a tagged version stays
    * fully readable after vacuum; readers of untagged older version
    * pins lose their files, so pin-by-number is a session-scoped tool
    * and pin-by-tag the durable one. Run between queries. */
  def vacuum(path: String, graceMs: Long = DefaultVacuumGraceMs): Long = {
    val conf = driverConf()
    val f = fs(path, conf)
    val now = System.currentTimeMillis()
    // grace window (Delta-style retention): a data/chunk file younger
    // than graceMs is NEVER a vacuum candidate, referenced or not. The
    // store supports concurrent optimistic commits, so an in-flight
    // append can have landed its files/chunks while its manifest
    // terminator has not — vacuuming those would let the commit publish
    // a manifest referencing deleted bytes. Single-writer callers
    // (tests, fixture builders) pass graceMs = 0 for immediate GC.
    def graced(st: org.apache.hadoop.fs.FileStatus): Boolean =
      graceMs > 0 && st.getModificationTime > now - graceMs
    val dataDir = new HPath(path, "data")
    // GC roots = the latest manifest PLUS every tagged snapshot: a tag
    // is the reproducibility contract ("this name keeps reading exactly
    // that dataset"), so its files must survive vacuum even after an
    // overwrite/compaction stops referencing them from latest. Cost is
    // O(refs · manifest-size) driver-side manifest reads — refs are
    // human-created and few.
    val referenced =
      (latestManifest(path, conf).toSeq ++
        listRefs(path, conf).flatMap { case (_, v) => manifestAt(path, conf, v) })
        .flatMap(_.files.map(_.relPath)).toSet
    var n = 0L
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      if (!referenced.contains(s"data/${st.getPath.getName}") && !graced(st)) {
        f.delete(st.getPath, false); n += 1
      }
    }
    // chunk GC: a chunk is live while ANY manifest version references it
    // (old versions stay time-travelable until their manifests go, which
    // they never do today — so orphans are only the dead tail segments a
    // superseded/raced commit left behind). Referenced names come from a
    // light line scan of every manifest — chunk files are NOT loaded.
    val mdir = new HPath(path, "manifest")
    if (f.exists(mdir)) {
      val manifests = f.listStatus(mdir).map(_.getPath)
        .filter(_.getName.endsWith(".manifest"))
      val liveChunks: Set[String] = manifests.flatMap { mp =>
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(f.open(mp), "UTF-8"))
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.startsWith("chunk="))
          .map(_.stripPrefix("chunk=").split("\t", -1)(0)).toVector
        finally in.close()
      }.toSet
      f.listStatus(mdir).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("chunk-") && nm.endsWith(".list") &&
            !liveChunks.contains(nm) && !graced(st)) {
          f.delete(st.getPath, false); n += 1
        }
      }
    }
    n
  }

  /** Retention: delete the MANIFESTS of committed snapshots older than
    * the newest `keepLast`, except snapshots a tag pins (tags are the
    * durable reproducibility contract — expire never touches them).
    * This is the other half of [[vacuum]]'s lifecycle: vacuum frees
    * DATA files the latest+tagged snapshots no longer reference, while
    * expire bounds the MANIFEST history — without it a long-lived store
    * accumulates one manifest per commit forever, every `$snapshots`
    * walk pays O(all-versions), and chunk GC can free nothing (a chunk
    * is live while ANY manifest references it, so ancient manifests pin
    * the whole chunk lineage). Expired versions stop being
    * time-travelable by NUMBER; pin-by-tag remains exact. In-flight
    * (terminator-less) manifests are never touched — they belong to a
    * racing writer. Returns the number of manifests deleted; run
    * [[vacuum]] after to collect the newly-orphaned data files and
    * chunks. */
  def expireSnapshots(path: String, keepLast: Int = 1): Long = {
    require(keepLast >= 1, "expireSnapshots must keep at least the latest snapshot")
    val conf = driverConf()
    val f = fs(path, conf)
    val dir = new HPath(path, "manifest")
    if (!f.exists(dir)) return 0L
    val complete = f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) if manifestSummaryAt(path, conf, v.toLong).nonEmpty =>
          Some((v.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(-_._1)
    val pinned = listRefs(path, conf).map(_._2).toSet ++
      complete.take(keepLast).map(_._1)
    var n = 0L
    complete.drop(keepLast).foreach { case (v, p) =>
      if (!pinned.contains(v)) {
        // normalized-key removal (insertions go through qualifiedKey).
        // Belt-and-braces only: parseManifestCached re-stats the file
        // first, so a deleted manifest can never serve from cache.
        manifestCache.remove(qualifiedKey(f, p))
        f.delete(p, false); n += 1
      }
    }
    n
  }

  /** All published refs as (name, version), sorted by name. */
  def listRefs(path: String, conf: Configuration = driverConf()): Seq[(String, Long)] = {
    val f = fs(path, conf)
    val dir = new HPath(path, "refs")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName).sorted
      // a single torn ref (crashed tag publish) must not take down
      // every consumer of the ref LIST — vacuum, expireSnapshots and
      // DESCRIBE all walk it. The torn ref never finished publishing,
      // so skipping it (loudly) is the honest reading; resolving it BY
      // NAME still fails with the precise error.
      .flatMap { n =>
        try Some(n -> resolveRef(path, conf, n))
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"graft-store: skipping ref '$n': ${e.getMessage}")
            None
        }
      }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-store").load(path)

  /** Latest complete snapshot version, or None for an empty/absent
    * store — the cheap existence probe a write-if-absent materializer
    * needs (one directory listing, no data touched). */
  def currentVersion(path: String): Option[Long] =
    latestManifest(path, driverConf()).map(_.version)

  /** Snapshot-history metadata table — the `table$snapshots` surface a
    * lakehouse exposes for audits and retention planning: one row per
    * committed version with its live file count, exact row count, and
    * byte footprint, straight off the immutable manifests. Cost is an
    * O(versions) driver-side manifest walk (each manifest is one line
    * per file); NO data file is opened, so the history of a 100 TB
    * store reads in milliseconds. Row counts come from the per-file
    * counts each writing task recorded at commit time, so they are
    * exact for any snapshot, including time-traveled ones. */
  def snapshots(spark: SparkSession, path: String): DataFrame = {
    val conf = driverConf()
    val cur = currentVersion(path).getOrElse(0L)
    // header-only summaries: O(versions) tiny reads, never O(V·files)
    val rows = (1L to cur).flatMap { v =>
      manifestSummaryAt(path, conf, v).map { case (nf, nr, nb) =>
        (v, nf, nr, nb) }
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "n_rows", "n_bytes")
  }

  /** Build-once / read-many: write `build` to `root` IF this store is
    * still empty, then return a snapshot-pinned read. The ingest-side
    * half of every derived-artifact story (materialized graph, ANN
    * index): the expensive derivation runs at most once per store root,
    * and every consumer pays only the scan. The caller must key `root`
    * so that distinct inputs never share a store (fixture dir) and
    * concurrent processes never race (pid suffix — see the operators'
    * root helpers). Synchronized so two threads in one process can't
    * both see "empty" and double-build. */
  def materializeOnce(spark: SparkSession, root: String)(build: => DataFrame): DataFrame =
    this.synchronized {
      if (currentVersion(root).isEmpty) write(build, root, overwrite = true)
      read(spark, root)
    }

  /** Incremental (CDC-style) read: rows in files the CURRENT snapshot
    * has that snapshot `sinceVersion` lacked. For an append-only store
    * this is exactly the appended rows; rewrites (overwrite/compaction)
    * surface as re-additions — file-level CDC's standard contract. */
  def readChanges(spark: SparkSession, path: String, sinceVersion: Long): DataFrame =
    spark.read.format("graft-store")
      .option("sinceVersion", sinceVersion).load(path)

  /** The REMOVED side of the file-level CDC contract: rows in files
    * snapshot `sinceVersion` had that the CURRENT snapshot lacks — for
    * a DELETE/MERGE this is every rewritten file's old content (deleted
    * rows plus surviving rows, which re-appear on [[readChanges]]'s
    * added side). Implementation composes the two existing scan pins:
    * time-travel the scan TO `sinceVersion` with the LATEST snapshot as
    * the exclusion baseline — kept files = old \ latest = exactly the
    * removed set, resolved at planning time. Cost ∝ rewritten files
    * (the DML delta), never the table: untouched files appear in both
    * manifests and are excluded before any task launches. */
  def readRemoved(spark: SparkSession, path: String, sinceVersion: Long): DataFrame = {
    val latest = latestManifest(path, driverConf()).getOrElse(
      throw new IllegalArgumentException(
        s"graft-store: no manifest under $path — nothing to diff")).version
    spark.read.format("graft-store")
      .option("version", sinceVersion)
      .option("sinceVersion", latest)
      .load(path)
  }

  /** NET-DELETED keys since `sinceVersion`: key tuples present in the
    * removed file set but absent from the added file set — the exact
    * delete batch a copy-on-write DELETE/MERGE applied, recovered from
    * file-level CDC without any row-level change log. Both sides are
    * DML-delta-sized (only rewritten files participate), so the EXCEPT
    * shuffles the delta, never the table. `keyCols` must identify rows
    * uniquely (an upsert that CHANGES a key surfaces as delete+insert,
    * the standard CDC reading). */
  def netDeletedKeys(spark: SparkSession, path: String, sinceVersion: Long,
      keyCols: Seq[String]): DataFrame = {
    val k = keyCols.map(org.apache.spark.sql.functions.col)
    readRemoved(spark, path, sinceVersion).select(k: _*)
      .except(readChanges(spark, path, sinceVersion).select(k: _*))
  }

  /** Rewrite the current snapshot into `targetFiles` data files — the
    * small-file compaction a long-lived append store needs (every
    * micro-batch epoch adds partition-count files; readers pay per
    * file). Safe against itself: the read pins the pre-compaction
    * manifest at planning time and overwrite never deletes data files
    * inline, so the rewrite reads a stable snapshot and the swap is one
    * atomic manifest publish. Old files become vacuum fodder. */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val clustered = latestManifest(path, driverConf()).exists(_.cluster.nonEmpty)
    val df = read(spark, path)
    // a CLUSTERED table re-clusters on rewrite: its write already
    // requires range distribution + sort on the cluster columns, so a
    // hash repartition here would just add a shuffle whose layout the
    // required exchange immediately replaces. Compaction is therefore
    // also the RE-CLUSTER operation: appended snapshots whose files
    // overlap in range come out as contiguous slices again. The
    // caller's targetFiles rides the per-write `write.partitions`
    // override so compact keeps its file-count contract — without it a
    // table with clusterParts=0 (AQE-sized) below one advisory
    // partition would collapse to ONE file with nothing to prune.
    if (clustered)
      df.write.format("graft-store").mode("overwrite")
        .option("write.partitions", targetFiles).save(path)
    else write(df.repartition(targetFiles), path, overwrite = true)
  }

  /** Path-based row-level DELETE — the API twin of the catalog's
    * `DELETE FROM ... WHERE` (same [[GsbDelete]] copy-on-write: files
    * whose stats prove no match carry forward untouched at the
    * manifest level; only possibly-matching files rewrite their
    * survivors). The delete then surfaces through the file-level CDC
    * pair [[readChanges]]/[[readRemoved]], which is what downstream
    * index maintenance ([[StoredIndex]]) consumes. */
  def delete(path: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(filters.forall(GsbDelete.translatable),
      "graft-store: delete filter not expressible as a Column " +
        s"(${filters.mkString(", ")})")
    GsbDelete.deleteWhere(path, filters)
  }

  def write(df: DataFrame, path: String, overwrite: Boolean = false): Unit =
    df.write.format("graft-store").mode(if (overwrite) "overwrite" else "append").save(path)

  private val RefNameRe = "[A-Za-z0-9._-]{1,64}".r

  /** Publish an IMMUTABLE named ref (tag) `name` → `version`, read back
    * via `.option("ref", name)`. Tags make snapshot pinning
    * human-addressable ("train-2026-08", "release-3") — the
    * reproducibility handle a training-data consumer records instead of
    * a raw version number. Immutability is the concurrency design: the
    * ref file is claimed with the same exclusive-create primitive as a
    * manifest version slot, so a name is either fully published exactly
    * once or the second publisher fails loudly — there is no update
    * path to race on (a moving branch head would need an atomic
    * compare-and-swap, which file:// rename does not provide; tags
    * deliberately avoid needing one). Cost: O(1) driver-side — one
    * file, one line — independent of store size. */
  def tag(path: String, name: String, version: Long): Unit = {
    require(RefNameRe.matches(name),
      s"graft-store: invalid ref name '$name' (allowed: [A-Za-z0-9._-]{1,64})")
    val conf = driverConf()
    require(manifestAt(path, conf, version).nonEmpty,
      s"graft-store: cannot tag '$name' — no complete manifest version $version under $path")
    val f = fs(path, conf)
    val dir = new HPath(path, "refs")
    f.mkdirs(dir)
    val target = new HPath(dir, name)
    val stream: java.io.OutputStream =
      if (f.getScheme == "file") {
        val jf = new java.io.File(target.toUri.getPath)
        if (!jf.createNewFile()) throw new IllegalStateException(
          s"graft-store: ref '$name' already exists under $path (tags are immutable)")
        new java.io.FileOutputStream(jf)
      } else {
        try f.create(target, false)
        catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException) =>
            throw new IllegalStateException(
              s"graft-store: ref '$name' already exists under $path (tags are immutable)", e)
        }
      }
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(stream, "UTF-8"))
    try { out.print(version); out.print("\n") } finally out.close()
    if (out.checkError()) throw new java.io.IOException(
      s"graft-store: I/O error writing ref $target — tag NOT published")
  }

  /** Tag the LATEST complete snapshot; returns the tagged version. */
  def tag(path: String, name: String): Long = {
    val v = latestManifest(path, driverConf()).getOrElse(
      throw new IllegalArgumentException(
        s"graft-store: no manifest under $path — nothing to tag")).version
    tag(path, name, v)
    v
  }

  private[sources] def resolveRef(root: String, conf: Configuration, name: String): Long = {
    val f = fs(root, conf)
    val target = new HPath(new HPath(root, "refs"), name)
    if (!f.exists(target)) throw new IllegalArgumentException(
      s"graft-store: unknown ref '$name' under $root")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(target), "UTF-8"))
    // a zero-byte/garbled ref is the corpse of a tag() that died between
    // the exclusive create and the version line — surface it as a loud
    // ARGUMENT error (readLine's null would NPE here, and that NPE used
    // to propagate out of vacuum/expire/DESCRIBE via listRefs)
    val line = try Option(in.readLine()).map(_.trim) finally in.close()
    line.flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
      s"graft-store: ref '$name' under $root is torn/empty " +
        "(a tag publish died mid-write); delete the ref file to clear it"))
  }

  /** The snapshot a read pins: an explicit `version` option wins, else
    * a `ref` option resolves through refs/, else None (latest). */
  private[sources] def pinnedVersion(root: String, conf: Configuration,
      options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("version")).map(_.toLong)
      .orElse(Option(options.get("ref")).map(resolveRef(root, conf, _)))
}

private[sources] class GraftStoreTable(root: String, schema0: StructType,
    pinned: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_gsb_file` — the data file a row lives in, as a hidden metadata
    * column (`SELECT _gsb_file, * FROM t` for provenance). Doubles as
    * the GROUP IDENTITY for row-level rewrites: Spark only engages the
    * ReplaceData row/metadata projections when the operation requires
    * metadata attributes, and file is the natural COW group. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GsbFileColumn.Name
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "graft-store data file holding this row"
    })
  override def name(): String = s"graft_store($root)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  /** The table's declared clustering columns as identity transforms —
    * what SHOW CREATE TABLE / DESCRIBE report as the partitioning. The
    * physical contract lives in the write path (see
    * [[GsbClusteredWrite.maybe]]): clustered tables require range
    * distribution + sort on these columns, which makes per-file
    * min/max stats the partition index. A version-pinned table reports
    * the PINNED snapshot's spec — metadata must describe the snapshot
    * actually being read, not whatever the table evolved into later. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val conf = GraftStore.driverConf()
    pinned.flatMap(v => GraftStore.manifestAt(root, conf, v))
      .orElse(GraftStore.latestManifest(root, conf))
      .map(_.cluster).getOrElse(Seq.empty)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray
  }

  /** Surfaced by DESCRIBE EXTENDED: the snapshot this table resolves to
    * and every published ref — the at-a-glance lineage a user checks
    * before pinning. O(refs) driver-side metadata reads. */
  override def properties(): JMap[String, String] = {
    val conf = GraftStore.driverConf()
    val m = new java.util.HashMap[String, String]()
    m.put("format", "graft-store")
    m.put("location", root)
    GraftStore.latestManifest(root, conf)
      .foreach(man => m.put("current_version", man.version.toString))
    // clustering metadata from the snapshot actually being read
    pinned.flatMap(v => GraftStore.manifestAt(root, conf, v))
      .orElse(GraftStore.latestManifest(root, conf))
      .foreach { man =>
        if (man.cluster.nonEmpty) {
          m.put("clustered_by", man.cluster.mkString(","))
          if (man.clusterParts > 0)
            m.put("write.partitions", man.clusterParts.toString)
        }
      }
    pinned.foreach(v => m.put("pinned_version", v.toString))
    GraftStore.listRefs(root, conf)
      .foreach { case (n, v) => m.put(s"ref.$n", v.toString) }
    m
  }

  /** SQL `DELETE FROM graft.ns.t WHERE ...` — a file-pruned
    * copy-on-write: files whose min/max stats PROVE no row matches are
    * carried forward untouched at the manifest level (zero data
    * movement); only possibly-matching files are re-read and their
    * surviving rows rewritten. At 100 TB a keyed delete touches the
    * files the key lands in, never the table. A version-pinned table
    * (VERSION AS OF) refuses — history is immutable. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinned.isEmpty && filters.forall(GsbDelete.translatable)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    GsbDelete.deleteWhere(root, filters)

  /** SQL `DELETE FROM t` / TRUNCATE: one empty-file-list manifest
    * commit — O(1) metadata, no data touched; old snapshots stay
    * readable until vacuumed. */
  override def truncateTable(): Boolean = {
    if (pinned.nonEmpty) return false
    GraftStore.commitLoop(root, GraftStore.driverConf()) { prev =>
      // zero files reference history, so the colop record can reset too
      Some(GsbNext(prev.map(_.schema).getOrElse(schema0), Seq.empty,
        Set.empty, Seq.empty))
    }
    true
  }

  /** SQL UPDATE / MERGE INTO (and DELETE with predicates
    * `canDeleteWhere` cannot translate): Spark's group-based rewrite.
    * The operation's scan pins the CURRENT snapshot, the rewrite plan
    * recomputes every surviving/updated row, and the write replaces the
    * snapshot in one overwrite commit — copy-on-write at snapshot
    * granularity (runtime group filtering would narrow this to matched
    * files; the stats-pruned fast path for simple predicates is
    * `deleteWhere` above). History stays time-travelable — overwrite
    * never deletes files inline. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GsbRowLevelOperation(root, info.command())
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GsbScanBuilder(root,
      // a catalog-level pin (VERSION AS OF) wins; read options cover
      // the path-based surface, which never constructs a pinned table
      pinned.orElse(
        GraftStore.pinnedVersion(root, GraftStore.driverConf(), options)),
      Option(options.get("sinceVersion")).map(_.toLong),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      // internal (GsbDelete): restrict the scan to a file subset so
      // copy-on-write rewrites read ONLY the files they will replace
      Option(options.get("onlyFiles")).map(_.split(",").toSet))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GsbWriteBuilder(root, info)
}

// ---------------------------------------------------------------- write

private[sources] class GsbClusteredWrite(inner: Write, cluster: Seq[String],
    parts: Int)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
  private def orders = cluster.map(c =>
    Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.ordered(orders)
  override def requiredOrdering() = orders
  /** 0 lets AQE size the range shuffle (advisory-sized files — the
    * cluster-scale default); the `write.partitions` table property
    * pins it, without which a small table coalesces to one file and
    * stats pruning has nothing to drop. */
  override def requiredNumPartitions(): Int = parts
  override def toBatch: BatchWrite = inner.toBatch
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    inner.toStreaming
  override def description(): String =
    s"${inner.description()} clustered=${cluster.mkString(",")}"
}

private[sources] object GsbClusteredWrite {
  /** Wrap `base` with the clustering requirement when the table
    * declares cluster columns and the written schema carries all of
    * them (a widened/projected write of other columns must not fail
    * planning — stats stay conservative for absent columns). ONE
    * decision shared by the append/overwrite path and the group-based
    * DML rewrite path, so the two can never diverge. A per-write
    * `write.partitions` option overrides the table's declared fan-out
    * (compact uses it to honor its `targetFiles` contract on clustered
    * tables whose declared parts would let AQE collapse a small table
    * to one unprunable file). */
  def maybe(root: String, info: LogicalWriteInfo, base: Write): Write = {
    val m = GraftStore.latestManifest(root, GraftStore.driverConf())
    val cluster = m.map(_.cluster).getOrElse(Seq.empty)
    val names = info.schema().fieldNames.toSet
    if (cluster.nonEmpty && cluster.forall(names.contains)) {
      val declared = m.map(_.clusterParts).getOrElse(0)
      val parts = Option(info.options.get("write.partitions"))
        .map(_.toInt).filter(_ > 0).getOrElse(declared)
      new GsbClusteredWrite(base, cluster, parts)
    } else base
  }
}

private[sources] class GsbWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var overwrite = false
  private var replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** SQL `INSERT INTO ... REPLACE WHERE cond` / `INSERT OVERWRITE`:
    * an AlwaysTrue filter set is the plain overwrite mode; anything
    * else is the atomic delete-matching-then-insert contract, executed
    * as one manifest publish over [[GsbDelete.rewriteSurvivors]]'s
    * file-pruned split plus this write's new files. */
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(GsbDelete.translatable)
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      overwrite = true
    else replaceFilters = Some(filters)
    this
  }

  /** For clustered tables ([[GsbManifest.cluster]]): every write must
    * arrive RANGE-distributed and sorted on the cluster columns.
    * Declared through the standard DSv2
    * `RequiresDistributionAndOrdering` contract, so Catalyst plans the
    * exchange+sort itself (AQE-sized, spilling, codegen — nothing
    * hand-rolled). Range (not hash/identity) distribution is the
    * stats-friendly layout: each task owns a CONTIGUOUS key slice, so
    * each data file's per-column [min,max] is narrow and the existing
    * planning-time file skipping becomes partition pruning. A hash
    * clustering would give files near-domain-wide min/max envelopes
    * and skip nothing. */
  override def build(): Write = GsbClusteredWrite.maybe(root, info, buildBase())

  private def buildBase(): Write = new Write {
    override def toBatch: BatchWrite = {
      // fail fast on ILLEGAL schema drift BEFORE any task writes a byte;
      // legal EVOLUTION (same-typed stored columns + nullable new ones)
      // proceeds and publishes the widened schema at commit
      val conf = GraftStore.driverConf()
      GraftStore.latestManifest(root, conf) match {
        case Some(m) if !overwrite &&
            GraftStore.signature(m.schema) != GraftStore.signature(info.schema()) =>
          GraftStore.evolutionError(m.schema, info.schema(), m.tombstones).foreach { err =>
            throw new IllegalStateException(
              s"graft-store: append schema ${info.schema().sql} is not a legal " +
                s"evolution of stored ${m.schema.sql}: $err")
          }
        case _ => ()
      }
      replaceFilters match {
        case Some(fs) =>
          new GsbReplaceWhereWrite(root, info.schema(), info.queryId(), fs)
        case None =>
          new GsbBatchWrite(root, info.schema(), info.queryId(), overwrite)
      }
    }

    /** Streaming sink: one snapshot per micro-batch epoch, committed
      * idempotently. Structured Streaming re-runs the last epoch's
      * commit after a failure recovery; the manifest records committed
      * (queryId, epochId) pairs, so a replayed commit is a no-op and
      * the retried tasks' files stay unreferenced (vacuum fodder) —
      * end-to-end exactly-once on top of a replayable source. */
    override def toStreaming: wstreaming.StreamingWrite =
      new GsbStreamingWrite(root, info.schema(), info.queryId())
  }
}

private[sources] class GsbStreamingWrite(root: String, schema: StructType, queryId: String)
    extends wstreaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : wstreaming.StreamingDataWriterFactory =
    new GsbStreamingWriterFactory(root, schema.json, queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftStore.driverConf()
    val epochKey = s"$queryId:$epochId"
    // drop zero-row files: a streaming sink at N shuffle partitions
    // would otherwise add N manifest lines per epoch even for trickle
    // batches — the exact small-file bloat compaction exists to undo
    val committed = messages.collect { case c: GsbCommit =>
      GsbFile(c.relPath, c.rows, c.bytes, c.stats) }.toSeq
      .filter(_.rows > 0)
    // optimistic epoch commit: retried per-base like a batch append, and
    // the replayed-epoch check re-runs against each NEW base — so even
    // "our earlier attempt actually landed but we saw the race error"
    // resolves to a detected no-op instead of a double-commit
    GraftStore.commitLoop(root, conf) { prev =>
      // same drift rules as the batch path: legal EVOLUTION (same-typed
      // stored columns + nullable new ones — a restarted stream with a
      // widened projection) publishes the union schema; anything else
      // would leave the store unreadable and must fail the epoch
      prev.filter(m => GraftStore.signature(m.schema) != GraftStore.signature(schema))
        .foreach { m =>
          GraftStore.evolutionError(m.schema, schema, m.tombstones).foreach { err =>
            throw new IllegalStateException(
              s"graft-store: streaming schema ${schema.sql} is not a legal " +
                s"evolution of stored ${m.schema.sql}: $err")
          }
        }
      if (prev.exists(_.epochs.contains(epochKey))) None // replayed epoch
      else {
        val outSchema = prev match {
          case Some(m) => GraftStore.widen(m.schema, schema)
          case None => schema
        }
        Some(GsbNext(outSchema, prev.map(_.files).getOrElse(Seq.empty) ++ committed,
          prev.map(_.epochs).getOrElse(Set.empty[String]) + epochKey,
          prev.map(_.colops).getOrElse(Seq.empty)))
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftStore.deleteCommitted(root, messages)
}

private[sources] class GsbStreamingWriterFactory(root: String, schemaJson: String, queryId: String)
    extends wstreaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GsbDataWriter(root, schema,
      s"data/$queryId-e$epochId-p$partitionId-t$taskId.gsb")
  }
}

private[sources] class GsbBatchWrite(
    root: String, schema: StructType, queryId: String, overwrite: Boolean,
    // test-only injection point: runs after each attempt's base snapshot
    // is read and before its publish, so specs can interleave a
    // competing committer deterministically
    raceHook: () => Unit = () => ())
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GsbWriterFactory(root, schema.json, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftStore.driverConf()
    // drop zero-row files (empty input partitions): each would cost a
    // manifest line + an unprunable scan task forever — the DML writes
    // already filter; the append path must match. The orphan bytes are
    // vacuum fodder.
    val committed = messages.map(_.asInstanceOf[GsbCommit])
      .map(c => GsbFile(c.relPath, c.rows, c.bytes, c.stats)).toSeq
      .filter(_.rows > 0)
    // optimistic concurrency (GraftStore.commitLoop): each attempt
    // rebuilds against the CURRENT latest snapshot. Appends converge
    // under concurrent appends (the file union is recomputed per base)
    // but refuse to retry past a DESTRUCTIVE intervener — if files the
    // previous attempt saw are gone (overwrite/compaction won a slot),
    // the append's snapshot assumptions broke and silently landing rows
    // on the replaced table would mask a lost update. Overwrite never
    // retries: racing ANY other committer means one of the two intended
    // final states must be silently discarded — a decision for the
    // caller, not the store.
    var seenBase: Option[GsbManifest] = None
    GraftStore.commitLoop(root, conf) { prev =>
      raceHook()
      if (overwrite && seenBase.isDefined)
        throw new IllegalStateException(
          s"graft-store: overwrite of $root lost a commit race — a " +
            "concurrent writer advanced the store; re-run the overwrite " +
            "against the new snapshot if it is still intended")
      seenBase.foreach { base =>
        val curFiles = prev.map(_.files.map(_.relPath).toSet).getOrElse(Set.empty)
        val lost = base.files.map(_.relPath).filterNot(curFiles)
        if (lost.nonEmpty) throw new IllegalStateException(
          s"graft-store: append to $root lost a commit race to a " +
            s"destructive writer (files removed from the snapshot: " +
            s"${lost.take(3).mkString(", ")}${if (lost.size > 3) ", …" else ""}); " +
            "not retrying — rows would land on a replaced table")
      }
      seenBase = Some(prev.getOrElse(GsbManifest(0L, schema, Seq.empty)))
      val files = if (overwrite) committed
        else prev.map(_.files).getOrElse(Seq.empty) ++ committed
      // evolving append: the published snapshot schema is the WIDENING of
      // stored ∪ incoming (stored column order preserved, new columns
      // appended nullable); old files stay valid — readers null-fill
      val outSchema = prev match {
        case Some(m) if !overwrite => GraftStore.widen(m.schema, schema)
        case _ => schema
      }
      // overwrite replaces every file → column history resets with them
      Some(GsbNext(outSchema, files,
        if (overwrite) Set.empty[String]
        else prev.map(_.epochs).getOrElse(Set.empty[String]),
        if (overwrite) Seq.empty
        else prev.map(_.colops).getOrElse(Seq.empty)))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStore.deleteCommitted(root, messages)
}

private[sources] case class GsbCommit(relPath: String, rows: Long, bytes: Long,
    stats: Map[String, (String, String)] = Map.empty)
    extends WriterCommitMessage

private[sources] class GsbWriterFactory(root: String, schemaJson: String, queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GsbDataWriter(root, schema,
      s"data/$queryId-p$partitionId-t$taskId.gsb")
  }
}

private[sources] class GsbDataWriter(root: String, schema: StructType, relPath: String)
    extends DataWriter[InternalRow] {
  private val conf = new Configuration()
  private val f = GraftStore.fs(root, conf)
  private val path = new HPath(root, relPath)
  private val out = {
    f.mkdirs(path.getParent)
    val o = new DataOutputStream(new java.io.BufferedOutputStream(f.create(path, false), 1 << 16))
    o.writeUTF("GSB1"); o.writeUTF(schema.json); o
  }
  private var rows = 0L
  private var closed = false
  // per-column min/max, tracked inline while writing (internal reprs);
  // null until the first non-null value of that column
  private val statIdx = schema.fields.zipWithIndex
    .filter { case (fd, _) => GsbStats.eligible(fd.dataType) }
  private val mins = new Array[Any](schema.length)
  private val maxs = new Array[Any](schema.length)

  override def write(row: InternalRow): Unit = {
    out.writeByte(1)
    GsbCodec.writeRow(out, row, schema)
    statIdx.foreach { case (fd, i) =>
      if (!row.isNullAt(i)) {
        val v = row.get(i, fd.dataType) match {
          // copy buffer-backed strings — InternalRow may be reused
          case s: UTF8String => s.clone()
          case other => other
        }
        if (mins(i) == null || GsbStats.cmp(v, mins(i), fd.dataType) < 0)
          mins(i) = v
        if (maxs(i) == null || GsbStats.cmp(v, maxs(i), fd.dataType) > 0)
          maxs(i) = v
      }
    }
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    out.writeByte(0)
    out.close(); closed = true
    val stats = statIdx.flatMap { case (fd, i) =>
      if (mins(i) == null) None
      else Some(fd.name -> (GsbStats.canonical(mins(i), fd.dataType),
        GsbStats.canonical(maxs(i), fd.dataType)))
    }.toMap
    GsbCommit(relPath, rows, f.getFileStatus(path).getLen, stats)
  }
  override def abort(): Unit = {
    if (!closed) { out.close(); closed = true }
    f.delete(path, false)
  }
  override def close(): Unit = if (!closed) { out.close(); closed = true }
}

// ---------------------------------------------------------------- read

private[sources] class GsbScanBuilder(root: String, version: Option[Long],
    since: Option[Long] = None, maxFilesPerTrigger: Option[Int] = None,
    onlyFiles: Option[Set[String]] = None,
    onPlanned: Option[GsbRowLevelOperation] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  // pin the snapshot NOW (planning time): concurrent commits after this
  // point don't change what this query reads. `version` = time travel:
  // overwrite/compaction never delete data files inline, so any
  // un-vacuumed historical snapshot stays fully readable.
  private val manifest = version
    .map(v => GraftStore.manifestAt(root, GraftStore.driverConf(), v)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-store: no complete manifest version $v under $root")))
    .orElse(GraftStore.latestManifest(root, GraftStore.driverConf()))
    .getOrElse(GsbManifest(0L, StructType(Nil), Seq.empty))
  // `sinceVersion` = incremental (CDC-style) consumption: read only
  // files the target snapshot has that the baseline snapshot lacked.
  // File-level semantics: appends surface exactly their new rows (the
  // common case — append never rewrites files); overwrite/compaction
  // surface rewritten files as re-additions, the standard contract for
  // file-level incremental reads. The baseline's files are excluded at
  // PLANNING time — a consumer polling a 100 TB append store reads
  // only the delta, never the accumulated history.
  private val baseline: Set[String] = since
    .map(v => GraftStore.manifestAt(root, GraftStore.driverConf(), v)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-store: no complete manifest version $v under $root (sinceVersion)"))
      .files.map(_.relPath).toSet)
    .getOrElse(Set.empty)
  private var required: StructType = manifest.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  // filters are accepted for FILE SKIPPING only (manifest min/max
  // stats); every filter stays residual — Spark re-evaluates row-level,
  // so the skip layer only ever has to be conservative, never exact
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters; filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan = {
    val scan = new GsbScan(root, manifest, required, pushed, baseline,
      maxFilesPerTrigger, onlyFiles)
    // a row-level rewrite needs the post-skipping file set: those are
    // the groups its write will replace
    onPlanned.foreach(_.scannedFiles = scan.keptRelPaths)
    scan
  }
}

private[sources] class GsbScan(root: String, manifest: GsbManifest,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    baseline: Set[String] = Set.empty,
    maxFilesPerTrigger: Option[Int] = None,
    onlyFiles: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics {
  // incremental consumption first (drop the baseline snapshot's files),
  // then DATA SKIPPING: keep only files whose min/max stats admit a
  // match for every pushed (conjunctive) filter — at planning time,
  // before a single task launches. A range-clustered table turns a
  // point/range query into a files=1/N scan.
  private val kept = manifest.files
    .filter(e => !baseline.contains(e.relPath))
    .filter(e => onlyFiles.forall(_.contains(e.relPath)))
    // a file written before a RENAME keys its stats by the historical
    // name — alias them under the current name so skipping keeps working
    // across renames (absent stats stay conservative: the file is kept)
    .filter(e => filters.forall(GsbStats.mayMatch(_, manifest.schema,
      GsbEvolution.aliasStats(e.stats, manifest.renames))))
  private[sources] def keptRelPaths: Seq[String] = kept.map(_.relPath)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-store $root v${manifest.version} " +
      (if (baseline.isEmpty) "" else s"since-files=${baseline.size} ") +
      s"files=${kept.size}/${manifest.files.size}"
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.bytes).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(kept.map(_.rows).sum)
  }
  override def planInputPartitions(): Array[InputPartition] =
    kept.map(e => GsbPartition(root, e.relPath): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GsbReaderFactory(manifest.schema.json, required.fieldNames,
      manifest.renames)

  /** Streaming READ: the store as a micro-batch source. The offset IS
    * the manifest version, and each micro-batch is the file-set delta
    * between two snapshots — the `sinceVersion` incremental read run
    * continuously. Planning cost per trigger is two O(files) manifest
    * reads of driver-side metadata; tasks only ever scan the delta.
    * With the store's epoch-idempotent streaming SINK, a store→store
    * pipeline is exactly-once end-to-end: the source replays a batch
    * by version range (manifests are immutable and overwrite never
    * deletes data files inline, so any un-vacuumed range replays
    * byte-identically) and the sink deduplicates replayed commits. */
  override def toMicroBatchStream(checkpointLocation: String)
      : rstreaming.MicroBatchStream =
    new GsbMicroBatchStream(root, manifest, required, maxFilesPerTrigger)
}

private[sources] case class GsbStreamOffset(version: Long)
    extends rstreaming.Offset {
  override def json(): String = version.toString
}

private[sources] class GsbMicroBatchStream(root: String,
    manifest0: GsbManifest, required: StructType,
    maxFilesPerTrigger: Option[Int] = None)
    extends rstreaming.MicroBatchStream with rstreaming.SupportsAdmissionControl {
  // start from version 0 (empty baseline): the FIRST micro-batch is the
  // store's current content (initial load), subsequent batches are
  // per-trigger deltas. Restarts resume from the checkpointed offset.
  override def initialOffset(): rstreaming.Offset = GsbStreamOffset(0L)
  override def latestOffset(): rstreaming.Offset =
    GsbStreamOffset(GraftStore.latestManifest(root, GraftStore.driverConf())
      .map(_.version).getOrElse(0L))

  /** Backlog admission (`maxFilesPerTrigger` read option): a restart
    * after long downtime — or a first start against a populated store —
    * must not deliver the whole accumulated backlog in one micro-batch.
    * The offset is a manifest version, so admission advances the end
    * offset version-by-version, stopping once the cumulative file-set
    * delta since the start offset would exceed the cap; at least one
    * version always admits (a single oversized commit still flows, it
    * just gets a batch to itself). Each step is an O(files) driver-side
    * manifest read — no data touched until tasks launch. */
  override def getDefaultReadLimit: rstreaming.ReadLimit =
    maxFilesPerTrigger.map(n => rstreaming.ReadLimit.maxFiles(n))
      .getOrElse(rstreaming.ReadLimit.allAvailable())

  override def latestOffset(start: rstreaming.Offset,
      limit: rstreaming.ReadLimit): rstreaming.Offset = {
    val s = start.asInstanceOf[GsbStreamOffset].version
    val latest = latestOffset().asInstanceOf[GsbStreamOffset].version
    limit match {
      case mf: rstreaming.ReadMaxFiles if latest > s =>
        val baseline = filesAt(s).map(_.relPath).toSet
        def delta(v: Long): Int =
          filesAt(v).count(f => !baseline.contains(f.relPath))
        var end = s + 1 // always admit ≥ 1 version
        while (end < latest && delta(end + 1) <= mf.maxFiles()) end += 1
        GsbStreamOffset(end)
      case _ => GsbStreamOffset(latest)
    }
  }
  override def deserializeOffset(json: String): rstreaming.Offset =
    GsbStreamOffset(json.trim.toLong)
  override def commit(end: rstreaming.Offset): Unit = ()
  override def stop(): Unit = ()

  private def filesAt(v: Long): Seq[GsbFile] =
    if (v <= 0L) Seq.empty
    else GraftStore.manifestAt(root, GraftStore.driverConf(), v)
      .getOrElse(throw new IllegalStateException(
        s"graft-store: streaming replay needs manifest version $v under " +
          s"$root, but it is gone (vacuumed?)"))
      .files

  override def planInputPartitions(start: rstreaming.Offset,
      end: rstreaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GsbStreamOffset].version
    val e = end.asInstanceOf[GsbStreamOffset].version
    val baseline = filesAt(s).map(_.relPath).toSet
    filesAt(e).filter(f => !baseline.contains(f.relPath))
      .map(f => GsbPartition(root, f.relPath): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // resolved per MICRO-BATCH (Spark builds a fresh scan exec, and
    // with it this factory, for every batch): a RENAME COLUMN committed
    // mid-stream means new data files carry the NEW name while this
    // query's analyzed schema still speaks the stream-start names —
    // pinning manifest0's rename chain would make the reader null-fill
    // the renamed column for every post-rename file. Map the required
    // stream-start names FORWARD through the renames committed since,
    // then let the reader resolve current→historical per file as usual.
    val m = GraftStore.latestManifest(root, GraftStore.driverConf())
      .getOrElse(manifest0)
    val renamesSince = m.renames.drop(manifest0.renames.length)
    val requiredNow = required.fieldNames.map(n =>
      renamesSince.foldLeft(n) { case (cur, (from, to)) =>
        if (cur == from) to else cur
      })
    new GsbReaderFactory(m.schema.json, requiredNow, m.renames)
  }
}

private[sources] case class GsbPartition(root: String, relPath: String) extends InputPartition

/** Column-evolution resolution shared by readers and scan planning. */
private[sources] object GsbEvolution {
  /** The name `logical` was written under in a file that predates some
    * suffix of the rename history: walk the ordered rename events in
    * REVERSE, stepping current→source whenever the current name is
    * absent from the file — a→b→c chains resolve through any prefix.
    * Stops at the first name the file (or stats map) actually has. */
  def fileName(logical: String, has: String => Boolean,
      renames: Seq[(String, String)]): String = {
    var cur = logical
    renames.reverseIterator.foreach { case (from, to) =>
      if (!has(cur) && to == cur) cur = from
    }
    cur
  }

  /** Stats keyed by historical names, aliased under current names (for
    * data skipping across renames). Tombstoning guarantees a historical
    * name never collides with a live column, so aliasing is safe. */
  def aliasStats(stats: Map[String, (String, String)],
      renames: Seq[(String, String)]): Map[String, (String, String)] =
    if (renames.isEmpty) stats
    else stats ++ renames.foldLeft(Map.empty[String, String]) {
      // build historical→current: apply events oldest-first
      case (m, (from, to)) =>
        val src = m.collectFirst { case (h, c) if c == from => h }.getOrElse(from)
        m - src + (src -> to)
    }.flatMap { case (hist, cur) => stats.get(hist).map(cur -> _) }
}

private[sources] class GsbReaderFactory(schemaJson: String,
    requiredNames: Array[String],
    renames: Seq[(String, String)] = Seq.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GsbPartition]
    new GsbReader(p.root, p.relPath,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], requiredNames,
      renames)
  }
}

private[sources] class GsbReader(
    root: String, relPath: String, schema: StructType,
    requiredNames: Array[String],
    renames: Seq[(String, String)] = Seq.empty)
    extends PartitionReader[InternalRow] {
  private val f = GraftStore.fs(root, new Configuration())
  private val path = new HPath(root, relPath)
  private val in = new GsbInput(f.open(path), f.getFileStatus(path).getLen, relPath)
  require(in.readUTF() == "GSB1", s"graft-store: $relPath is not a GSB1 file")
  private val fileSchema = DataType.fromJson(in.readUTF()).asInstanceOf[StructType]
  // evolution-aware in all three directions: a file may carry a SUBSET
  // of the snapshot schema (written before ADD COLUMNS → null-fill), a
  // SUPERSET (written before DROP COLUMN → extra fields decode and
  // drop), or historical NAMES (written before RENAME → the chain
  // resolves each required name to the file-local one). The invariant
  // that still holds file-by-file: every field this read RESOLVES must
  // carry the type the snapshot promises.
  private def resolve(n: String): String =
    GsbEvolution.fileName(n, fileSchema.fieldNames.contains, renames)
  requiredNames.filter(_ != GsbFileColumn.Name).foreach { n =>
    val fn = resolve(n)
    fileSchema.fields.find(_.name == fn).foreach { fd =>
      val expect = schema.fields.find(_.name == n).map(_.dataType.sql)
      require(expect.forall(_ == fd.dataType.sql),
        s"graft-store: $relPath column $fn has type ${fd.dataType.sql}, " +
          s"snapshot promises ${expect.getOrElse("?")} for $n")
    }
  }
  // projection by RESOLVED NAME into the file's own layout; -1 → null-fill
  private val proj = requiredNames.map(n =>
    fileSchema.fieldNames.indexOf(resolve(n)))
  // the `_gsb_file` metadata column is synthesized per reader, not
  // decoded: its null-filled slots get the file's relPath
  private val fileColIdxs = requiredNames.zipWithIndex
    .filter(_._1 == GsbFileColumn.Name).map(_._2)
  private val fileColVal = UTF8String.fromString(relPath)
  private var row: InternalRow = _

  override def next(): Boolean =
    if (in.readByte() == 1) {
      val r = GsbCodec.readRow(in, fileSchema, proj)
      var i = 0
      while (i < fileColIdxs.length) {
        r.asInstanceOf[GenericInternalRow].update(fileColIdxs(i), fileColVal)
        i += 1
      }
      row = r; true
    }
    else { false }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

// --------------------------------------------------------------- codec

/** Schema-driven binary row codec over `SpecializedGetters` (shared by
  * rows and array elements): null byte + fixed-width primitive, or
  * length-prefixed bytes, or count-prefixed array (one nesting level). */
/** Per-file column min/max statistics — the data-skipping layer. Stats
  * are collected while a task writes (zero extra pass), ride the commit
  * message into the manifest (one line per file regardless of rows), and
  * let the scan DROP whole files whose [min,max] provably cannot satisfy
  * the pushed conjunctive filters — the same mechanism parquet row-group
  * stats / Delta file stats provide, at file granularity. Values are
  * Base64-wrapped canonical strings so strings with tabs/newlines can't
  * corrupt the line-oriented manifest. */
private[sources] object GsbStats {
  import org.apache.spark.sql.sources._
  private val B64e = java.util.Base64.getEncoder
  private val B64d = java.util.Base64.getDecoder

  /** Types we track (and can compare against pushed filter literals). */
  def eligible(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | StringType |
         DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Compare two INTERNAL representations of `dt`. Floating zeros are
    * normalized first: Double.compare orders -0.0 < 0.0, but SQL
    * comparison semantics (and therefore the pushed filters we skip
    * against) treat them EQUAL — without the normalization a file whose
    * stats are [-0.0, -0.0] is wrongly pruned for `= 0.0` (confirmed
    * empirically: files=0/2 and zero rows on a table containing -0.0). */
  def cmp(a: Any, b: Any, dt: DataType): Int = dt match {
    case IntegerType | DateType => java.lang.Integer.compare(
      a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType => java.lang.Long.compare(
      a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType =>
      def n(x: Double): Double = if (x == 0.0) 0.0 else x
      java.lang.Double.compare(n(a.asInstanceOf[Double]), n(b.asInstanceOf[Double]))
    case FloatType =>
      def n(x: Float): Float = if (x == 0.0f) 0.0f else x
      java.lang.Float.compare(n(a.asInstanceOf[Float]), n(b.asInstanceOf[Float]))
    case BooleanType => java.lang.Boolean.compare(
      a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case StringType => a.asInstanceOf[UTF8String]
      .compareTo(b.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(s"no stats order for $other")
  }

  def canonical(v: Any, dt: DataType): String = dt match {
    case StringType => B64e.encodeToString(
      v.asInstanceOf[UTF8String].getBytes)
    case _ => v.toString
  }
  private def fromCanonical(s: String, dt: DataType): Any = dt match {
    case IntegerType | DateType => s.toInt
    case LongType | TimestampType | TimestampNTZType => s.toLong
    case DoubleType => s.toDouble
    case FloatType => s.toFloat
    case BooleanType => s.toBoolean
    case StringType => UTF8String.fromBytes(B64d.decode(s))
    case other => throw new IllegalStateException(s"no stats codec for $other")
  }

  /** Manifest wire form: `col:b64(min):b64(max)` triples joined by `;`
    * (column names and canonical values Base64'd uniformly). */
  def render(stats: Map[String, (String, String)]): String =
    stats.toSeq.sorted.map { case (c, (mn, mx)) =>
      Seq(c, mn, mx).map(s =>
        B64e.encodeToString(s.getBytes("UTF-8"))).mkString(":")
    }.mkString(";")
  def parse(s: String): Map[String, (String, String)] =
    if (s.isEmpty) Map.empty
    else s.split(";").map { t =>
      val Array(c, mn, mx) = t.split(":").map(x => new String(B64d.decode(x), "UTF-8"))
      c -> (mn, mx)
    }.toMap

  /** Convert a pushed filter LITERAL to the column's internal repr; None
    * if the literal's type is unexpected (then never skip on it). */
  private def literal(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (x: java.lang.Integer, IntegerType) => Some(x.intValue)
    case (x: java.lang.Long, LongType) => Some(x.longValue)
    case (x: java.lang.Double, DoubleType) => Some(x.doubleValue)
    case (x: java.lang.Float, FloatType) => Some(x.floatValue)
    case (x: java.lang.Boolean, BooleanType) => Some(x.booleanValue)
    case (x: String, StringType) => Some(UTF8String.fromString(x))
    case (x: java.sql.Timestamp, TimestampType) => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(x))
    case (x: java.time.Instant, TimestampType) => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(x))
    // TIMESTAMP_NTZ pushes its literal as LocalDateTime (the Java 8 API
    // external form NTZ always uses); without this case every NTZ
    // predicate silently kept all files — found by the clustered-table
    // date-pruning gate, whose parquet fixture reads as NTZ
    case (x: java.time.LocalDateTime, TimestampNTZType) => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(x))
    case (x: java.sql.Date, DateType) => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(x))
    case (x: java.time.LocalDate, DateType) => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(x))
    case _ => None
  }

  /** Conservative skip test: false ONLY when [min,max] proves no row of
    * the file can satisfy `f`. Unknown filter shapes / columns without
    * stats / literal conversion failures keep the file. */
  def mayMatch(f: Filter, schema: StructType,
      stats: Map[String, (String, String)]): Boolean = {
    def range(col: String): Option[(Any, Any, DataType)] = for {
      fld <- schema.fields.find(_.name == col)
      if eligible(fld.dataType)
      (mn, mx) <- stats.get(col)
    } yield (fromCanonical(mn, fld.dataType),
      fromCanonical(mx, fld.dataType), fld.dataType)
    def test(col: String, v: Any)(p: (Int, Int) => Boolean): Boolean =
      range(col).flatMap { case (mn, mx, dt) =>
        literal(v, dt).map(l => p(cmp(mn, l, dt), cmp(mx, l, dt)))
      }.getOrElse(true)
    f match {
      case And(l, r) => mayMatch(l, schema, stats) && mayMatch(r, schema, stats)
      case Or(l, r) => mayMatch(l, schema, stats) || mayMatch(r, schema, stats)
      case EqualTo(c, v) => test(c, v)((cMin, cMax) => cMin <= 0 && cMax >= 0)
      case GreaterThan(c, v) => test(c, v)((_, cMax) => cMax > 0)
      case GreaterThanOrEqual(c, v) => test(c, v)((_, cMax) => cMax >= 0)
      case LessThan(c, v) => test(c, v)((cMin, _) => cMin < 0)
      case LessThanOrEqual(c, v) => test(c, v)((cMin, _) => cMin <= 0)
      case In(c, vs) => vs.exists(v =>
        test(c, v)((cMin, cMax) => cMin <= 0 && cMax >= 0))
      case _ => true
    }
  }
}

/** Group-based row-level operation (SQL UPDATE / MERGE INTO / complex
  * DELETE): the scan half pins the latest snapshot so the rewrite reads
  * a stable base, and the write half commits the recomputed rows as an
  * overwrite of that base — the connector-side contract behind Spark's
  * RewriteUpdateTable / RewriteMergeIntoTable plans. The overwrite
  * commit refuses to retry past a concurrent committer (GsbBatchWrite's
  * overwrite rule), so a racing writer surfaces as a loud error rather
  * than a lost update. */
private[sources] class GsbRowLevelOperation(root: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  /** Base snapshot the rewrite reads, pinned when Spark builds the
    * operation's scan; the replace commit refuses any other base. */
  @volatile private[sources] var baseVersion: Long = -1L
  /** relPaths the operation's scan kept after static group filtering —
    * exactly the files the write must REPLACE. Recorded at scan build
    * (planning) time: rows cannot identify groups, because a group
    * whose every row was deleted produces no output rows at all. */
  @volatile private[sources] var scannedFiles: Seq[String] = Nil

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-store $cmd copy-on-write"

  /** Requiring the `_gsb_file` metadata attribute does two jobs: Spark
    * builds the ReplaceData row/metadata projections ONLY for
    * operations with metadata attrs (without them the raw rewrite rows
    * — operation column included — would reach the writer), and it
    * gives the rewrite plan the per-row group identity. */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GsbFileColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = GraftStore.latestManifest(root, GraftStore.driverConf())
      .map(_.version)
    baseVersion = v.getOrElse(-1L)
    new GsbScanBuilder(root, v, onPlanned = Some(this))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // group-based rewrites of a CLUSTERED table re-cluster their
        // rewritten rows too (same required range distribution as the
        // append path) — otherwise every UPDATE/MERGE/complex DELETE
        // would degrade the contiguous-slice layout the table declares
        GsbClusteredWrite.maybe(root, info, new Write {
          override def toBatch: BatchWrite =
            new GsbReplaceGroupsWrite(root, info.schema(), info.queryId(),
              GsbRowLevelOperation.this)
        })
      }
    }
}

/** The write half of a group-based rewrite: data files land through the
  * ordinary writer/stats path, and the commit swaps EXACTLY the scanned
  * groups — `base.files − scanned ++ rewritten` — in one manifest
  * publish. Single-attempt: the survivors were computed against the
  * pinned base snapshot, so racing any concurrent committer must fail
  * loudly (lost update), never retry. */
private[sources] class GsbReplaceGroupsWrite(root: String,
    schema: StructType, queryId: String, op: GsbRowLevelOperation)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GsbWriterFactory(root, schema.json, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftStore.driverConf()
    val committed = messages.map(_.asInstanceOf[GsbCommit])
      .map(c => GsbFile(c.relPath, c.rows, c.bytes, c.stats)).toSeq
      .filter(_.rows > 0) // empty partitions add no files
    val scanned = op.scannedFiles.toSet
    GraftStore.commitLoop(root, conf, maxRetries = 0) { prev =>
      if (!prev.map(_.version).contains(op.baseVersion))
        throw new IllegalStateException(
          s"graft-store: row-level ${op.command()} on $root lost a commit " +
            "race — a concurrent writer advanced the store past the " +
            "snapshot the rewrite was computed against; re-run the command")
      val base = prev.get
      Some(GsbNext(base.schema,
        base.files.filterNot(f => scanned(f.relPath)) ++ committed,
        base.epochs, base.colops))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStore.deleteCommitted(root, messages)
}

/** `INSERT INTO t REPLACE WHERE cond` — the partition-overwrite
  * generalization: atomically delete rows matching `cond` and land the
  * incoming batch, in ONE manifest publish. Deletion is
  * [[GsbDelete.rewriteSurvivors]]'s file-pruned copy-on-write (files
  * whose stats prove no match carry forward untouched); the published
  * file set is `untouched ++ survivors ++ incoming`. Single-attempt
  * commit: both halves were computed against the pinned base, so racing
  * any other committer fails loudly. Schema follows the widening-append
  * rule — carried files must stay readable.
  *
  * CONTRACT DIVERGENCE (documented, r12 ADVICE): the incoming batch is
  * NOT validated against `cond` — rows violating the predicate land
  * anyway, like Delta with `replaceWhere` constraint enforcement
  * disabled (and like `INSERT OVERWRITE t PARTITION` with dynamic
  * partitions). Consequence: re-running the same command is only
  * idempotent when the inserted rows all satisfy `cond`. Validation
  * would require either a second pass over the committed files before
  * publish or predicate evaluation inside every writer task; callers
  * that need the guarantee filter the batch on `cond` themselves —
  * one line at the call site, zero cost here. Pinned by
  * GraftCatalogSpec's replace-where-violation test. */
private[sources] class GsbReplaceWhereWrite(root: String,
    schema: StructType, queryId: String,
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GsbWriterFactory(root, schema.json, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GraftStore.driverConf()
    val incoming = messages.map(_.asInstanceOf[GsbCommit])
      .map(c => GsbFile(c.relPath, c.rows, c.bytes, c.stats)).toSeq
      .filter(_.rows > 0)
    GsbDelete.rewriteSurvivors(root, filters) match {
      case None => // empty store: REPLACE WHERE degenerates to insert
        GraftStore.commitLoop(root, conf) { prev =>
          if (prev.nonEmpty) throw new IllegalStateException(
            s"graft-store: REPLACE WHERE on $root lost a commit race; re-run")
          Some(GsbNext(schema, incoming, Set.empty, Seq.empty))
        }
      case Some((m, untouched, rewritten)) =>
        val outSchema = GraftStore.evolutionError(m.schema, schema, m.tombstones) match {
          case Some(err) => throw new IllegalStateException(
            s"graft-store: REPLACE WHERE schema ${schema.sql} is not a " +
              s"legal evolution of stored ${m.schema.sql}: $err")
          case None => GraftStore.widen(m.schema, schema)
        }
        GraftStore.commitLoop(root, conf, maxRetries = 0) { prev =>
          if (!prev.map(_.version).contains(m.version))
            throw new IllegalStateException(
              s"graft-store: REPLACE WHERE on $root lost a commit race — " +
                "a concurrent writer advanced the store past the snapshot " +
                "the rewrite was computed against; re-run the command")
          Some(GsbNext(outSchema, untouched ++ rewritten ++ incoming,
            m.epochs, m.colops))
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStore.deleteCommitted(root, messages)
}

/** SQL DELETE executor — the row-level half of [[GraftStoreTable]]'s
  * `SupportsDelete`. Semantics are copy-on-write at FILE granularity,
  * the lakehouse standard (what Delta/Iceberg COW mode does):
  *
  *  1. split the pinned snapshot's files into `touched` (stats admit a
  *     match for every conjunct — [[GsbStats.mayMatch]], conservative)
  *     and `untouched` (provably no matching row — carried forward in
  *     the new manifest, zero data movement);
  *  2. re-read ONLY the touched files (internal `onlyFiles` scan
  *     option), keep rows where the predicate is false, and write them
  *     as fresh data files (one per partition, same writer/stats path
  *     as any batch write);
  *  3. publish `untouched ++ rewritten` as one atomic manifest commit,
  *     refusing to retry past a concurrent committer — the survivors
  *     were computed against THIS base snapshot, so racing any other
  *     writer is a lost update, the overwrite rule.
  *
  * Requires every WHERE conjunct be translatable to a Column
  * ([[translatable]] — gated by `canDeleteWhere`, so Spark falls back
  * to an analysis error rather than a wrong answer for exotic
  * predicates). Old files are never deleted inline (time travel +
  * vacuum contract unchanged). */
private[sources] object GsbDelete {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.{functions => F}

  private def attr(name: String): Column =
    F.col("`" + name.replace("`", "``") + "`")

  def translatable(f: Filter): Boolean = toColumn(f).isDefined

  /** v1 Filter → Column. None for shapes we cannot express — the
    * caller must then reject the whole DELETE (conservatively). */
  def toColumn(f: Filter): Option[Column] = f match {
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case EqualTo(a, v) => Some(attr(a) === F.lit(v))
    case EqualNullSafe(a, v) => Some(attr(a) <=> F.lit(v))
    case GreaterThan(a, v) => Some(attr(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(attr(a) >= F.lit(v))
    case LessThan(a, v) => Some(attr(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(attr(a) <= F.lit(v))
    case In(a, vs) => Some(attr(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(attr(a).isNull)
    case IsNotNull(a) => Some(attr(a).isNotNull)
    case StringStartsWith(a, v) => Some(attr(a).startsWith(v))
    case StringEndsWith(a, v) => Some(attr(a).endsWith(v))
    case StringContains(a, v) => Some(attr(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** File-pruned survivor rewrite against the CURRENT snapshot: split
    * files by whether stats admit a predicate match, re-read only the
    * touched subset, and write the rows where the predicate is FALSE as
    * fresh data files. Returns (base manifest, carried-forward files,
    * rewritten files) for the caller to commit — shared by DELETE and
    * overwrite-by-filter (REPLACE WHERE), which differ only in what
    * else lands in the published manifest. */
  private[sources] def rewriteSurvivors(root: String, filters: Array[Filter])
      : Option[(GsbManifest, Seq[GsbFile], Seq[GsbFile])] = {
    val conf = GraftStore.driverConf()
    val m = GraftStore.latestManifest(root, conf).getOrElse(return None)
    // stats keys must resolve through the RENAME chain exactly like the
    // read scan's skipping (GsbScan aliases them the same way) — a file
    // written before `k` was renamed to `id` keys its stats under `k`,
    // and a DELETE WHERE id=7 that missed the alias would conservatively
    // rewrite the ENTIRE pre-rename table instead of one file
    val (touched, untouched) = m.files.partition(e =>
      filters.forall(GsbStats.mayMatch(_, m.schema,
        GsbEvolution.aliasStats(e.stats, m.renames))))
    if (touched.isEmpty) return Some((m, m.files, Seq.empty))
    val spark = SparkSession.active
    val pred = filters.flatMap(toColumn).reduceOption(_ && _)
      .getOrElse(F.lit(true))
    // survivors of the touched files only, columns pinned to the stored
    // schema order so toRdd rows line up with the writer's codec.
    // SURVIVE = predicate NOT TRUE (the SQL DELETE contract, what
    // Delta/Iceberg COW do): under three-valued logic NOT(NULL) = NULL,
    // so a bare !pred would silently DELETE rows where a nullable
    // column makes the predicate NULL (r12 ADVICE) — coalesce pins
    // NULL to "not deleted".
    val survivors = spark.read.format("graft-store")
      .option("version", m.version)
      .option("onlyFiles", touched.map(_.relPath).mkString(","))
      .load(root)
      .filter(!F.coalesce(pred, F.lit(false)))
      .select(m.schema.fieldNames.toIndexedSeq.map(attr): _*)
    val schemaJson = m.schema.json
    // unique rewrite token: two rewrites (even racing ones) never write
    // the same data file names
    val token = java.util.UUID.randomUUID().toString.take(12)
    val newFiles = survivors.queryExecution.toRdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        // the TASK ATTEMPT id must be part of the name (exactly like
        // GsbWriterFactory's taskId): with a fixed per-partition name, a
        // retried or speculative task would lose the exclusive create to
        // its own dead predecessor and fail the whole DELETE on one
        // transient fault. A failed attempt's orphan file is never
        // referenced — vacuum fodder, the standard contract.
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val w = new GsbDataWriter(root, schema,
          s"data/del-$token-p$pid-a$attempt.gsb")
        var n = 0L
        try {
          rows.foreach { r => w.write(r); n += 1 }
        } catch { case e: Throwable => w.abort(); throw e }
        if (n == 0) { w.abort(); Iterator.empty }
        else Iterator.single(w.commit().asInstanceOf[GsbCommit])
      }.collect().toSeq
      .map(c => GsbFile(c.relPath, c.rows, c.bytes, c.stats))
    Some((m, untouched, newFiles))
  }

  def deleteWhere(root: String, filters: Array[Filter]): Unit =
    rewriteSurvivors(root, filters).foreach { case (m, untouched, rewritten) =>
      if (untouched.size == m.files.size && rewritten.isEmpty) return // no-op
      GraftStore.commitLoop(root, GraftStore.driverConf(), maxRetries = 0) { prev =>
        if (!prev.map(_.version).contains(m.version))
          throw new IllegalStateException(
            s"graft-store: DELETE on $root lost a commit race — a " +
              "concurrent writer advanced the store past the snapshot the " +
              "rewrite was computed against; re-run the DELETE")
        Some(GsbNext(m.schema, untouched ++ rewritten, m.epochs, m.colops))
      }
    }
}

private[sources] object GsbCodec {
  def writeRow(out: DataOutputStream, row: InternalRow, schema: StructType): Unit = {
    var i = 0
    while (i < schema.length) {
      writeValue(out, row, i, schema(i).dataType); i += 1
    }
  }

  private def writeValue(out: DataOutputStream, g: SpecializedGetters, i: Int, dt: DataType): Unit = {
    if (g.isNullAt(i)) { out.writeByte(0); return }
    out.writeByte(1)
    dt match {
      case BooleanType => out.writeBoolean(g.getBoolean(i))
      case IntegerType | DateType => out.writeInt(g.getInt(i))
      case LongType | TimestampType | TimestampNTZType => out.writeLong(g.getLong(i))
      case FloatType => out.writeFloat(g.getFloat(i))
      case DoubleType => out.writeDouble(g.getDouble(i))
      case StringType =>
        val b = g.getUTF8String(i).getBytes
        out.writeInt(b.length); out.write(b)
      case BinaryType =>
        val b = g.getBinary(i)
        out.writeInt(b.length); out.write(b)
      case ArrayType(et, _) =>
        val arr = g.getArray(i)
        out.writeInt(arr.numElements())
        var j = 0
        while (j < arr.numElements()) { writeValue(out, arr, j, et); j += 1 }
      case other =>
        throw new UnsupportedOperationException(s"graft-store cannot encode $other")
    }
  }

  /** Decode one row, projecting to the `proj` ordinals of `schema`
    * (row stores must decode every field to advance the cursor; the
    * projection trims what is materialized into Spark). A negative
    * ordinal null-fills — a column the file predates (schema evolution). */
  def readRow(in: GsbInput, schema: StructType, proj: Array[Int]): InternalRow = {
    val full = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      full(i) = readValue(in, schema(i).dataType); i += 1
    }
    val vals = new Array[Any](proj.length)
    i = 0
    while (i < proj.length) {
      vals(i) = if (proj(i) < 0) null else full(proj(i)); i += 1
    }
    new GenericInternalRow(vals)
  }

  private def readValue(in: GsbInput, dt: DataType): Any = {
    if (in.readByte() == 0) return null
    dt match {
      case BooleanType => in.readBoolean()
      case IntegerType | DateType => in.readInt()
      case LongType | TimestampType | TimestampNTZType => in.readLong()
      case FloatType => in.readFloat()
      case DoubleType => in.readDouble()
      case StringType =>
        val b = new Array[Byte](in.readLength()); in.readFully(b)
        UTF8String.fromBytes(b)
      case BinaryType =>
        val b = new Array[Byte](in.readLength()); in.readFully(b)
        b
      case ArrayType(et, _) =>
        val n = in.readLength() // each element takes at least its null byte
        val vals = new Array[Any](n)
        var j = 0
        while (j < n) { vals(j) = readValue(in, et); j += 1 }
        new GenericArrayData(vals)
      case other =>
        throw new UnsupportedOperationException(s"graft-store cannot decode $other")
    }
  }
}

/** One data file's row stream: a `DataInputStream` that counts the bytes
  * read, so that [[readLength]] checks a declared length (bytes, or array
  * elements of at least one byte each) against the bytes left in the file
  * before anything is allocated for it. */
private[sources] final class GsbInput(raw: java.io.InputStream, fileLen: Long, file: String)
    extends DataInputStream(new GsbInput.Counted(raw)) {
  def readLength(): Int = {
    val n = readInt()
    val left = fileLen - in.asInstanceOf[GsbInput.Counted].count
    require(n >= 0 && n <= left, s"graft-store: $file declares a length of $n " +
      s"with $left bytes left in the file; the file is corrupt or torn")
    n
  }
}

private[sources] object GsbInput {
  final class Counted(raw: java.io.InputStream)
      extends java.io.FilterInputStream(new java.io.BufferedInputStream(raw, 1 << 16)) {
    var count = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) count += n; n
    }
    override def skip(n: Long): Long = { val k = super.skip(n); count += k; k }
  }
}
