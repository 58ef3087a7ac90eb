package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.GraftStore

/** Oracle-gated query surface for the two DataSource V2 components
  * ([[graft.sources.DocGenSource]] read path, [[graft.sources.GraftStoreSource]]
  * write+read path) — promoting them from unit-only evidence to the same
  * DuckDB hash-match gate every other operator passes.
  *
  * `src_docgen_agg` exercises the full Catalyst integration story of the
  * generator source: the doc_id range predicate is ABSORBED into the
  * generated id range (pushdown narrows generation itself, not a
  * post-filter), and the projection prunes the `text` column out of the
  * scan's output schema. The DuckDB oracle replays the generator's
  * splitmix64 arithmetic exactly — 64-bit wrapping multiplies emulated in
  * HUGEINT via 32-bit half-products, signed `%` semantics reproduced from
  * the unsigned hash — so every lang/source/n_chars cell is hash-checked
  * against an independent implementation, not against the source itself.
  *
  * `layout_bucketed_join` does the same promotion for the physical-layout
  * tier: it writes bucketed+sorted copies of `orders` and `customer`
  * ([[Layout.writeBucketed]]) and joins them on the bucket key — the
  * 100×-scale join shape where the per-query shuffle is prepaid at write
  * time. The oracle aggregates the same join on the raw parquet, and the
  * plan gate pins the shuffle-free join (no Exchange on either join key).
  *
  * `src_store_roundtrip` drives the manifest-committed store end to end
  * IN the gated query: write a filtered projection of `orders` into a
  * fresh snapshot (overwrite → exactly one live snapshot), read it back
  * through the pinned-manifest scan, aggregate. The oracle computes the
  * same aggregate on the parquet directly, so a hash match proves the
  * DSv2 write commit protocol + row codec + read path preserve data
  * bit-exactly, not merely that GraftStoreSpec's fixtures round-trip.
  */
object SourceOps {
  import Tables._

  /** Deterministic scratch root per sf dir AND per process (Verify at
    * sf0.01 and Bench at sf0.1 must not clobber each other's in-flight
    * store, and two concurrent harness processes must not share one —
    * r11 ADVICE; [[StoreRoots.tmpRoot]] carries the pid). */
  private def storeRoot(dir: String): String = StoreRoots.tmpRoot("rt", dir)

  /** SQL-catalog warehouse: FIXED within a process (CatalogManager
    * caches the catalog instance with the options seen at FIRST use, so
    * the path must never vary per query/dir inside one session), pid-
    * suffixed so concurrent harness processes get disjoint warehouses
    * (r11 ADVICE — bench and correctness racing on one table). */
  private[operators] lazy val sqlWarehouse: String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-sql-warehouse-p${ProcessHandle.current().pid()}")
      .getAbsolutePath

  /** Every catalog query's prologue: registers the `graft` SQL catalog
    * on [[sqlWarehouse]] and creates `graft.gold`. The warehouse path is
    * FIXED: CatalogManager caches the catalog instance with the options
    * seen at FIRST use, so a per-dir path would silently pin later runs
    * to the first run's warehouse. Cleanup is SQL (DROP TABLE routes
    * through the same cached catalog), never a raw FS delete behind its
    * back. */
  private def useGraftCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", sqlWarehouse)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.gold")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DSv2 generator scan: range pushdown narrows generation to
    // [2000, 12000) out of a declared 20000-row table; pruning drops
    // `text` from the scan schema (n_chars still forces generation
    // internally — the pruning win is wire width; the full
    // skip-text-compute win is pinned in DocGenSourceSpec).
    "src_docgen_agg" -> { (s, _) =>
      s.read.format("graft-docgen")
        .option("rows", 20000).option("numPartitions", 8).option("seed", 42)
        .load()
        .filter(col("doc_id") >= 2000 && col("doc_id") < 12000)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"), col("source"))
    },
    // pre-bucketed co-located join: both sides bucketed+sorted on their
    // join key at write time (8 buckets — matched counts, so bucket i
    // joins bucket i with no repartitioning), then a sort-merge join that
    // must read co-located buckets shuffle-free. hint("merge") keeps the
    // sf-independent SMJ shape (a broadcast would also skip the shuffle,
    // but it is exactly the plan that DIES at 100× when the "small" side
    // stops fitting — the bucketed layout is the scale-proof alternative
    // this query exists to pin).
    "layout_bucketed_join" -> { (s, dir) =>
      val sfTag = new java.io.File(dir).getName.replace('.', '_')
      val ot = s"graft_bucketed_orders_$sfTag"
      val ct = s"graft_bucketed_customer_$sfTag"
      // each table at an explicit path under a per-process tmp root: the
      // default warehouse is relative to the working directory, which
      // would print the checkout's location into the plan. The table is
      // dropped and its files deleted first, so every run writes afresh.
      val root = StoreRoots.tmpRoot("bucketed", dir)
      def write(df: DataFrame, table: String, key: String): Unit = {
        val path = s"$root/$table"
        s.sql(s"DROP TABLE IF EXISTS $table")
        StoreRoots.reset(s, path)
        Layout.writeBucketed(df, table, key, buckets = 8, path = Some(path))
      }
      write(orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        ot, "o_custkey")
      write(customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        ct, "c_custkey")
      s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .orderBy(col("c_mktsegment"))
    },
    // DSv2 store round-trip: write-commit-read inside the gated query.
    "src_store_roundtrip" -> { (s, dir) =>
      val root = storeRoot(dir)
      val src = orders(s, dir)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
      GraftStore.write(src, root, overwrite = true)
      GraftStore.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          // decimal-exact, order-independent money sum (Relational.dsum
          // convention), rounded to 2dp before the double cast so the
          // decimal→double conversion is exact on both engines
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .orderBy(col("o_orderpriority"))
    },
    // Format interop under the hash gate: the same typed rows hop
    // parquet → CSV → JSON → ORC through the explicit-schema readers
    // (graft.sources.Sources — no inference double-read anywhere), and
    // the final aggregate must hash-match DuckDB computing directly on
    // the original parquet. This is the proof that longs, doubles,
    // timestamps, and quoted strings survive every text/columnar
    // serialization boundary bit-faithfully — the property ETL between
    // heterogeneous systems silently loses (CSV float formatting, JSON
    // timestamp zones). Chained, not three separate queries: any lossy
    // hop poisons the final hash.
    // PERMISSIVE-mode malformed-row audit: the ingestion reality check
    // every raw-feed reader needs — rows that don't parse must be
    // COUNTED AND QUARANTINED, never silently dropped (DROPMALFORMED)
    // or fatal (FAILFAST). The clean fixture has no bad rows, so (the
    // text_pii_redact planting discipline) the query writes the orders
    // table out as raw CSV text with every 97th key's price replaced by
    // a non-numeric token, reads it back under an explicit schema with
    // a _corrupt_record column, and reports good/corrupt counts plus
    // the decimal-exact price sum of the rows that survived. The oracle
    // computes the same report from the parquet table and the planting
    // rule alone — if Spark's CSV parser dropped, duplicated, or
    // mis-nulled anything, the hash breaks. Scale: the scrub is a
    // per-row parse with zero shuffle before the one-row report.
    "src_csv_malformed" -> { (s, dir) =>
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-badcsv-${new java.io.File(dir).getName}").getAbsolutePath
      orders(s, dir).select(
        when(col("o_orderkey") % 97 === 0,
          concat_ws(",", col("o_orderkey"), lit("NOT_A_NUMBER"),
            col("o_orderpriority")))
          .otherwise(concat_ws(",", col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))).as("value"))
        .write.mode("overwrite").text(root)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderpriority",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(root)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .cast("long").as("n_good"),
          round(sum(when(col("_corrupt_record").isNull,
            col("o_totalprice").cast("decimal(18,2)"))), 2)
            .cast("double").as("good_price_sum"))
    },
    "src_format_roundtrip" -> { (s, dir) =>
      import graft.sources.Sources
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-fmt-rt-${new java.io.File(dir).getName}").getAbsolutePath
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderdate", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("o_orderpriority", org.apache.spark.sql.types.StringType)))
      val src = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      Sources.stage(src, s"$root/csv", "csv")
      val fromCsv = Sources.readCsv(s, s"$root/csv", schema)
      Sources.stage(fromCsv, s"$root/json", "json")
      val fromJson = Sources.readJson(s, s"$root/json", schema)
      Sources.stage(fromJson, s"$root/orc", "orc")
      Sources.readOrc(s, s"$root/orc")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_custkey")).cast("long").as("max_cust"))
        .orderBy(col("o_orderpriority"))
    },
    // Hive-style partition pruning under the oracle: events re-land
    // partitioned by event_type (directory per value), the read filters
    // one type, and Spark's catalog prunes the other directories AT
    // PLANNING — PartitionFilters in the scan, zero I/O on 4/5 of the
    // data (gated in PlanShapeSpec). This is the third skipping tier in
    // the repo (store file-stats skipping, z-order clustering,
    // directory partitioning) and the one every warehouse layout leans
    // on first: a date-partitioned 100 TB table serves a one-day query
    // at one-day cost. The oracle computes from the unpartitioned
    // source, proving the re-land is semantics-free.
    "layout_partition_prune" -> { (s, dir) =>
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-part-${new java.io.File(dir).getName}").getAbsolutePath
      events(s, dir)
        .select(col("event_type"), col("user_id"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(root)
      s.read.parquet(root)
        .filter(col("event_type") === "purchase")
        .groupBy((col("user_id") % 10).cast("long").as("cohort"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
        .orderBy(col("cohort"))
    },
    // Store-integrated ingest gate — the composition the lakehouse
    // exists for: the corpus's exact-dup index (doc_id, md5) lives IN
    // the graft-store (snapshot-committed, so a concurrent reader never
    // sees a half-written index), and the incoming batch classifies
    // against the STORE READ via one broadcast-able semi join. The
    // oracle replays the split+classify semantics directly on raw
    // parquet — a hash match proves the store hop is semantics-free.
    // At 100 TB the index is corpus-sublinear (one 32-char hash per
    // doc), the daily batch never rescans the corpus, and appends to
    // the index ride the store's atomic manifest publish
    // (dedup_incremental is the storeless twin; DocStream
    // classifyIncremental the streaming one).
    "src_store_dedup_gate" -> { (s, dir) =>
      val root = storeRoot(dir) + "-dedupgate"
      val docs = documents(s, dir)
      val index = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), md5(col("text")).as("h"))
      GraftStore.write(index, root, overwrite = true)
      // the incoming batch = the post-split docs PLUS re-keyed copies of
      // ten corpus docs (a re-crawl) — plants known exact dups at every
      // scale so the gate provably classifies, replayed in the oracle
      val batch = docs.filter(col("doc_id") >= 300)
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
        .union(docs.filter(col("doc_id") < 10)
          .select(col("source"), (col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text")).as("h")))
      val stored = GraftStore.read(s, root).select(col("h")).distinct()
      batch.join(broadcast(stored), Seq("h"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
        .join(batch.groupBy(col("source")).agg(count(lit(1)).as("n_batch")),
          Seq("source"), "right")
        .select(col("source"), col("n_batch"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          (col("n_batch") - coalesce(col("n_dup"), lit(0L))).as("n_new"))
        .orderBy(col("source"))
    },
    // small-file compaction under the oracle: three appends (each adds
    // its own data files — the micro-batch ingest pathology), then
    // compact() rewrites the snapshot into 2 files via one atomic
    // manifest publish, then the aggregate reads the COMPACTED
    // snapshot. A hash match proves compaction is a pure layout move
    // (bit-identical data, DuckDB recomputes from raw parquet); the
    // file-count collapse itself is asserted in the plan gate via the
    // scan's manifest description. At scale this is the maintenance
    // job a streaming store runs continuously: readers pay per file,
    // so compaction converts O(epochs) open costs into O(targetFiles).
    "src_store_compact" -> { (s, dir) =>
      val root = storeRoot(dir) + "-compact"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
      def slice(pfx: String) = base.filter(col("o_orderpriority").startsWith(pfx))
      GraftStore.write(slice("1"), root, overwrite = true)
      GraftStore.write(slice("2"), root)
      GraftStore.write(slice("3"), root)
      GraftStore.compact(s, root, targetFiles = 2)
      GraftStore.read(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .orderBy(col("o_orderpriority"))
    },
    // Retention maintenance under the oracle: vacuum after compaction.
    // Three commits build deterministic file counts (repartition pins
    // files-per-commit: 4-file overwrite, 3-file append, 2-file
    // compact), leaving exactly 7 orphaned data files the latest
    // manifest no longer references; vacuum must delete exactly those
    // and NOTHING the live snapshot needs. The hash gate checks both
    // halves at once — `files_vacuumed` pins the orphan count (a
    // structural fact of this query's own writes, so the oracle states
    // it as a constant) and the aggregate re-reads the post-vacuum
    // store against DuckDB's recompute from raw orders, which fails if
    // vacuum touched a live file. Completes the store lifecycle
    // surface: ingest → compact → VACUUM → read. At scale vacuum is
    // the storage-cost bound of a continuously-compacted store —
    // O(epochs) dead files reclaimed by one manifest-diff listing,
    // never a data scan.
    "src_store_vacuum" -> { (s, dir) =>
      val root = storeRoot(dir) + "-vacuum"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderstatus") === "F").repartition(4),
        root, overwrite = true)                                       // v1: 4 files
      GraftStore.write(base.filter(col("o_orderstatus") === "O").repartition(3),
        root)                                                         // v2: +3 files
      GraftStore.compact(s, root, targetFiles = 2)                    // v3: 2 live
      val removed = GraftStore.vacuum(root, graceMs = 0L)             // 4 + 3 dead
      GraftStore.read(s, root)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          max(col("o_orderkey")).cast("long").as("max_key"))
        .withColumn("files_vacuumed", lit(removed))
        .orderBy(col("o_orderstatus"))
    },
    // z-ordered layout under the oracle: write an events copy clustered
    // by the z-interleave of (user_id, value), then run a 2-D box query
    // against it. Correctness comes from the oracle (same box on the
    // raw parquet); the 100× claim is the layout itself — files own
    // contiguous z-ranges, so BOTH dimensions' min-max stats become
    // selective and the box reads a handful of files (file-level
    // pruning is pinned quantitatively in LayoutSpec; this query pins
    // that the clustered copy is byte-faithful). Bounds cover every sf
    // (bucketing clamps outliers); pruning needs no reader cooperation
    // — it rides ordinary parquet min-max stats, which is what makes
    // z-ordering a pure write-time decision.
    "layout_zorder_scan" -> { (s, dir) =>
      val path = storeRoot(dir) + "-zorder"
      Layout.writeZordered(
        events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")),
        path, "user_id", 0, 1500, "value", 0, 600, files = 8)
      s.read.parquet(path)
        .filter(col("user_id").between(5, 10) && col("value").between(50, 150))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    },
    // snapshot isolation + time travel, end to end under the oracle:
    // overwrite publishes v1 (finished orders only), append publishes v2
    // (v1's files + open orders — append REFERENCES v1's data files, it
    // never rewrites them), then BOTH snapshots are read back in one
    // query — v1 via `option("version", 1)` pinning, v2 as latest. A
    // hash match proves the append left v1 byte-stable (the audit/
    // reproducibility contract of a training-data store: yesterday's
    // dataset version stays exactly readable after today's ingest) and
    // that version pinning selects the right file set. Scale: commit
    // cost is O(new files) manifest lines regardless of store size, and
    // each scan reads only its manifest's files.
    "src_store_timetravel" -> { (s, dir) =>
      val root = storeRoot(dir) + "-tt"
      // fresh store each run → deterministic version numbers (1, 2)
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      GraftStore.write(base.filter(col("o_orderstatus") === "F"), root,
        overwrite = true)
      GraftStore.write(base.filter(col("o_orderstatus") === "O"), root)
      def snapAgg(df: DataFrame, tag: String): DataFrame =
        df.groupBy(lit(tag).as("snapshot"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
              .cast("double").as("sum_price"),
            max(col("o_orderkey")).cast("long").as("max_key"))
      val v1 = s.read.format("graft-store").option("version", 1).load(root)
      val v2 = GraftStore.read(s, root)
      snapAgg(v1, "v1").unionByName(snapAgg(v2, "v2"))
        .orderBy(col("snapshot"), col("o_orderstatus"))
    },
    // The SQL-only front door end to end: register the DSv2 catalog,
    // CTAS a store table from orders, append the leftover partition
    // with INSERT INTO, and aggregate back — every byte moved through
    // `graft.<ns>.<table>` identifiers, zero path-based API calls. The
    // hash pins that catalog resolution, the CTAS write path, the
    // append commit, and the catalog scan all compose correctly (CTAS
    // claims manifest v1+v2, the INSERT publishes v3 via the same
    // optimistic commitLoop as the path surface). Scale: catalog ops
    // are O(manifest) driver metadata; the data path is the ordinary
    // DSv2 scan/write.
    "src_store_catalog_sql" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gcat")
      s.sql(
        """CREATE TABLE graft.gold.orders AS
          |SELECT * FROM orders_src_gcat WHERE o_orderstatus <> 'P'""".stripMargin)
      s.sql(
        """INSERT INTO graft.gold.orders
          |SELECT * FROM orders_src_gcat WHERE o_orderstatus = 'P'""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
          |    AS sum_price,
          |  MAX(o_orderkey) AS max_key
          |FROM graft.gold.orders
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    },
    // Pure-SQL row-level DML on catalog tables — the surface a
    // lakehouse user hits first after CTAS: `DELETE FROM ... WHERE`
    // rides GraftStoreTable's SupportsDelete (file-pruned copy-on-write
    // — files whose stats prove no match carry forward at the manifest
    // level, only possibly-matching files rewrite; see GsbDelete), and
    // the bare `DELETE FROM t` routes to truncateTable — one O(1)
    // empty-manifest commit, no data touched. The aggregate reads both
    // tables back through the catalog: the delete outcome is hash-gated
    // against a raw-parquet replay, the truncate row pins (0, 0.0).
    "src_store_catalog_dml" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_dml")
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_trunc")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gdml")
      s.sql("""CREATE TABLE graft.gold.orders_dml AS
              |SELECT * FROM orders_src_gdml""".stripMargin)
      s.sql("""CREATE TABLE graft.gold.orders_trunc AS
              |SELECT * FROM orders_src_gdml WHERE o_orderkey % 2 = 0""".stripMargin)
      // translatable WHERE (Or(EqualTo, GreaterThan)) → SupportsDelete
      s.sql("""DELETE FROM graft.gold.orders_dml
              |WHERE o_orderstatus = 'P' OR o_totalprice > 200000.0""".stripMargin)
      // no WHERE → TruncatableTable: one metadata-only commit
      s.sql("DELETE FROM graft.gold.orders_trunc")
      s.sql(
        """SELECT state, n, sum_price FROM (
          |  SELECT 'after_delete' AS state, COUNT(*) AS n,
          |    COALESCE(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
          |      AS DOUBLE), 0.0) AS sum_price
          |  FROM graft.gold.orders_dml
          |  UNION ALL
          |  SELECT 'after_truncate', COUNT(*),
          |    COALESCE(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
          |      AS DOUBLE), 0.0)
          |  FROM graft.gold.orders_trunc)
          |ORDER BY state""".stripMargin)
    },
    // SQL UPDATE + MERGE INTO end to end under the oracle — the
    // row-level rewrite surface (SupportsRowLevelOperations, group-
    // based copy-on-write; see GsbRowLevelOperation). UPDATE discounts
    // every urgent order 10% (condition pushed as a group filter — only
    // files whose stats admit urgent rows rewrite); MERGE upserts a
    // batch that doubles the price of P-status orders and inserts
    // synthetic late orders keyed past the domain max. The final
    // aggregate reads the table back through the catalog; the oracle
    // replays both mutations over raw parquet in plain SQL.
    "src_store_catalog_upsert" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_ups")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gups")
      s.sql("""CREATE TABLE graft.gold.orders_ups AS
              |SELECT * FROM orders_src_gups""".stripMargin)
      // decimal-exact discount: double*0.9 would round-tie differently
      // across engines; DECIMAL multiply + HALF_UP round agrees exactly
      s.sql("""UPDATE graft.gold.orders_ups
              |SET o_totalprice = CAST(ROUND(
              |  CAST(o_totalprice AS DECIMAL(18,4)) * CAST(0.9 AS DECIMAL(2,1)),
              |  2) AS DOUBLE)
              |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
      s.sql("""MERGE INTO graft.gold.orders_ups t
              |USING (
              |  SELECT o_orderkey, o_totalprice * 2 AS new_price
              |  FROM orders_src_gups WHERE o_orderstatus = 'P'
              |  UNION ALL
              |  SELECT o_orderkey + 100000000, 111.11
              |  FROM orders_src_gups WHERE o_orderkey % 1000 = 0
              |) s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.new_price
              |WHEN NOT MATCHED THEN INSERT
              |  (o_orderkey, o_orderstatus, o_orderpriority, o_totalprice)
              |  VALUES (s.o_orderkey, 'L', '9-LATE', s.new_price)""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
          |    AS sum_price,
          |  MAX(o_orderkey) AS max_key
          |FROM graft.gold.orders_ups
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    },
    // REPLACE WHERE + ALTER TABLE ADD COLUMNS under the oracle: the
    // partition-overwrite generalization (atomically delete the
    // matching key range and land the incoming batch in ONE manifest
    // publish, file-pruned by stats) followed by metadata-only DDL
    // widening and a write into the new column. The aggregate reads the
    // final table back through the catalog; the oracle replays
    // replace-then-append over raw parquet.
    "src_store_replace_where" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_rw")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_grw")
      s.sql("""CREATE TABLE graft.gold.orders_rw AS
              |SELECT * FROM orders_src_grw""".stripMargin)
      s.sql("""INSERT INTO graft.gold.orders_rw REPLACE WHERE o_totalprice > 200000.0
              |SELECT o_orderkey + 200000000, 'R', 99999.99
              |FROM orders_src_grw WHERE o_totalprice > 300000.0""".stripMargin)
      s.sql("ALTER TABLE graft.gold.orders_rw ADD COLUMNS (band STRING)")
      s.sql("""INSERT INTO graft.gold.orders_rw
              |SELECT o_orderkey + 300000000, 'B', o_totalprice, 'late-band'
              |FROM orders_src_grw WHERE o_orderkey % 500 = 0""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COALESCE(band, 'none') AS band,
          |  COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
          |    AS sum_price
          |FROM graft.gold.orders_rw
          |GROUP BY o_orderstatus, band
          |ORDER BY o_orderstatus, band""".stripMargin)
    },
    // Column evolution under the oracle — DROP COLUMN, a RENAME CHAIN
    // across two file generations, and an append under the renamed
    // schema, all metadata-only commits (zero data movement; committed
    // files are immutable and readers resolve each current name back to
    // the name a file was written under — see GsbColOp). The final
    // aggregate reads the evolved table through the catalog; the oracle
    // replays create+append over raw parquet with the final names. At
    // 100 TB this is the schema-lifecycle a long-lived corpus store
    // actually runs: renames and drops land instantly, no rewrite job.
    "src_store_catalog_evolve" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_evo")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gevo")
      s.sql("""CREATE TABLE graft.gold.orders_evo AS
              |SELECT * FROM orders_src_gevo""".stripMargin)
      s.sql("ALTER TABLE graft.gold.orders_evo RENAME COLUMN o_totalprice TO price")
      s.sql("ALTER TABLE graft.gold.orders_evo DROP COLUMN o_orderstatus")
      // second file generation lands under the renamed schema
      s.sql("""INSERT INTO graft.gold.orders_evo
              |SELECT o_orderkey + 500000000, o_totalprice
              |FROM orders_src_gevo WHERE o_orderkey % 400 = 0""".stripMargin)
      // chain: files now exist under o_totalprice AND price; both must
      // resolve through amount
      s.sql("ALTER TABLE graft.gold.orders_evo RENAME COLUMN price TO amount")
      s.sql(
        """SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(amount AS DECIMAL(18,4))), 2) AS DOUBLE)
          |    AS sum_amount
          |FROM graft.gold.orders_evo
          |GROUP BY o_orderkey % 7
          |ORDER BY bucket""".stripMargin)
    },
    // Wall-clock time travel under the oracle — `TIMESTAMP AS OF`
    // resolves the latest snapshot committed at or before the instant
    // (manifests record commit millis; O(versions) metadata walk). The
    // captured instant sits strictly between two inserts — the query
    // busy-waits one millisecond so the next commit's timestamp is
    // STRICTLY later, making the pre/post split deterministic — and the
    // output pins both the traveled and the latest aggregate. The
    // oracle replays the two states from raw parquet.
    "src_store_catalog_travel" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_tt")
      orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gtt")
      s.sql("""CREATE TABLE graft.gold.orders_tt AS
              |SELECT * FROM orders_src_gtt WHERE o_orderkey % 3 = 0""".stripMargin)
      val t1 = System.currentTimeMillis()
      while (System.currentTimeMillis() <= t1) Thread.sleep(1)
      s.sql("""INSERT INTO graft.gold.orders_tt
              |SELECT * FROM orders_src_gtt WHERE o_orderkey % 3 = 1""".stripMargin)
      val lit = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneId.systemDefault())
        .format(java.time.Instant.ofEpochMilli(t1))
      s.sql(
        s"""SELECT state, n, sum_price FROM (
           |  SELECT 'as_of' AS state, COUNT(*) AS n,
           |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
           |      AS DOUBLE) AS sum_price
           |  FROM graft.gold.orders_tt TIMESTAMP AS OF '$lit'
           |  UNION ALL
           |  SELECT 'latest', COUNT(*),
           |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
           |      AS DOUBLE)
           |  FROM graft.gold.orders_tt)
           |ORDER BY state""".stripMargin)
    },
    // SQL metadata tables on the catalog — Iceberg's `t$snapshots` /
    // `t$refs` pattern: the commit history and the named tags of any
    // catalog table are themselves SQL-queryable relations, resolved by
    // the catalog from the immutable manifests (O(versions) driver
    // walk; no data file opened). The oracle predicts every snapshot's
    // exact row count from raw orders — v1 is the CREATE's empty claim,
    // CTAS data lands as v2, each INSERT appends one version, and the
    // tag pins the audited version — so the SQL surface, the versioning
    // contract, and the manifest row accounting are all under one hash.
    "src_store_catalog_meta" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_meta")
      orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gmeta")
      s.sql("""CREATE TABLE graft.gold.orders_meta AS
              |SELECT * FROM orders_src_gmeta WHERE o_orderkey % 4 = 0""".stripMargin)
      s.sql("""INSERT INTO graft.gold.orders_meta
              |SELECT * FROM orders_src_gmeta WHERE o_orderkey % 4 = 1""".stripMargin)
      // tag through the LIVE catalog's warehouse: the CatalogManager
      // pins the instance (and its warehouse) at first use, which in a
      // shared session may predate this query's conf.set above
      val liveWh = s.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[graft.sources.GraftCatalog].warehousePath
      GraftStore.tag(s"$liveWh/gold/orders_meta", "audited")
      s.sql("""INSERT INTO graft.gold.orders_meta
              |SELECT * FROM orders_src_gmeta WHERE o_orderkey % 4 = 2""".stripMargin)
      s.sql("""SELECT 'snapshot' AS kind, CAST(version AS STRING) AS name,
              |  version, n_rows
              |FROM graft.gold.`orders_meta$snapshots`
              |UNION ALL
              |SELECT 'ref', name, version, CAST(NULL AS BIGINT)
              |FROM graft.gold.`orders_meta$refs`
              |ORDER BY kind, version, name""".stripMargin)
    },
    // Snapshot-history metadata table — the `table$snapshots` audit
    // surface: three deterministic commits (one overwrite, two
    // appends), then [[GraftStore.snapshots]] reads the per-version
    // history straight off the immutable manifests — an O(versions)
    // driver walk that never opens a data file. The oracle recomputes
    // each version's exact row count from raw orders, certifying that
    // the per-file counts recorded at commit time add up to the truth
    // for EVERY live snapshot, not just the latest. (File/byte columns
    // are layout-dependent — task-count and encoder artifacts — so the
    // gated projection pins the engine-independent history; the spec
    // covers the rest.)
    "src_store_snapshots" -> { (s, dir) =>
      val root = storeRoot(dir) + "-snapmeta"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderkey") % 4 === 0), root,
        overwrite = true)
      GraftStore.write(base.filter(col("o_orderkey") % 4 === 1), root)
      GraftStore.write(base.filter(col("o_orderkey") % 4 === 2), root)
      GraftStore.snapshots(s, root)
        .select(col("version"), col("n_rows"))
        .orderBy(col("version"))
    },
    // WRITE–AUDIT–PUBLISH — the lakehouse governance loop, composed
    // entirely from machinery the store already has: a day's load lands
    // in a STAGING store, a quality audit aggregates it in quarantine,
    // and only a passing batch is appended to the production store,
    // whose releases are pinned by immutable tags. The poisoned day-2
    // batch (planted negative prices on the %11 keys) never enters
    // production's LINEAGE at all — not even as a dead snapshot — so
    // prod time travel can never resurrect it; the repaired re-stage
    // passes and publishes atomically as prod v2 / release-2. This is
    // the gate a 100 TB ingest runs before each atomic daily publish.
    // Scale: audits are one aggregation over the staged batch (delta-
    // sized, not corpus-sized); publish is one manifest commit; tags
    // are O(1) driver files and vacuum GC roots, so both releases stay
    // reproducible by name forever.
    "src_store_wap" -> { (s, dir) =>
      val root = storeRoot(dir) + "-wap"
      StoreRoots.reset(s, root)
      val prod = root + "/prod"
      val stage = root + "/staging"
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val batch1 = base.filter(col("o_orderkey") % 3 === 0)
      val batch2Bad = base.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
      val batch2Fix = base.filter(col("o_orderkey") % 3 === 1)
      def nBad(df: DataFrame): Long =
        df.filter(col("o_totalprice") < 0).count()
      GraftStore.write(batch1, prod, overwrite = true)
      val rel1 = GraftStore.tag(prod, "release-1")
      // day 2 stages in quarantine; its audit fails, so prod is untouched
      GraftStore.write(batch2Bad, stage, overwrite = true)
      if (nBad(GraftStore.read(s, stage)) > 0)
        GraftStore.write(batch2Fix, stage, overwrite = true)
      // the repaired re-stage passes audit -> publish (append) + tag
      val staged = GraftStore.read(s, stage)
      if (nBad(staged) == 0) GraftStore.write(staged, prod)
      val rel2 = GraftStore.tag(prod, "release-2")
      def rep(df: DataFrame, st: String, ver: Long): DataFrame =
        df.groupBy(lit(st).as("stage"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("n_bad"),
            round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
              .cast("double").as("sum_price"))
          .withColumn("version", lit(ver))
      val quarantined = s.read.format("graft-store").option("version", 1)
        .load(stage)
      val r1 = s.read.format("graft-store").option("ref", "release-1").load(prod)
      val r2 = s.read.format("graft-store").option("ref", "release-2").load(prod)
      rep(r1, "1_release1", rel1)
        .unionByName(rep(quarantined, "2_quarantined", 1L))
        .unionByName(rep(r2, "3_release2", rel2))
        .orderBy(col("stage"))
    },
    // Named refs (tags) end to end: v1 is tagged "release-1" BEFORE the
    // second ingest advances the store, then read back BY NAME via
    // `option("ref", ...)` next to the moving latest. The hash pins
    // that ref resolution selects exactly the tagged snapshot after
    // later writes — the reproducibility contract a training run relies
    // on when it records a dataset tag instead of a raw version number.
    // Tags are immutable (exclusive-create, no update path — see
    // GraftStore.tag), so the name can never silently move; the
    // emitted tagged_version pins that "release-1" resolved to v1.
    // Scale: a tag is one O(1) driver-side file; ref reads cost one
    // extra line-read before the ordinary pinned-manifest scan.
    "src_store_tag" -> { (s, dir) =>
      val root = storeRoot(dir) + "-tag"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderstatus"))
      GraftStore.write(base.filter(col("o_orderstatus") === "F"), root,
        overwrite = true)
      val tagged = GraftStore.tag(root, "release-1")
      GraftStore.write(base.filter(col("o_orderstatus") === "O"), root)
      def snapAgg(df: DataFrame, snap: String): DataFrame =
        df.groupBy(lit(snap).as("snapshot"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
              .cast("double").as("sum_price"),
            max(col("o_orderkey")).cast("long").as("max_key"))
          .withColumn("tagged_version", lit(tagged))
      val byRef = s.read.format("graft-store").option("ref", "release-1")
        .load(root)
      snapAgg(byRef, "release-1").unionByName(snapAgg(GraftStore.read(s, root),
          "latest"))
        .orderBy(col("snapshot"))
    },
    // snapshot DIFF — the reconcile primitive between two store
    // versions: which keys were added, removed, or changed between
    // yesterday's dataset and today's, and the net value drift. Both
    // versions are materialized through the store (two overwrite
    // commits → manifest versions 1 and 2, each read back via time
    // travel), then compared with ONE hash-partitioned full-outer join
    // on the key — the single-shuffle reconcile; the naive
    // added/removed/changed formulation is three corpus passes. The
    // simulated day-2 state adds every %10 key, drops every %13 key,
    // and doubles the price of every %7 key, so all three statuses are
    // exercised with deterministic counts.
    "src_store_diff" -> { (s, dir) =>
      val root = storeRoot(dir) + "-diff"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderkey") % 10 =!= 0), root,
        overwrite = true)
      GraftStore.write(base.filter(col("o_orderkey") % 13 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice"))),
        root, overwrite = true)
      val v1 = s.read.format("graft-store").option("version", 1).load(root)
        .select(col("o_orderkey").as("k1"), col("o_totalprice").as("p1"))
      val v2 = s.read.format("graft-store").option("version", 2).load(root)
        .select(col("o_orderkey").as("k2"), col("o_totalprice").as("p2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .withColumn("status",
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("p1") =!= col("p2"), "changed")
            .otherwise("unchanged"))
        .filter(col("status") =!= "unchanged")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          round(sum(coalesce(col("p2"), lit(0)).cast("decimal(18,4)") -
            coalesce(col("p1"), lit(0)).cast("decimal(18,4)")), 2)
            .cast("double").as("price_delta"))
        .orderBy(col("status"))
    },
    // MERGE-style upsert — the lakehouse write primitive: a change
    // batch lands on a base snapshot as "update matched keys, insert
    // new ones", published atomically as the next manifest version.
    // Implementation is the same single-shuffle reconcile as
    // `src_store_diff`: ONE full-outer join between snapshot and batch
    // with batch-wins column selection, then one overwrite commit (v2).
    // Readers of v1 are untouched mid-merge — the commit either
    // publishes whole or not at all (GraftStoreSpec's orphan
    // invisibility). Base = keys %3 ≠ 0; batch = keys %5 = 0 with
    // price+1000 → the batch both updates (keys in base) and inserts
    // (keys %15 ∈ {0,3,6,9,12} patterns where %3 = 0), deterministic at
    // every sf. The aggregate reads v2 back per merge-outcome class.
    // Row-level DELETE on the store: the GDPR/right-to-erasure shape —
    // remove every row for a key set (here: % 13 "erasure requests"),
    // publish as a new snapshot, and prove three things at once under
    // one hash gate: (a) the delete removed EXACTLY the requested rows
    // (counts + surviving decimal sum match an oracle that only knows
    // the predicate), (b) time travel still serves the PRE-delete
    // snapshot unchanged (the audit-hold read), and (c) nothing else
    // moved. Copy-on-write via anti-join — at scale the rewrite is
    // file-pruned to files whose stats overlap the key set (the
    // src_store_skip machinery), not the whole table; deletion vectors
    // are the next tier and change the read path, not this contract.
    "src_store_delete" -> { (s, dir) =>
      val root = storeRoot(dir) + "-del"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base, root, overwrite = true)
      val v1 = s.read.format("graft-store").option("version", 1).load(root)
      GraftStore.write(v1.filter(col("o_orderkey") % 13 =!= 0), root,
        overwrite = true)
      val after = s.read.format("graft-store").option("version", 2).load(root)
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .select(lit("after_delete").as("state"), col("n"), col("sum_price"))
      val audit = s.read.format("graft-store").option("version", 1).load(root)
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .select(lit("audit_hold_v1").as("state"), col("n"), col("sum_price"))
      after.unionByName(audit).orderBy(col("state"))
    },
    "src_store_merge" -> { (s, dir) =>
      val root = storeRoot(dir) + "-merge"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderkey") % 3 =!= 0), root,
        overwrite = true)
      val batch = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("bk"),
          (col("o_totalprice") + 1000).as("bp"))
      val snap = s.read.format("graft-store").option("version", 1).load(root)
      val merged = snap.join(batch, col("o_orderkey") === col("bk"),
          "full_outer")
        .select(coalesce(col("o_orderkey"), col("bk")).as("o_orderkey"),
          coalesce(col("bp"), col("o_totalprice")).as("o_totalprice"))
      GraftStore.write(merged, root, overwrite = true)
      s.read.format("graft-store").option("version", 2).load(root)
        .groupBy(when(col("o_orderkey") % 5 =!= 0, "untouched")
          .when(col("o_orderkey") % 3 === 0, "inserted")
          .otherwise("updated").as("outcome"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .orderBy(col("outcome"))
    },
    // schema EVOLUTION under the oracle: v1 lands (key, price); the
    // append adds a nullable `o_band` column — a legal widening, so the
    // commit publishes the union schema and v1's files stay valid, read
    // back with nulls for the column they predate. The aggregate proves
    // the null-fill lands exactly on pre-evolution rows (n_banded
    // counts only v2's qualifying rows) and that both writers' data
    // survives byte-exactly. Evolution cost at scale: zero data
    // movement — one manifest line; old files are never rewritten.
    // Incremental (CDC-style) consumption: a downstream pipeline polls
    // the store and processes ONLY what arrived since its last sync
    // point — `sinceVersion` drops the baseline snapshot's files at
    // PLANNING time, so the consumer of a 100 TB append store reads the
    // delta, never the accumulated history. The fixture writes v1,
    // appends a disjoint slice as v2, then reads changes-since-v1; the
    // oracle replays the appended slice straight from the raw orders —
    // passing means the file-level delta IS exactly the appended rows.
    "src_store_changes" -> { (s, dir) =>
      val root = storeRoot(dir) + "-changes"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 0), root,
        overwrite = true)                                          // v1
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 1), root) // v2
      GraftStore.readChanges(s, root, sinceVersion = 1L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_new"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("new_price"),
          min(col("o_orderkey")).cast("long").as("min_key"))
        .orderBy(col("o_orderpriority"))
    },
    // Incremental view maintenance: refresh a per-group aggregate by
    // merging the OLD aggregate with the aggregate of the CDC delta —
    // never rescanning the base. The v1 aggregate plays the persisted
    // materialized view (computed from the time-traveled v1 snapshot),
    // the delta aggregate comes off `sinceVersion`, and the merge is a
    // union of PARTIAL aggregates re-aggregated (counts add, decimal
    // sums add exactly — rounding happens once, at the end, so the
    // merged result is bit-identical to a full recompute). The oracle
    // IS that full recompute over the raw orders — a pass proves the
    // delta-merge path equals the rescan it replaces. At 100 TB the
    // rescan costs the corpus; the refresh costs the delta.
    "src_store_ivm" -> { (s, dir) =>
      val root = storeRoot(dir) + "-ivm"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 0), root,
        overwrite = true)                                          // v1
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 1), root) // v2
      def partial(df: DataFrame) = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("ps"))
      val viewV1 = partial(s.read.format("graft-store")
        .option("version", 1).load(root))
      val deltaAgg = partial(GraftStore.readChanges(s, root, 1L))
      viewV1.unionByName(deltaAgg)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("pn")).cast("long").as("n_orders"),
          round(sum(col("ps")), 2).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    // Snapshot retention end to end: expireSnapshots bounds the
    // MANIFEST history (without it a store accumulates one manifest per
    // commit forever, and chunk GC can free nothing — any manifest
    // referencing a chunk pins it), vacuum then collects the data files
    // the expired snapshots were keeping. Tags survive both by
    // contract. The fixture commits v1 (tagged), v2 (overwrite), v3
    // (overwrite), expires keeping the latest only, vacuums, and reads
    // BOTH surviving surfaces back — the latest snapshot and the tagged
    // v1 — byte-exact, alongside the retention counters: exactly one
    // manifest (v2's) expired, v2's orphaned files vacuumed, and the
    // $snapshots history shrunk to the two pinned versions. At 100 TB
    // this pair is the daily maintenance window; both passes are
    // driver-side manifest walks that never open a data file.
    "src_store_expire" -> { (s, dir) =>
      val root = storeRoot(dir) + "-expire"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 0)
        .repartition(2), root, overwrite = true)                     // v1
      GraftStore.tag(root, "training-v1")
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 1)
        .repartition(2), root, overwrite = true)                     // v2
      GraftStore.write(base.filter(col("o_orderkey") % 3 === 2)
        .repartition(2), root, overwrite = true)                     // v3
      val expired = GraftStore.expireSnapshots(root, keepLast = 1)
      val vacuumed = GraftStore.vacuum(root, graceMs = 0L)
      val versionsLeft = GraftStore.snapshots(s, root).count()
      def agg(df: DataFrame, which: String) = df.agg(
        lit(which).as("surface"),
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_price"))
      agg(GraftStore.read(s, root), "latest")
        .unionByName(agg(s.read.format("graft-store")
          .option("ref", "training-v1").load(root), "tagged_v1"))
        .withColumn("manifests_expired", lit(expired))
        .withColumn("files_vacuumed", lit(vacuumed))
        .withColumn("versions_left", lit(versionsLeft))
        .orderBy(col("surface"))
    },
    // Incremental view maintenance under a DELETE — the retraction half
    // of src_store_ivm (which handles appends): refresh a per-group
    // aggregate view through a row-level DELETE by RETRACTING the
    // removed side's partials and re-adding the rewritten side's, never
    // rescanning the base. File-level CDC gives both sides (readRemoved
    // = old content of rewritten files, readChanges = their survivors);
    // counts and exact DECIMAL sums are retractable partials (negate
    // and re-aggregate; rounding happens once at the end), so the
    // merged view is bit-identical to the full recompute the oracle
    // runs. At 100 TB the recompute costs the table; the refresh costs
    // the DML delta — rewritten files only, resolved at planning time.
    "src_store_ivm_delete" -> { (s, dir) =>
      val root = storeRoot(dir) + "-ivmdel"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderpriority"))
      GraftStore.write(base.repartition(4), root, overwrite = true)  // v1
      GraftStore.delete(root, Array(                                 // v2
        org.apache.spark.sql.sources.LessThan("o_orderkey", 300L)))
      def partial(df: DataFrame, sign: Int) = df
        .groupBy(col("o_orderpriority"))
        .agg((count(lit(1)) * sign).as("pn"),
          (sum(col("o_totalprice").cast("decimal(18,4)")) * sign).as("ps"))
      val view1 = partial(
        s.read.format("graft-store").option("version", 1).load(root), 1)
      val retract = partial(GraftStore.readRemoved(s, root, 1L), -1)
      val readd = partial(GraftStore.readChanges(s, root, 1L), 1)
      view1.unionByName(retract).unionByName(readd)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("pn")).cast("long").as("n_orders"),
          round(sum(col("ps")), 2).cast("double").as("sum_price"))
        .filter(col("n_orders") > 0)
        .orderBy(col("o_orderpriority"))
    },
    "src_store_evolve" -> { (s, dir) =>
      val root = storeRoot(dir) + "-evolve"
      StoreRoots.reset(s, root)
      val base = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      GraftStore.write(base.filter(col("o_orderkey") % 2 === 0), root,
        overwrite = true)
      GraftStore.write(base.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_band",
            when(col("o_totalprice") >= 250000, lit("high"))),
        root)
      s.read.format("graft-store").load(root)
        .groupBy(when(col("o_orderkey") % 2 === 0, "v1").otherwise("v2")
          .as("writer"))
        .agg(count(lit(1)).as("n"),
          count(col("o_band")).as("n_banded"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"))
        .orderBy(col("writer"))
    },
    // DATA SKIPPING under the oracle: the store is written range-
    // clustered on the key (8 files with disjoint key ranges — per-file
    // min/max stats land in the manifest at commit, zero extra pass),
    // and the key-range query drops non-overlapping FILES at planning
    // time, before any task launches (the plan gate reads the kept/total
    // count from the scan description). At 100 TB this is the difference
    // between scanning the table and scanning the slice — the same
    // mechanism as Delta/Iceberg file stats, and it composes with the
    // z-order/Hilbert layouts for multi-dimensional keys. The oracle
    // replays the filter+aggregate on the raw parquet.
    "src_store_skip" -> { (s, dir) =>
      val root = storeRoot(dir) + "-skip"
      StoreRoots.reset(s, root)
      GraftStore.write(
        orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")).repartitionByRange(8, col("o_orderkey")),
        root, overwrite = true)
      s.read.format("graft-store").load(root)
        .filter(col("o_orderkey").between(100L, 300L))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          min(col("o_orderkey")).cast("long").as("min_key"),
          max(col("o_orderkey")).cast("long").as("max_key"))
    },
    // Declarative clustering through DDL — `PARTITIONED BY` on a
    // catalog table (VERDICT r14 task #6): CREATE ... PARTITIONED BY
    // (o_orderdate) records clustering metadata in the manifest, and
    // the INSERT's write REQUIRES (RequiresDistributionAndOrdering)
    // range distribution + sort on the column — Catalyst plans the
    // exchange, each task writes a contiguous date slice, and per-file
    // min/max stats become a partition index. The one-year readback
    // prunes files at PLANNING time through plain SQL (plan-gated
    // kept<total); the oracle replays the same year on raw parquet, so
    // a hash match proves the clustered layout is semantics-free. At
    // 100 TB this is the ingest-owned layout: writers pay one range
    // shuffle, every date-bounded reader afterward skips most of the
    // table without a partition-directory scheme.
    "src_store_clustered" -> { (s, dir) =>
      useGraftCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.gold.orders_clustered")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_totalprice"))
        .createOrReplaceTempView("orders_src_gclu")
      s.sql(
        """CREATE TABLE graft.gold.orders_clustered
          |PARTITIONED BY (o_orderdate)
          |TBLPROPERTIES ('write.partitions'='8') AS
          |SELECT * FROM orders_src_gclu""".stripMargin)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
          |    AS sum_price,
          |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
          |FROM graft.gold.orders_clustered
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    })

  /** The docgen oracle replays `DocGen`'s splitmix64 chain in DuckDB.
    * Structure: each mix step is its own MATERIALIZED CTE — DuckDB
    * inlines lateral column aliases by substitution, so chaining the six
    * steps inside one SELECT expands the expression tree exponentially
    * (measured: planner OOM); per-step materialization keeps it linear.
    * Wrapping 64-bit multiply: (a*C) mod 2^64 via 32-bit half products in
    * HUGEINT (full 64x64 products can exceed HUGEINT's 2^127-1). Scala's
    * signed `Long % m` is reproduced by re-centering the unsigned hash
    * into signed range before `%` (DuckDB HUGEINT % truncates toward
    * zero, same as the JVM). Inner-mix constants `mix(seed ^ salt)` are
    * precomputed for the three metadata salts; per-word salts (100+i)
    * vary, so the word chain runs the double mix over an unnested
    * (doc_id, i) table. */
  val oracles: Map[String, String] = Map(
    "src_docgen_agg" ->
      """WITH ids AS MATERIALIZED (SELECT range::UBIGINT AS doc_id FROM range(2000, 12000)),
        |as1 AS MATERIALIZED (SELECT doc_id, ((((xor(doc_id, 13432527470776545160::UBIGINT)))::HUGEINT + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS z1 FROM ids),
        |as2 AS MATERIALIZED (SELECT doc_id, xor(z1, z1 >> 30) AS z2 FROM as1),
        |as3 AS MATERIALIZED (SELECT doc_id, (((z2 & 4294967295)::HUGEINT * 484763065 + (((z2 & 4294967295)::HUGEINT * 3210233709 + (z2 >> 32)::HUGEINT * 484763065) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z3 FROM as2),
        |as4 AS MATERIALIZED (SELECT doc_id, xor(z3, z3 >> 27) AS z4 FROM as3),
        |as5 AS MATERIALIZED (SELECT doc_id, (((z4 & 4294967295)::HUGEINT * 321982955 + (((z4 & 4294967295)::HUGEINT * 2496678331 + (z4 >> 32)::HUGEINT * 321982955) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z5 FROM as4),
        |as6 AS MATERIALIZED (SELECT doc_id, xor(z5, z5 >> 31) AS af FROM as5),
        |bs1 AS MATERIALIZED (SELECT doc_id, af, ((((xor(doc_id, 3935774486848180498::UBIGINT)))::HUGEINT + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS z1 FROM as6),
        |bs2 AS MATERIALIZED (SELECT doc_id, af, xor(z1, z1 >> 30) AS z2 FROM bs1),
        |bs3 AS MATERIALIZED (SELECT doc_id, af, (((z2 & 4294967295)::HUGEINT * 484763065 + (((z2 & 4294967295)::HUGEINT * 3210233709 + (z2 >> 32)::HUGEINT * 484763065) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z3 FROM bs2),
        |bs4 AS MATERIALIZED (SELECT doc_id, af, xor(z3, z3 >> 27) AS z4 FROM bs3),
        |bs5 AS MATERIALIZED (SELECT doc_id, af, (((z4 & 4294967295)::HUGEINT * 321982955 + (((z4 & 4294967295)::HUGEINT * 2496678331 + (z4 >> 32)::HUGEINT * 321982955) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z5 FROM bs4),
        |bs6 AS MATERIALIZED (SELECT doc_id, af, xor(z5, z5 >> 31) AS bf FROM bs5),
        |cs1 AS MATERIALIZED (SELECT doc_id, af, bf, ((((xor(doc_id, 1265094156158224713::UBIGINT)))::HUGEINT + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS z1 FROM bs6),
        |cs2 AS MATERIALIZED (SELECT doc_id, af, bf, xor(z1, z1 >> 30) AS z2 FROM cs1),
        |cs3 AS MATERIALIZED (SELECT doc_id, af, bf, (((z2 & 4294967295)::HUGEINT * 484763065 + (((z2 & 4294967295)::HUGEINT * 3210233709 + (z2 >> 32)::HUGEINT * 484763065) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z3 FROM cs2),
        |cs4 AS MATERIALIZED (SELECT doc_id, af, bf, xor(z3, z3 >> 27) AS z4 FROM cs3),
        |cs5 AS MATERIALIZED (SELECT doc_id, af, bf, (((z4 & 4294967295)::HUGEINT * 321982955 + (((z4 & 4294967295)::HUGEINT * 2496678331 + (z4 >> 32)::HUGEINT * 321982955) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z5 FROM cs4),
        |cs6 AS MATERIALIZED (SELECT doc_id, af, bf, xor(z5, z5 >> 31) AS cf FROM cs5),
        |meta AS MATERIALIZED (SELECT doc_id, ['de','en','es','fr','zh'][((((CASE WHEN af >= 9223372036854775808::UBIGINT THEN af::HUGEINT - 18446744073709551616::HUGEINT ELSE af::HUGEINT END) % 5) + 5) % 5)::INT + 1] AS lang, 'src' || ((((CASE WHEN bf >= 9223372036854775808::UBIGINT THEN bf::HUGEINT - 18446744073709551616::HUGEINT ELSE bf::HUGEINT END) % 20) + 20) % 20)::INT AS source, (20 + ((((CASE WHEN cf >= 9223372036854775808::UBIGINT THEN cf::HUGEINT - 18446744073709551616::HUGEINT ELSE cf::HUGEINT END) % 81) + 81) % 81)::INT) AS n_words FROM cs6),
        |wid AS MATERIALIZED (SELECT doc_id, n_words, unnest(range(0, n_words)) AS i FROM meta),
        |ws1 AS MATERIALIZED (SELECT doc_id, i, ((((xor(42::UBIGINT, (100 + i)::UBIGINT)))::HUGEINT + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS z1 FROM wid),
        |ws2 AS MATERIALIZED (SELECT doc_id, i, xor(z1, z1 >> 30) AS z2 FROM ws1),
        |ws3 AS MATERIALIZED (SELECT doc_id, i, (((z2 & 4294967295)::HUGEINT * 484763065 + (((z2 & 4294967295)::HUGEINT * 3210233709 + (z2 >> 32)::HUGEINT * 484763065) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z3 FROM ws2),
        |ws4 AS MATERIALIZED (SELECT doc_id, i, xor(z3, z3 >> 27) AS z4 FROM ws3),
        |ws5 AS MATERIALIZED (SELECT doc_id, i, (((z4 & 4294967295)::HUGEINT * 321982955 + (((z4 & 4294967295)::HUGEINT * 2496678331 + (z4 >> 32)::HUGEINT * 321982955) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z5 FROM ws4),
        |ws6 AS MATERIALIZED (SELECT doc_id, i, xor(z5, z5 >> 31) AS wf FROM ws5),
        |xs1 AS MATERIALIZED (SELECT doc_id, ((((xor(wf, doc_id)))::HUGEINT + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)::UBIGINT AS z1 FROM ws6),
        |xs2 AS MATERIALIZED (SELECT doc_id, xor(z1, z1 >> 30) AS z2 FROM xs1),
        |xs3 AS MATERIALIZED (SELECT doc_id, (((z2 & 4294967295)::HUGEINT * 484763065 + (((z2 & 4294967295)::HUGEINT * 3210233709 + (z2 >> 32)::HUGEINT * 484763065) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z3 FROM xs2),
        |xs4 AS MATERIALIZED (SELECT doc_id, xor(z3, z3 >> 27) AS z4 FROM xs3),
        |xs5 AS MATERIALIZED (SELECT doc_id, (((z4 & 4294967295)::HUGEINT * 321982955 + (((z4 & 4294967295)::HUGEINT * 2496678331 + (z4 >> 32)::HUGEINT * 321982955) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT)::UBIGINT AS z5 FROM xs4),
        |xs6 AS MATERIALIZED (SELECT doc_id, xor(z5, z5 >> 31) AS xf FROM xs5),
        |words AS MATERIALIZED (SELECT doc_id, len(['key','agg','row','scan','slow','fast','table','value','part','hash','merge','batch','spark','line','sort','window','order','data','column','join','small','customer','query','big','the','a','group','stream','filter','vector'][((((CASE WHEN xf >= 9223372036854775808::UBIGINT THEN xf::HUGEINT - 18446744073709551616::HUGEINT ELSE xf::HUGEINT END) % 30) + 30) % 30)::INT + 1]) AS wlen FROM xs6),
        |chars AS MATERIALIZED (SELECT doc_id, sum(wlen)::BIGINT + count(*)::BIGINT - 1 AS n_chars FROM words GROUP BY doc_id)
        |SELECT m.lang, m.source, COUNT(*) AS n_docs, CAST(SUM(c.n_chars) AS BIGINT) AS sum_chars, CAST(MIN(m.doc_id) AS BIGINT) AS min_id, CAST(MAX(m.doc_id) AS BIGINT) AS max_id
        |FROM meta m JOIN chars c USING (doc_id)
        |GROUP BY m.lang, m.source
        |ORDER BY m.lang, m.source""".stripMargin,
    // the bucketed-join oracle joins the raw parquet directly: a hash
    // match certifies the bucketed write+read layout changed nothing but
    // the plan
    "layout_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // the round-trip oracle never sees the store: it aggregates the
    // parquet input directly, so a hash match certifies write→read
    // fidelity of the DSv2 path
    "layout_partition_prune" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY cohort
        |ORDER BY cohort""".stripMargin,
    "src_store_dedup_gate" ->
      """WITH idx AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 300),
        |batch AS (
        |  SELECT source, doc_id, md5(text) AS h FROM documents WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT source, doc_id + 1000000 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id < 10),
        |dup AS (
        |  SELECT source, COUNT(*) AS n_dup
        |  FROM batch WHERE h IN (SELECT h FROM idx)
        |  GROUP BY source),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_batch FROM batch GROUP BY source)
        |SELECT t.source, t.n_batch,
        |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(t.n_batch - COALESCE(d.n_dup, 0) AS BIGINT) AS n_new
        |FROM tot t LEFT JOIN dup d ON t.source = d.source
        |ORDER BY t.source""".stripMargin,
    "src_csv_malformed" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_good,
        |  CAST(ROUND(SUM(CASE WHEN o_orderkey % 97 <> 0
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE)
        |    AS good_price_sum
        |FROM orders""".stripMargin,
    "src_format_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  MIN(CAST(o_orderdate AS TIMESTAMP)) AS min_date,
        |  CAST(MAX(o_custkey) AS BIGINT) AS max_cust
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "src_store_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "src_store_compact" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
        |   OR o_orderpriority LIKE '3%'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "layout_zorder_scan" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 5 AND 10 AND value BETWEEN 50 AND 150
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // v1 = the F-only snapshot, v2 = F+O after the append; the oracle
    // recomputes both directly from the parquet, so any append-time
    // mutation of v1's files or version-pinning mistake hash-mismatches
    "src_store_timetravel" ->
      """WITH snap AS (
        |  SELECT 'v1' AS snapshot, o_orderstatus, o_totalprice, o_orderkey
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'v2', o_orderstatus, o_totalprice, o_orderkey
        |  FROM orders WHERE o_orderstatus IN ('F', 'O'))
        |SELECT snapshot, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM snap
        |GROUP BY snapshot, o_orderstatus
        |ORDER BY snapshot, o_orderstatus""".stripMargin,
    // the catalog table is exactly orders (CTAS non-P + INSERT P)
    "src_store_catalog_sql" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // replay UPDATE (urgent discount) then MERGE (P-status repricing +
    // synthetic late-order inserts) over raw orders
    "src_store_catalog_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4))
        |        * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM base),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'P'
        |      THEN (SELECT b.o_totalprice * 2 FROM base b
        |            WHERE b.o_orderkey = upd.o_orderkey)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM upd
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'L', 111.11
        |  FROM base WHERE o_orderkey % 1000 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM merged
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // after_delete = orders surviving the DELETE predicate; the
    // truncated table is empty by construction (0, 0.0)
    "src_store_catalog_dml" ->
      """SELECT state, n, sum_price FROM (
        |  SELECT 'after_delete' AS state, COUNT(*) AS n,
        |    COALESCE(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |      AS DOUBLE), 0.0) AS sum_price
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'P' OR o_totalprice > 200000.0)
        |  UNION ALL
        |  SELECT 'after_truncate', 0, 0.0) t
        |ORDER BY state""".stripMargin,
    // survivors of the replace + the replacement batch + the late
    // banded append, grouped by (status, band)
    "src_store_replace_where" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(NULL AS VARCHAR) AS band
        |  FROM base WHERE NOT (o_totalprice > 200000.0)
        |  UNION ALL
        |  SELECT o_orderkey + 200000000, 'R', 99999.99, NULL
        |  FROM base WHERE o_totalprice > 300000.0
        |  UNION ALL
        |  SELECT o_orderkey + 300000000, 'B', o_totalprice, 'late-band'
        |  FROM base WHERE o_orderkey % 500 = 0)
        |SELECT o_orderstatus, COALESCE(band, 'none') AS band, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM final
        |GROUP BY o_orderstatus, band
        |ORDER BY o_orderstatus, band""".stripMargin,
    // "release-1" must resolve to the F-only v1 snapshot after the
    // later append; latest sees F+O
    "src_store_catalog_meta" ->
      """WITH c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s0,
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s2
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'snapshot' AS kind, '1' AS name, CAST(1 AS BIGINT)
        |    AS version, CAST(0 AS BIGINT) AS n_rows FROM c
        |  UNION ALL SELECT 'snapshot', '2', CAST(2 AS BIGINT), s0 FROM c
        |  UNION ALL SELECT 'snapshot', '3', CAST(3 AS BIGINT), s0 + s1 FROM c
        |  UNION ALL SELECT 'snapshot', '4', CAST(4 AS BIGINT),
        |    s0 + s1 + s2 FROM c
        |  UNION ALL SELECT 'ref', 'audited', CAST(3 AS BIGINT),
        |    CAST(NULL AS BIGINT) FROM c)
        |ORDER BY kind, version, name""".stripMargin,
    "src_store_catalog_evolve" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_totalprice AS amount FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 500000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 400 = 0)
        |SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(amount AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_amount
        |FROM t
        |GROUP BY o_orderkey % 7
        |ORDER BY bucket""".stripMargin,
    "src_store_catalog_travel" ->
      """SELECT state, n, sum_price FROM (
        |  SELECT 'as_of' AS state, COUNT(*) AS n,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'latest', COUNT(*),
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |      AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
        |ORDER BY state""".stripMargin,
    "src_store_snapshots" ->
      """WITH c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s0,
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN o_orderkey % 4 = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s2
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, s0 AS n_rows FROM c
        |UNION ALL SELECT CAST(2 AS BIGINT), s0 + s1 FROM c
        |UNION ALL SELECT CAST(3 AS BIGINT), s0 + s1 + s2 FROM c
        |ORDER BY version""".stripMargin,
    // The WAP oracle replays the slices from raw orders: release-1 is
    // the %3=0 load, quarantine holds the poisoned %3=1 load (negated
    // %11 prices), release-2 is the union of release-1 and the REPAIRED
    // %3=1 load — proving the poisoned batch never reached production.
    "src_store_wap" ->
      """WITH b1 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |b2bad AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1),
        |b2fix AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1),
        |rel2 AS (
        |  SELECT * FROM b1 UNION ALL SELECT * FROM b2fix)
        |SELECT * FROM (
        |  SELECT '1_release1' AS stage, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bad,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |      AS sum_price,
        |    CAST(1 AS BIGINT) AS version
        |  FROM b1
        |  UNION ALL
        |  SELECT '2_quarantined', COUNT(*),
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE),
        |    CAST(1 AS BIGINT)
        |  FROM b2bad
        |  UNION ALL
        |  SELECT '3_release2', COUNT(*),
        |    CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE),
        |    CAST(2 AS BIGINT)
        |  FROM rel2)
        |ORDER BY stage""".stripMargin,
    "src_store_tag" ->
      """WITH snap AS (
        |  SELECT 'release-1' AS snapshot, o_totalprice, o_orderkey
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'latest', o_totalprice, o_orderkey
        |  FROM orders WHERE o_orderstatus IN ('F', 'O'))
        |SELECT snapshot, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(1 AS BIGINT) AS tagged_version
        |FROM snap
        |GROUP BY snapshot
        |ORDER BY snapshot""".stripMargin,
    "src_store_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p
        |            FROM orders WHERE o_orderkey % 10 <> 0),
        |v2 AS (SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS p
        |       FROM orders WHERE o_orderkey % 13 <> 0),
        |d AS (SELECT v1.k AS k1, v2.k AS k2, v1.p AS p1, v2.p AS p2
        |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT CASE WHEN k1 IS NULL THEN 'added'
        |            WHEN k2 IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(COALESCE(p2, 0) AS DECIMAL(18,4))
        |    - CAST(COALESCE(p1, 0) AS DECIMAL(18,4))), 2) AS DOUBLE) AS price_delta
        |FROM d
        |WHERE k1 IS NULL OR k2 IS NULL OR p1 <> p2
        |GROUP BY 1
        |ORDER BY status""".stripMargin,
    "src_store_delete" ->
      """SELECT 'after_delete' AS state, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 13 <> 0
        |UNION ALL
        |SELECT 'audit_hold_v1', COUNT(*),
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |FROM orders
        |ORDER BY state""".stripMargin,
    "src_store_merge" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p
        |              FROM orders WHERE o_orderkey % 3 <> 0),
        |batch AS (SELECT o_orderkey AS bk, o_totalprice + 1000 AS bp
        |          FROM orders WHERE o_orderkey % 5 = 0),
        |merged AS (SELECT COALESCE(k, bk) AS k, COALESCE(bp, p) AS p
        |           FROM base FULL OUTER JOIN batch ON k = bk)
        |SELECT CASE WHEN k % 5 <> 0 THEN 'untouched'
        |            WHEN k % 3 = 0 THEN 'inserted'
        |            ELSE 'updated' END AS outcome,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(p AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM merged
        |GROUP BY 1
        |ORDER BY outcome""".stripMargin,
    "src_store_evolve" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END AS writer,
        |  COUNT(*) AS n,
        |  COUNT(CASE WHEN o_orderkey % 2 = 1 AND o_totalprice >= 250000
        |        THEN 1 END) AS n_banded,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY writer""".stripMargin,
    "src_store_ivm" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY 1
        |ORDER BY o_orderpriority""".stripMargin,
    // retention: surviving surfaces byte-exact + pinned counters (one
    // manifest expired = v2; its 2 data files vacuumed; 2 versions left)
    "src_store_expire" ->
      """SELECT 'latest' AS surface, COUNT(*) AS n_rows,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  CAST(1 AS BIGINT) AS manifests_expired,
        |  CAST(2 AS BIGINT) AS files_vacuumed,
        |  CAST(2 AS BIGINT) AS versions_left
        |FROM orders WHERE o_orderkey % 3 = 2
        |UNION ALL
        |SELECT 'tagged_v1', COUNT(*),
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE),
        |  CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY surface""".stripMargin,
    // the retraction-refreshed view must equal the plain recompute over
    // the surviving rows
    "src_store_ivm_delete" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey >= 300
        |GROUP BY 1
        |ORDER BY o_orderpriority""".stripMargin,
    "src_store_changes" ->
      """SELECT o_orderpriority, COUNT(*) AS n_new,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS new_price,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        |FROM orders
        |WHERE o_orderkey % 3 = 1
        |GROUP BY 1
        |ORDER BY o_orderpriority""".stripMargin,
    "src_store_vacuum" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(7 AS BIGINT) AS files_vacuumed
        |FROM orders
        |WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "src_store_skip" ->
      """SELECT COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 300""".stripMargin,
    // the clustered-table oracle aggregates raw parquet over the same
    // year — a hash match proves the PARTITIONED BY layout (range
    // exchange + sort + stats-pruned readback) changed plans, not data
    "src_store_clustered" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_price,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
}
