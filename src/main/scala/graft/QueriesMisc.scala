package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SfTables.{load => t}

/** Sampling / ML-boundary / source-format coverage (SURVEY.md §2.1, §2.10). */
object QueriesMisc {

  /** Three-commit time-chunked snapshot table over `documents` (ts chunks
    * [0,12), [12,36), [36,∞)) — the shared scaffold of the windowed read
    * queries, defined once so the chunk boundaries cannot drift between
    * the range-read and windowed-lookup oracles. Returns the table root.
    */
  private def timeChunkedDocs(s: SparkSession, d: String, tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-snap-$tag").toString
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        col("doc_id").cast("long").as("ts"))
    graft.tables.SnapshotTable.commit(
      docs.where(col("doc_id") < 12), root, "doc_id", "ts")
    graft.tables.SnapshotTable.commitDelta(
      docs.where(col("doc_id") >= 12 && col("doc_id") < 36), root, "doc_id", "ts")
    graft.tables.SnapshotTable.commitDelta(
      docs.where(col("doc_id") >= 36), root, "doc_id", "ts")
    root
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- M1: deterministic fold assignment (createDataPartition analog) -----
    // hash-based folds rather than rand(seed): reproducible at any
    // parallelism, which is what the engine's manifests require
    "m1_fold_assignment" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("fold", pmod(col("o_orderkey"), lit(5)).cast("int"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")) + 1.7e-8, 4).as("mean_price"))),

    // ---- M2: Poisson bootstrap (seeded, partitioning-independent) -----------
    // each row's multiplicity m ~ Poisson(0.5) derives from hash(seed, key)
    // alone, so the SAME sample is drawn at any parallelism — unlike
    // DataFrame.sample, whose draw depends on the partition layout. Oracle:
    // the multiplicity table is dumped and DuckDB recomputes the weighted
    // aggregates through its own join (the draw itself is engine-local PRNG,
    // determinism asserted in SamplingSpec across partitionings).
    "m2_bootstrap_sample" -> ((s, d) => {
      val m = graft.operators.Sampling.poissonBootstrap(
        t(s, d, "orders"), "o_orderkey", rate = 0.5, seed = 42L)
      Dumps.write(m.select(col("o_orderkey"), col("m")), "bootstrap_m")
      m.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows_hit"), sum(col("m")).as("n_sampled"),
          round(sum(col("m") * col("o_totalprice")) / sum(col("m")) + 1.7e-8, 4)
            .as("mean_price"))
    }),

    // ---- M3: deterministic class upsampling -----------------------------------
    // (train_functions.R:111 sampling="up"): per-class Poisson rates equalize
    // expected class sizes; same dump-and-replay oracle shape as M2
    "m3_class_upsample" -> ((s, d) => {
      val up = graft.operators.Sampling.upsampleClasses(
        t(s, d, "orders"), "o_orderkey", "o_orderstatus", seed = 11L)
      Dumps.write(up.select(col("o_orderkey"), col("m")), "upsample_m")
      up.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows_hit"), sum(col("m")).as("n_sampled"),
          round(sum(col("m") * col("o_totalprice")) / sum(col("m")) + 1.7e-8, 4)
            .as("mean_price"))
    }),

    // ---- M: stratified train/test split (createDataPartition analog) --------
    // exact per-class counts (ceil(p·n_class) train rows per class,
    // `train_functions.R:115,130`); the within-class order is
    // xxhash64(seed, key), dumped so DuckDB replays the ranking + threshold
    // from the same hashes (the hash itself is engine-local, determinism
    // across partitionings asserted in SamplingSpec)
    "m_split_stratified" -> ((s, d) => {
      val sp = graft.operators.Sampling.stratifiedSplitExact(
        t(s, d, "orders"), "o_orderstatus", "o_orderkey", p = 0.8, seed = 7L)
      Dumps.write(sp.select(col("o_orderkey"),
        xxhash64(lit(7L), col("o_orderkey")).as("h")), "split_h")
      sp.groupBy(col("o_orderstatus"), col("is_train"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")) + 1.7e-8, 4).as("mean_price"))
    }),

    // the at-scale variant: pure-projection hash threshold (no count, no
    // rank, no shuffle) — per-class fraction is only concentration-exact,
    // so the oracle replays the SAME threshold rule from the dumped hashes
    "m_split_stratified_hash" -> ((s, d) => {
      val sp = graft.operators.Sampling.stratifiedSplitHash(
        t(s, d, "orders"), "o_orderkey", p = 0.8, seed = 7L)
      Dumps.write(sp.select(col("o_orderkey"),
        xxhash64(lit(7L), col("o_orderkey")).as("h")), "split_h")
      sp.groupBy(col("o_orderstatus"), col("is_train"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")) + 1.7e-8, 4).as("mean_price"))
    }),

    // ---- S2: snapshot-table commit/read roundtrip -----------------------------
    // two commits (initial + append) against a fresh root, then read-back of
    // the CURRENT snapshot — exercises bucket manifests, the changed-bucket
    // diff, and the atomic pointer on the driver gate (kill/rerun resume and
    // time travel are SnapshotTableSpec). pbucket is engine-internal
    // (xxhash64) and dropped from the comparable output.
    "s2_snapshot_roundtrip" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          // a monotone "event time" for the watermark manifest column
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(
        docs.where(col("doc_id") % 2 === 0), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commit(docs, root, "doc_id", "ts")
      graft.tables.SnapshotTable.read(s, root)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2/S9 incremental: delta append + manifest-driven incremental read --
    // base commit (even doc_ids) + commitDelta (odd doc_ids), then
    // readIncremental(from = snapshot 0) must return EXACTLY the delta —
    // the O(delta) consumer path over slice manifests, oracle'd by the
    // equivalent predicate over the source table
    "s2_incremental_read" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-incr").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(
        docs.where(col("doc_id") % 2 === 0), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commitDelta(
        docs.where(col("doc_id") % 2 === 1), root, "doc_id", "ts")
      graft.tables.SnapshotTable.readIncremental(s, root, 0L)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 time travel: read at a historical snapshot after later commits --
    // base commit (doc_id % 3 = 0) + TWO appended deltas, then read(id = 0)
    // must reconstruct exactly the base content — pins the time-travel
    // semantics cross-engine (the reference analog: resuming from a stored
    // intermediate rds, az_ml_models.R:270-282)
    "s2_time_travel" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-tt").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(
        docs.where(col("doc_id") % 3 === 0), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commitDelta(
        docs.where(col("doc_id") % 3 === 1), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commitDelta(
        docs.where(col("doc_id") % 3 === 2), root, "doc_id", "ts")
      graft.tables.SnapshotTable.read(s, root, Some(0L))
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 range read: min/max slice skipping on the time column -----------
    // three commits chunked by event time (ts = doc_id: <12, 12..35, >=36 —
    // the last chunk is the BULK of the table at any sf), then
    // readRange(10, 35) must return exactly the BETWEEN predicate's rows;
    // the manifest-level skipping (bulk slice never opened) is asserted by
    // scan metrics in SnapshotTableSpec
    "s2_range_read" -> ((s, d) => {
      val root = timeChunkedDocs(s, d, "rng")
      graft.tables.SnapshotTable.readRange(s, root, Some(10L), Some(35L))
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 point lookup: bucket-pruned read of a key list ------------------
    // commit the documents table, then readEntities over a fixed key list
    // (including one absent key) — the O(|keys|/nbuckets) lookup path must
    // return exactly the rows a full-scan predicate returns; the pruning
    // itself (only the keys' buckets opened) is asserted by scan metrics in
    // SnapshotTableSpec
    "s2_point_lookup" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-snap-pt").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(docs, root, "doc_id", "ts")
      graft.tables.SnapshotTable
        .readEntities[Long](s, root, Seq(1L, 7L, 42L, 999999999L))
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 windowed point lookup: bucket ∩ time-interval pruning -----------
    // same time-chunked table shape as s2_range_read, then a key-list fetch
    // restricted to a window — the point-in-time feature-store read (both
    // prunes compose; the slice-skip itself is inputFiles-asserted in
    // SnapshotTableSpec, the semantics here)
    "s2_point_lookup_window" -> ((s, d) => {
      import s.implicits._
      val root = timeChunkedDocs(s, d, "ptw")
      graft.tables.SnapshotTable.readEntities[Long](s, root,
          Seq(1L, 7L, 16L, 23L, 42L), from = Some(5L), until = Some(30L))
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 additive schema evolution ---------------------------------------
    // base commit without `source`, evolved append WITH it (Iceberg's
    // add-column): read-back must show null for pre-evolution rows and the
    // real value for appended ones — oracle'd by a NULL-padded UNION over
    // the same predicate split
    "s2_schema_evolution" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-evo").toString
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("lang"),
        col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(
        base.where(col("doc_id") % 2 === 0), root, "doc_id", "ts")
      val widened = docs.select(col("doc_id"), col("lang"), col("source"),
        col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commitDelta(
        widened.where(col("doc_id") % 2 === 1), root, "doc_id", "ts",
        evolveSchema = true)
      graft.tables.SnapshotTable.read(s, root)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // ---- S2 upsert: MERGE INTO by (entity, time) key ------------------------
    // commit the documents table, then upsert: lang rewritten to 'xx' for
    // doc_id % 10 = 0 (replacement — same key) plus brand-new doc_ids
    // shifted by 10M (insertion); O(touched buckets) cost is asserted by
    // scan metrics in SnapshotTableSpec, the MERGE semantics here
    "s2_upsert" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-ups").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(docs, root, "doc_id", "ts")
      // inserted keys are NEGATIVE (-doc_id - 1): collision-free with the
      // table's nonnegative ids by construction at ANY scale factor (an
      // additive shift would start replacing real rows once doc_ids reach
      // the shift)
      val updates = docs.where(col("doc_id") % 10 === 0)
        .withColumn("lang", lit("xx"))
        .unionByName(docs.where(col("doc_id") % 17 === 3)
          .withColumn("doc_id", -col("doc_id") - 1L)
          .withColumn("ts", col("doc_id").cast("long")))
      graft.tables.SnapshotTable.commitUpsert(updates, root, "doc_id", "ts")
      graft.tables.SnapshotTable.read(s, root)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S2 entity delete: right-to-be-forgotten erasure --------------------
    // commit the documents table, delete every doc_id divisible by 7, read
    // the head — O(touched buckets) cost + time-travel retention are
    // asserted in SnapshotTableSpec, the erasure semantics here
    "s2_delete" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-snap-del").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(docs, root, "doc_id", "ts")
      val victims = docs.where(col("doc_id") % 7 === 0)
        .select("doc_id").as[Long].collect().toSeq
      graft.tables.SnapshotTable.commitDelete[Long](s, root, victims)
      graft.tables.SnapshotTable.read(s, root)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
    }),

    // ---- S9 lineage: per-snapshot manifest totals as a queryable table ------
    // 3-snapshot table (base + two deltas), then the lineage DataFrame
    // aggregated per snapshot must report exactly the (parent chain,
    // is_current flag, row total, watermark) that an independent engine
    // computes from the same source subsets — the metadata "work table"
    // surface under the cross-engine gate. Slice/bucket counts are
    // engine-local (bucket = pmod(xxhash64(entity))) and excluded.
    "s9_lineage" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-lin").toString
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          col("doc_id").cast("long").as("ts"))
      graft.tables.SnapshotTable.commit(
        docs.where(col("doc_id") % 3 === 0), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commitDelta(
        docs.where(col("doc_id") % 3 === 1), root, "doc_id", "ts")
      graft.tables.SnapshotTable.commitDelta(
        docs.where(col("doc_id") % 3 === 2), root, "doc_id", "ts")
      graft.tables.SnapshotTable.lineage(s, root)
        .groupBy(col("snapshot_id"), col("parent_id"), col("is_current"))
        .agg(sum(col("rows")).as("n_rows"), max(col("watermark")).as("watermark"))
    }),

    // ---- S4/S5: CSV write + schema'd read roundtrip --------------------------
    "s4_csv_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
      t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
      s.read.option("header", "true").schema(schema).csv(out)
    })
  )

  val oracle: Map[String, String] = Map(
    "m2_bootstrap_sample" ->
      s"""SELECT o.o_orderstatus, count(*) AS n_rows_hit,
         |  CAST(sum(m.m) AS BIGINT) AS n_sampled,
         |  round(sum(m.m * o.o_totalprice) / sum(m.m) + 1.7e-8, 4) AS mean_price
         |FROM orders o
         |JOIN read_parquet('${Dumps.Dir}/bootstrap_m.parquet/*.parquet') m
         |  ON o.o_orderkey = m.o_orderkey
         |GROUP BY 1""".stripMargin,
    "m3_class_upsample" ->
      s"""SELECT o.o_orderstatus, count(*) AS n_rows_hit,
         |  CAST(sum(m.m) AS BIGINT) AS n_sampled,
         |  round(sum(m.m * o.o_totalprice) / sum(m.m) + 1.7e-8, 4) AS mean_price
         |FROM orders o
         |JOIN read_parquet('${Dumps.Dir}/upsample_m.parquet/*.parquet') m
         |  ON o.o_orderkey = m.o_orderkey
         |GROUP BY 1""".stripMargin,
    "m1_fold_assignment" ->
      """SELECT CAST(o_orderkey % 5 AS INTEGER) AS fold, count(*) AS n,
         round(avg(o_totalprice) + 1.7e-8, 4) AS mean_price
         FROM orders GROUP BY 1""",
    "m_split_stratified" ->
      s"""WITH j AS (SELECT o.*, h.h
         |  FROM orders o
         |  JOIN read_parquet('${Dumps.Dir}/split_h.parquet/*.parquet') h
         |    ON o.o_orderkey = h.o_orderkey),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY h, o_orderkey) AS rn,
         |  count(*) OVER (PARTITION BY o_orderstatus) AS nc
         |  FROM j)
         |SELECT o_orderstatus, rn <= ceil(nc * 0.8) AS is_train,
         |  count(*) AS n, round(avg(o_totalprice) + 1.7e-8, 4) AS mean_price
         |FROM r GROUP BY 1, 2""".stripMargin,
    "m_split_stratified_hash" ->
      s"""SELECT o.o_orderstatus,
         |  ((h.h % 1000000) + 1000000) % 1000000 < 800000 AS is_train,
         |  count(*) AS n, round(avg(o.o_totalprice) + 1.7e-8, 4) AS mean_price
         |FROM orders o
         |JOIN read_parquet('${Dumps.Dir}/split_h.parquet/*.parquet') h
         |  ON o.o_orderkey = h.o_orderkey
         |GROUP BY 1, 2""".stripMargin,
    "s2_snapshot_roundtrip" ->
      "SELECT doc_id, lang, length(text) AS text_len FROM documents",
    "s2_incremental_read" ->
      "SELECT doc_id, lang, length(text) AS text_len FROM documents WHERE doc_id % 2 = 1",
    "s2_time_travel" ->
      "SELECT doc_id, lang, length(text) AS text_len FROM documents WHERE doc_id % 3 = 0",
    "s2_point_lookup" ->
      """SELECT doc_id, lang, length(text) AS text_len FROM documents
         WHERE doc_id IN (1, 7, 42, 999999999)""",
    "s2_range_read" ->
      """SELECT doc_id, lang, length(text) AS text_len FROM documents
         WHERE doc_id BETWEEN 10 AND 35""",
    "s2_point_lookup_window" ->
      """SELECT doc_id, lang, length(text) AS text_len FROM documents
         WHERE doc_id IN (1, 7, 16, 23, 42) AND doc_id BETWEEN 5 AND 30""",
    "s2_schema_evolution" ->
      """SELECT doc_id, lang, NULL AS source FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1""",
    "s2_delete" ->
      """SELECT doc_id, lang, length(text) AS text_len FROM documents
         WHERE doc_id % 7 <> 0""",
    "s2_upsert" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
           length(text) AS text_len
         FROM documents
         UNION ALL
         SELECT -doc_id - 1, lang, length(text)
         FROM documents WHERE doc_id % 17 = 3""",
    "s9_lineage" ->
      """SELECT CAST(0 AS BIGINT) AS snapshot_id, CAST(-1 AS BIGINT) AS parent_id,
           false AS is_current, count(*) AS n_rows,
           CAST(max(doc_id) AS BIGINT) AS watermark
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), false, count(*),
           CAST(max(doc_id) AS BIGINT)
         FROM documents WHERE doc_id % 3 IN (0, 1)
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), true, count(*),
           CAST(max(doc_id) AS BIGINT)
         FROM documents""",
    "s4_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region"
  )
}
