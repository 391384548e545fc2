package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.tables.SnapshotTable

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpRoot(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-snap-$tag")
    p.toString
  }

  private def digestOf(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(to_json(struct(df.columns.sorted.map(col): _*))).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  test("commit+read roundtrips content exactly") {
    val root = tmpRoot("rt")
    val ev = Corpus.events(spark, Corpus.Params(rows = 500, entities = 10))
      .drop("bytes") // binary json-digest is format-noise; content parity via cols
    val id = SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    assert(id == 0L)
    val back = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
    assert(back.count() == 500)
    assert(digestOf(back.select(ev.columns.map(col): _*)) == digestOf(ev))
  }

  test("idempotent re-commit rewrites nothing and preserves digests") {
    val root = tmpRoot("idem")
    val ev = Corpus.events(spark, Corpus.Params(rows = 300, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val s0 = SnapshotTable.currentSnapshot(root).get
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val s1 = SnapshotTable.currentSnapshot(root).get
    assert(s1.id == s0.id + 1)
    // same digests, same data dirs (no bucket rewritten)
    assert(s1.buckets.map(b => (b.bucket, b.digest, b.dir)) ==
      s0.buckets.map(b => (b.bucket, b.digest, b.dir)))
  }

  test("incremental commit rewrites only changed buckets; time travel works") {
    val root = tmpRoot("incr")
    val p = Corpus.Params(rows = 400, entities = 8)
    val ev = Corpus.events(spark, p).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    val s0 = SnapshotTable.currentSnapshot(root).get

    // append rows for ONE entity only -> only that entity's bucket changes
    val extra = Corpus.events(spark, p.copy(rows = 430)).drop("bytes")
      .filter(col("seq") >= 400 && col("entity_id") === "e00000")
    val ev2 = ev.unionByName(extra)
    SnapshotTable.commit(ev2, root, "entity_id", "event_ms", buckets = 8)
    val s1 = SnapshotTable.currentSnapshot(root).get

    val changed = s1.buckets.filter(b =>
      s0.buckets.find(_.bucket == b.bucket).exists(_.digest != b.digest))
    assert(changed.nonEmpty && changed.size < 8, s"changed=${changed.size}")
    val reusedDirs = s1.buckets.filterNot(b => changed.exists(_.bucket == b.bucket))
      .map(_.dir).toSet
    val oldDirs = s0.buckets.map(_.dir).toSet
    assert(reusedDirs.subsetOf(oldDirs), "unchanged buckets must reuse files")

    // time travel to snapshot 0 reproduces the original content
    val back0 = SnapshotTable.read(spark, root, Some(s0.id)).drop(SnapshotTable.BucketCol)
    assert(back0.count() == 400)
    val back1 = SnapshotTable.read(spark, root, Some(s1.id)).drop(SnapshotTable.BucketCol)
    assert(back1.count() == ev2.count())
  }

  test("lineage table exposes per-bucket manifests across snapshots") {
    val root = tmpRoot("lin")
    val p = Corpus.Params(rows = 300, entities = 6)
    val ev = Corpus.events(spark, p).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 200), root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val lin = SnapshotTable.lineage(spark, root)
    // one row per (snapshot, non-empty bucket), manifests row-exact vs JSON
    val wantRows = SnapshotTable.snapshot(root, 0L).buckets.size +
      SnapshotTable.snapshot(root, 1L).buckets.size
    assert(lin.count() == wantRows)
    assert(lin.where(col("is_current")).select("snapshot_id").distinct().head.getLong(0) == 1L)
    val s1 = SnapshotTable.snapshot(root, 1L)
    val fromDf = lin.where(col("snapshot_id") === 1L)
      .select("bucket", "rows", "watermark", "digest")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromDf == s1.buckets.map(b => (b.bucket, b.rows, b.watermark, b.digest)).toSet)
    // incremental-diff use: changed buckets between snapshots via the table
    val changed = lin.groupBy("bucket")
      .agg(countDistinct(col("digest")).as("nd")).where(col("nd") > 1).count()
    assert(changed > 0)
  }

  test("watermarks track max event time per bucket") {
    val root = tmpRoot("wm")
    val ev = Corpus.events(spark, Corpus.Params(rows = 200, entities = 5)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 4)
    val wm = SnapshotTable.watermark(root).get
    val trueMaxPerBucket = ev
      .withColumn(SnapshotTable.BucketCol, pmod(xxhash64(col("entity_id")), lit(4)).cast("int"))
      .groupBy(SnapshotTable.BucketCol).agg(max("event_ms").as("m"))
      .agg(min("m")).head().getLong(0)
    assert(wm == trueMaxPerBucket)
  }

  test("commitDelta: O(delta) input scan, manifests fold-equal to a full recompute") {
    val root = tmpRoot("delta")
    val p = Corpus.Params(rows = 4000, entities = 16)
    val ev = Corpus.events(spark, p).drop("bytes")
    // both sides come from parquet so the listener's recordsRead tracks
    // every data-source scan the commit performs
    val pb = tmpRoot("delta-base"); val pd = tmpRoot("delta-delta")
    ev.filter(col("seq") < 3600).write.mode("overwrite").parquet(pb)
    ev.filter(col("seq") >= 3600).write.mode("overwrite").parquet(pd)
    SnapshotTable.commit(spark.read.parquet(pb), root, "entity_id", "event_ms", buckets = 8)

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.commitDelta(spark.read.parquet(pd), root, "entity_id",
        "event_ms", buckets = 8, batchId = 7L)
      // listener events are async: poll until the counter quiesces
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // the delta (400 rows) is scanned twice (stats + write); the 3600-row
    // base must NOT be re-read — that was the O(history) scale-killer
    assert(read.get() >= 400, s"listener saw ${read.get()} records — tracking broken?")
    assert(read.get() < 3600, s"commitDelta read ${read.get()} records; base was re-scanned")

    // folded manifests byte-equal to a from-scratch full commit
    val rootFull = tmpRoot("delta-full")
    SnapshotTable.commit(ev, rootFull, "entity_id", "event_ms", buckets = 8)
    val sd = SnapshotTable.currentSnapshot(root).get
    val sf = SnapshotTable.currentSnapshot(rootFull).get
    assert(sd.folded == sf.folded)
    assert(sd.batchId == 7L)
    // content equality via order-insensitive digest
    val da = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))
    assert(da == digestOf(ev))
  }

  test("commitDelta: replayed batchId is skipped (at-least-once idempotence)") {
    val root = tmpRoot("replay")
    val ev = Corpus.events(spark, Corpus.Params(rows = 500, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 400), root, "entity_id", "event_ms",
      buckets = 4, batchId = 0L)
    val delta = ev.filter(col("seq") >= 400)
    val id1 = SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms",
      buckets = 4, batchId = 1L)
    assert(id1 == 1L)
    // the crash-after-commit replay: same batch arrives again
    val id2 = SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms",
      buckets = 4, batchId = 1L)
    assert(id2 == 1L, "replayed batch must be skipped, not re-appended")
    assert(SnapshotTable.currentId(root).contains(1L))
    assert(SnapshotTable.read(spark, root).count() == 500)
  }

  test("compact folds slices and preserves content, manifests and batchId") {
    val root = tmpRoot("compact")
    val ev = Corpus.events(spark, Corpus.Params(rows = 600, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 100), root, "entity_id", "event_ms",
      buckets = 4, batchId = 0L)
    (1 to 5).foreach { i =>
      SnapshotTable.commitDelta(
        ev.filter(col("seq") >= i * 100 && col("seq") < (i + 1) * 100),
        root, "entity_id", "event_ms", buckets = 4, batchId = i.toLong)
    }
    val before = SnapshotTable.currentSnapshot(root).get
    assert(before.buckets.groupBy(_.bucket).values.exists(_.size > 3),
      "fixture produced no multi-slice bucket — compaction test is vacuous")
    val dig0 = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))

    SnapshotTable.compact(spark, root, maxSlices = 3)
    val after = SnapshotTable.currentSnapshot(root).get
    assert(after.buckets.groupBy(_.bucket).values.forall(_.size <= 3))
    assert(after.folded == before.folded, "compaction must not change folded manifests")
    assert(after.batchId == before.batchId, "compaction must preserve the replay token")
    val dig1 = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))
    assert(dig1 == dig0)
    // a no-op compact does not mint a snapshot
    val idBefore = SnapshotTable.currentId(root).get
    SnapshotTable.compact(spark, root, maxSlices = 3)
    assert(SnapshotTable.currentId(root).contains(idBefore))
  }

  test("readIncremental returns exactly the appended rows, straight off manifests") {
    val root = tmpRoot("incr-read")
    val ev = Corpus.events(spark, Corpus.Params(rows = 600, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 400), root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 400 && col("seq") < 500),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 500),
      root, "entity_id", "event_ms", buckets = 4)
    // everything after snapshot 0 = the two deltas
    val inc0 = SnapshotTable.readIncremental(spark, root, 0L)
      .drop(SnapshotTable.BucketCol).select(ev.columns.map(col): _*)
    assert(inc0.count() == 200)
    assert(digestOf(inc0) == digestOf(ev.filter(col("seq") >= 400)))
    // everything after snapshot 1 = only the second delta
    val inc1 = SnapshotTable.readIncremental(spark, root, 1L)
      .drop(SnapshotTable.BucketCol).select(ev.columns.map(col): _*)
    assert(digestOf(inc1) == digestOf(ev.filter(col("seq") >= 500)))
    // compaction breaks slice identity: incremental read must refuse
    SnapshotTable.compact(spark, root, maxSlices = 1)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readIncremental(spark, root, 0L)
    }
    assert(e.getMessage.contains("compacted"))
  }

  test("expireSnapshots deletes old manifests and unreferenced data dirs") {
    val root = tmpRoot("expire")
    val ev = Corpus.events(spark, Corpus.Params(rows = 600, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 300), root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 300 && col("seq") < 450),
      root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 450),
      root, "entity_id", "event_ms", buckets = 2)
    // every early stage is still referenced by the current snapshot's
    // carried-over slices: expiry drops manifests but reclaims NO data
    val (m1, d1) = SnapshotTable.expireSnapshots(root, keepFrom = 2L)
    assert(m1 == 2 && d1 == 0, s"m=$m1 d=$d1")
    assert(SnapshotTable.read(spark, root).count() == 600)

    // after full compaction the old stages become unreferenced -> reclaimed
    val cid = SnapshotTable.compact(spark, root, maxSlices = 1)
    val (m2, d2) = SnapshotTable.expireSnapshots(root, keepFrom = cid)
    assert(m2 == 1 && d2 >= 1, s"m=$m2 d=$d2")
    assert(SnapshotTable.read(spark, root).count() == 600)
    val dig = digestOf(SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .select(ev.columns.map(col): _*))
    assert(dig == digestOf(ev))
    // expired ids are gone; CURRENT is never expired even if asked
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "snapshots", "v0.json")))
    val (m3, _) = SnapshotTable.expireSnapshots(root, keepFrom = Long.MaxValue)
    assert(m3 == 0)
    assert(SnapshotTable.read(spark, root).count() == 600)
  }

  test("resume after simulated kill: rerun yields identical snapshot digests") {
    val rootA = tmpRoot("killA")
    val rootB = tmpRoot("killB")
    val ev = Corpus.events(spark, Corpus.Params(rows = 300, entities = 8)).drop("bytes")

    // clean run
    SnapshotTable.commit(ev, rootA, "entity_id", "event_ms", buckets = 4)

    // killed run: staging files written but pointer never swapped
    val stage = Paths.get(rootB, "data", "s0_0")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("_partial"), "killed mid-write")
    // rerun commits from scratch; stale staging dir is simply not referenced
    SnapshotTable.commit(ev, rootB, "entity_id", "event_ms", buckets = 4)

    val a = SnapshotTable.currentSnapshot(rootA).get
    val b = SnapshotTable.currentSnapshot(rootB).get
    assert(a.buckets.map(x => (x.bucket, x.rows, x.watermark, x.digest)) ==
      b.buckets.map(x => (x.bucket, x.rows, x.watermark, x.digest)))
    // and readback digests agree
    val da = digestOf(SnapshotTable.read(spark, rootA).drop(SnapshotTable.BucketCol))
    val db = digestOf(SnapshotTable.read(spark, rootB).drop(SnapshotTable.BucketCol))
    assert(da == db)
  }

  test("expireSnapshots reclaims stage s_1 even when s_10 is referenced (no prefix aliasing)") {
    // hand-built metadata: stage dir names where one is a string PREFIX of
    // another ("s0_1" vs "s0_10") — the round-3 startsWith comparison kept
    // s0_1 alive forever whenever s0_10 survived
    val root = tmpRoot("prefix")
    val deadStage = Paths.get(root, "data", "s0_1")
    val liveStage = Paths.get(root, "data", "s0_10")
    for (st <- Seq(deadStage, liveStage)) {
      Files.createDirectories(st.resolve("pbucket=0"))
      Files.writeString(st.resolve("pbucket=0").resolve("part-0.parquet"), "x")
    }
    def manifest(id: Long, parent: Long, dir: java.nio.file.Path): String =
      s"""{"id":$id,"parent":$parent,"entity_col":"e","time_col":"t",""" +
        s""""nbuckets":1,"batch_id":-1,"columns":["e","t"],""" +
        s""""buckets":[{"bucket":0,"dir":"${dir.resolve("pbucket=0")}","rows":1,""" +
        s""""watermark":1,"digest":7}]}"""
    Files.createDirectories(Paths.get(root, "snapshots"))
    Files.writeString(Paths.get(root, "snapshots", "v0.json"), manifest(0, -1, deadStage))
    Files.writeString(Paths.get(root, "snapshots", "v1.json"), manifest(1, 0, liveStage))
    Files.writeString(Paths.get(root, "CURRENT"), "v1\n")
    val (m, d) = SnapshotTable.expireSnapshots(root, keepFrom = 1L)
    assert(m == 1 && d == 1, s"m=$m d=$d")
    assert(!Files.exists(deadStage), "dead stage s0_1 not reclaimed")
    assert(Files.exists(liveStage.resolve("pbucket=0").resolve("part-0.parquet")),
      "referenced stage s0_10 must survive")
  }

  test("pre-slice-format manifests (no nbuckets/batch_id/columns) stay readable") {
    val root = tmpRoot("legacy")
    val ev = Corpus.events(spark, Corpus.Params(rows = 200, entities = 8)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 100), root, "entity_id", "event_ms",
      buckets = 2)
    // rewrite the manifest as the pre-round-3 format: strip the three fields
    val mPath = Paths.get(root, "snapshots", "v0.json")
    val legacy = Files.readString(mPath)
      .replaceAll("\"nbuckets\":\\d+,", "")
      .replaceAll("\"batch_id\":-?\\d+,", "")
      .replaceAll("\"columns\":\\[[^\\]]*\\],", "")
    assert(!legacy.contains("nbuckets"))
    Files.writeString(mPath, legacy)
    // defaults: nbuckets -1 = unknown (manifests list only NON-EMPTY
    // buckets, so inferring from the ids present would under-count — e.g.
    // a 16-bucket table whose bucket 15 held no rows), batchId -1, columns
    // empty (schema check skipped — the pre-upgrade contract)
    val s = SnapshotTable.snapshot(root, 0L)
    assert(s.nbuckets == -1 && s.batchId == -1L && s.columns.isEmpty)
    // appends on top of the legacy manifest still work with the caller's
    // (original) bucket count — which the new manifest then records — and
    // fold correctly
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 100), root,
      "entity_id", "event_ms", buckets = 2)
    assert(SnapshotTable.snapshot(root, 1L).nbuckets == 2)
    assert(SnapshotTable.read(spark, root).count() == 200)
    // once recorded, a mismatched count is rejected again
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(ev.limit(1), root, "entity_id", "event_ms",
        buckets = 4)
    }
  }

  test("manifest strings with quotes/braces round-trip; special-char roots work") {
    import spark.implicits._
    // a quote in the root exercises esc() on write and unesc() on read for
    // every dir field; the unmatched braces/brackets exercise the
    // string-aware array scanner in fromJson
    val root = tmpRoot("esc") + "/we\"ird pa}t]h"
    val df = Seq((1L, 100L, "a"), (2L, 200L, "b")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    assert(SnapshotTable.read(spark, root).count() == 2)
    // idempotent re-commit must still SEE matching digests through the codec
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    val Seq(s0, s1) = Seq(0L, 1L).map(SnapshotTable.snapshot(root, _))
    assert(s1.buckets.map(b => (b.bucket, b.digest, b.dir)) ==
      s0.buckets.map(b => (b.bucket, b.digest, b.dir)))
  }

  test("empty commit: legal, watermark None, no empty.min crash") {
    import spark.implicits._
    val root = tmpRoot("empty")
    val df = Seq((1L, 100L)).toDF("entity_id", "event_ms").filter(lit(false))
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    assert(SnapshotTable.watermark(root).isEmpty)
    assert(SnapshotTable.read(spark, root).isEmpty)
  }

  test("null entity keys fail fast instead of hashing into a shared bucket") {
    import spark.implicits._
    val root = tmpRoot("nullkey")
    val df = Seq((Option(1L), 100L), (Option.empty[Long], 200L))
      .toDF("entity_id", "event_ms")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 4)
    }
    assert(e.getMessage.contains("null"))
  }

  test("readEntities: bucket-pruned lookup equals full-scan filter, scans only those buckets") {
    import spark.implicits._
    val root = tmpRoot("pt")
    val ev = Corpus.events(spark, Corpus.Params(rows = 4000, entities = 16)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 16)
    val keys = ev.select("entity_id").distinct().orderBy("entity_id").limit(2)
      .collect().map(_.getString(0)).toSeq

    val got = SnapshotTable.readEntities[String](spark, root, keys)
    val expected = SnapshotTable.read(spark, root)
      .filter(col("entity_id").isInCollection(keys))
    assert(digestOf(got.drop(SnapshotTable.BucketCol)) ==
      digestOf(expected.drop(SnapshotTable.BucketCol)))

    // the scan must touch ONLY the keys' buckets: the manifest itself gives
    // the exact row bound for those buckets
    val snap = SnapshotTable.currentSnapshot(root).get
    val wantedBuckets = got.select(SnapshotTable.BucketCol).distinct()
      .collect().map(_.getInt(0)).toSet
    val wantedRows = snap.folded.filter { case (k, _) => wantedBuckets.contains(k) }
      .values.map(_._1).sum
    assert(wantedRows < 4000, "fixture degenerate: keys cover every bucket")

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.readEntities[String](spark, root, keys).count()
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() > 0, "listener saw no records — tracking broken?")
    assert(read.get() <= wantedRows + keys.size,
      s"lookup read ${read.get()} records; the keys' buckets hold only $wantedRows")

    // a key that exists nowhere returns empty with the table's schema
    val missing = SnapshotTable.readEntities[String](spark, root, Seq("no-such-entity"))
    assert(missing.isEmpty && missing.columns.contains("entity_id"))
  }

  test("additive schema evolution: append with a new column; old slices read null") {
    import spark.implicits._
    val root = tmpRoot("evo")
    val base = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(base, root, "entity_id", "event_ms", buckets = 4)
    val delta = Seq((3L, 30L, "c", 1.5)).toDF("entity_id", "event_ms", "v", "score")
    // without the opt-in, a widened delta is still rejected
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms", buckets = 4)
    }
    SnapshotTable.commitDelta(delta, root, "entity_id", "event_ms", buckets = 4,
      evolveSchema = true)
    assert(SnapshotTable.currentSnapshot(root).get.mixedSchema,
      "evolution must flag the manifest so reads pay schema-merging")
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 3 && back.columns.contains("score"))
    val score = back.collect()
      .map(r => r.getAs[Long]("entity_id") -> Option(r.getAs[Any]("score"))).toMap
    assert(score(1L).isEmpty && score(2L).isEmpty && score(3L).contains(1.5))
    // dropping a recorded column stays an error even with the flag (old
    // slices are carried verbatim — the column would be half-present)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(Seq((4L, 40L)).toDF("entity_id", "event_ms"),
        root, "entity_id", "event_ms", buckets = 4, evolveSchema = true)
    }
    // compaction across the evolution boundary preserves content
    SnapshotTable.compact(spark, root, maxSlices = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // bucket-pruned lookup of a pre-evolution entity sees the null column
    val one = SnapshotTable.readEntities[Long](spark, root, Seq(1L)).collect()
    assert(one.length == 1 && one.head.getAs[Any]("score") == null)
    // a full rewrite on one schema clears the flag (every row changed ->
    // every bucket rewritten; a carried bucket would keep it conservatively)
    val full = SnapshotTable.read(spark, root).drop(SnapshotTable.BucketCol)
      .withColumn("v", concat(col("v"), lit("!")))
    SnapshotTable.commit(full, root, "entity_id", "event_ms", buckets = 4,
      evolveSchema = true)
    assert(!SnapshotTable.currentSnapshot(root).get.mixedSchema)
  }

  test("upsert replaces matching keys, inserts the rest, touches only their buckets") {
    val root = tmpRoot("ups")
    val ev = Corpus.events(spark, Corpus.Params(rows = 4000, entities = 16)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 16)
    val before = SnapshotTable.currentSnapshot(root).get

    // updates: overwrite caption for one entity's rows + insert a brand-new
    // entity (both hash into a small subset of the 16 buckets)
    val target = ev.select("entity_id").orderBy("entity_id").head().getString(0)
    val replaced = ev.filter(col("entity_id") === target)
      .withColumn("caption", lit("REPLACED"))
    val inserted = ev.filter(col("entity_id") === target).limit(3)
      .withColumn("entity_id", lit("brand-new-entity"))
      .withColumn("event_ms", col("event_ms") + 1000000000L)
    val updates = replaced.unionByName(inserted)

    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    // materialize updates first so the listener only sees the upsert's scans
    updates.cache().count()
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.commitUpsert(updates, root, "entity_id", "event_ms", buckets = 16)
      var last = -1L; var spins = 0
      while (read.get() != last && spins < 50) { last = read.get(); Thread.sleep(100); spins += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)

    val after = SnapshotTable.currentSnapshot(root).get
    val touched = after.buckets.map(_.dir).toSet -- before.buckets.map(_.dir).toSet
    val carried = after.buckets.map(_.dir).toSet intersect before.buckets.map(_.dir).toSet
    assert(touched.nonEmpty && carried.nonEmpty,
      s"expected a mix of rewritten and carried slices, got touched=$touched")

    // content: replaced rows new caption, others untouched, inserts present
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 4000 + 3)
    assert(back.filter(col("entity_id") === target)
      .filter(col("caption") =!= "REPLACED").count() == 0)
    assert(back.filter(col("entity_id") === "brand-new-entity").count() == 3)
    val untouchedRows = ev.filter(col("entity_id") =!= target)
    assert(back.filter(col("entity_id") =!= target &&
      col("entity_id") =!= "brand-new-entity").count() == untouchedRows.count())

    // cost: the upsert read the touched buckets (twice: merge + stats of the
    // staged write) — never the whole table
    val touchedRows = before.folded
      .filter { case (k, _) => after.buckets.filter(b => touched.contains(b.dir)).map(_.bucket).contains(k) }
      .values.map(_._1).sum
    assert(read.get() < 4000,
      s"upsert scanned ${read.get()} records — the whole ${4000}-row table was read " +
        s"(touched buckets hold only $touchedRows)")
    updates.unpersist()
  }

  test("entity delete erases from the head, keeps time travel, empties vanish") {
    import spark.implicits._
    val root = tmpRoot("del")
    val ev = Corpus.events(spark, Corpus.Params(rows = 2000, entities = 12)).drop("bytes")
    SnapshotTable.commit(ev, root, "entity_id", "event_ms", buckets = 8)
    val entities = ev.select("entity_id").distinct()
      .orderBy("entity_id").collect().map(_.getString(0)).toSeq
    val victims = entities.take(2)
    val before = SnapshotTable.currentSnapshot(root).get

    SnapshotTable.commitDelete[String](spark, root, victims)
    val back = SnapshotTable.read(spark, root)
    assert(back.filter(col("entity_id").isInCollection(victims)).count() == 0)
    assert(back.count() ==
      ev.filter(!col("entity_id").isInCollection(victims)).count())
    // untouched buckets carried verbatim (no whole-table rewrite)
    val after = SnapshotTable.currentSnapshot(root).get
    assert((after.buckets.map(_.dir).toSet intersect
      before.buckets.map(_.dir).toSet).nonEmpty)
    // time travel still sees the pre-delete content until expiry
    assert(SnapshotTable.read(spark, root, Some(before.id))
      .filter(col("entity_id").isInCollection(victims)).count() > 0)
    // deleting EVERY entity leaves a legal empty table
    SnapshotTable.commitDelete[String](spark, root, entities)
    assert(SnapshotTable.read(spark, root).isEmpty)
    assert(SnapshotTable.watermark(root).isEmpty)
    // physical erasure: expire pre-delete snapshots, victims' slices gone
    SnapshotTable.expireSnapshots(root, keepFrom = after.id + 1)
    intercept[Exception] { SnapshotTable.read(spark, root, Some(before.id)).count() }
  }

  test("type rails: column type changes and mistyped keys are rejected") {
    import spark.implicits._
    val root = tmpRoot("types")
    SnapshotTable.commit(Seq((1L, 10L, 1)).toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 2) // v: Int
    // same names, v re-typed to Long: the name-only check would pass and
    // mix int- and long-physical parquet in one bucket
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelta(
        Seq((2L, 20L, 2L)).toDF("entity_id", "event_ms", "v"),
        root, "entity_id", "event_ms", buckets = 2)
    }
    assert(e1.getMessage.contains("type"))
    // entity keys of the wrong type hash to the wrong buckets: fail fast
    // instead of an empty lookup / no-op delete
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.readEntities[String](spark, root, Seq("1"))
    }
    assert(e2.getMessage.contains("type"))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete[String](spark, root, Seq("1"))
    }
    assert(e3.getMessage.contains("type"))
  }

  test("removeOrphans reclaims old unreferenced stages + tmp claims, spares young and referenced") {
    import spark.implicits._
    val root = tmpRoot("orph")
    SnapshotTable.commit(Seq((1L, 10L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    // a lost optimistic retry's stage and a crashed writer's tmp claim
    val orphan = Paths.get(root, "data", "s9_99999c0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "x")
    Files.writeString(Paths.get(root, "snapshots", "v9.123.tmp"), "{}")
    // young files are in-flight commits: spared
    val (st0, tmp0) = SnapshotTable.removeOrphans(root, olderThanMs = 3600000L)
    assert(st0 == 0 && tmp0 == 0, "young unreferenced files must be spared")
    val (st, tmp) = SnapshotTable.removeOrphans(root, olderThanMs = -1000L)
    assert(st == 1 && tmp == 1, s"got ($st, $tmp)")
    assert(!Files.exists(orphan))
    assert(SnapshotTable.read(spark, root).count() == 1,
      "referenced stage must survive regardless of age")
  }

  test("upsert without a batchId carries the parent's streaming replay marker") {
    import spark.implicits._
    val root = tmpRoot("upsbid")
    val batch7 = Seq((1L, 10L, "a")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commitDelta(batch7, root, "entity_id", "event_ms",
      buckets = 2, batchId = 7L)
    SnapshotTable.commitUpsert(
      Seq((1L, 10L, "b")).toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 2)
    assert(SnapshotTable.currentSnapshot(root).get.batchId == 7L)
    // crash-replay of batch 7 AFTER the maintenance upsert: still skipped,
    // and the upserted value survives
    SnapshotTable.commitDelta(batch7, root, "entity_id", "event_ms",
      buckets = 2, batchId = 7L)
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 1 && back.head().getAs[String]("v") == "b")
  }

  test("verb interplay: evolve, then upsert, delete and incremental-read the mixed table") {
    import spark.implicits._
    val root = tmpRoot("interplay")
    SnapshotTable.commit(
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
        .toDF("entity_id", "event_ms", "v"),
      root, "entity_id", "event_ms", buckets = 4)
    // evolve: append a row carrying a new score column
    SnapshotTable.commitDelta(
      Seq((4L, 40L, "d", 4.0)).toDF("entity_id", "event_ms", "v", "score"),
      root, "entity_id", "event_ms", buckets = 4, evolveSchema = true)
    val evolvedId = SnapshotTable.currentId(root).get

    // upsert ON the mixed table: replace entity 1's row (pre-evolution
    // slice) with a scored version, insert entity 5
    SnapshotTable.commitUpsert(
      Seq((1L, 10L, "a2", 1.0), (5L, 50L, "e", 5.0))
        .toDF("entity_id", "event_ms", "v", "score"),
      root, "entity_id", "event_ms", buckets = 4)
    val back = SnapshotTable.read(spark, root)
    assert(back.count() == 5)
    val byId = back.collect().map(r => r.getAs[Long]("entity_id") ->
      ((r.getAs[String]("v"), Option(r.getAs[Any]("score"))))).toMap
    assert(byId(1L) == (("a2", Some(1.0))), s"upserted row wrong: ${byId(1L)}")
    assert(byId(2L)._2.isEmpty && byId(3L)._2.isEmpty,
      "pre-evolution rows must read null score")
    assert(byId(4L) == (("d", Some(4.0))) && byId(5L) == (("e", Some(5.0))))

    // incremental read ACROSS the upsert must fail fast: an upsert rewrites
    // touched buckets' slices (delete-then-insert is not append-only), so
    // "slices added since" would silently double-count rewritten rows —
    // the rail catches exactly this
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readIncremental(spark, root, evolvedId)
    }
    assert(e.getMessage.contains("append-only"))

    // delete a pre-evolution entity from the mixed table
    SnapshotTable.commitDelete[Long](spark, root, Seq(2L))
    val afterDel = SnapshotTable.read(spark, root)
    assert(afterDel.count() == 4 &&
      afterDel.filter(col("entity_id") === 2L).isEmpty)
    // the table still reads consistently after compaction
    SnapshotTable.compact(spark, root, maxSlices = 1)
    assert(SnapshotTable.read(spark, root).count() == 4)
  }

  test("concurrent appends: every commit survives, one claim per snapshot id") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = tmpRoot("conc")
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // all writers race table CREATION too (no pre-existing v0): exactly
      // one wins v0, the rest must fall into the append path — a lost
      // update here would silently drop a writer's rows
      val ids = Await.result(Future.sequence((0 until n).map { i =>
        Future {
          val df = spark.range(i * 100L, i * 100L + 100L)
            .selectExpr("id AS entity_id", "id AS event_ms", s"'w$i' AS src")
          SnapshotTable.commitDelta(df, root, "entity_id", "event_ms", buckets = 4)
        }
      }), 5.minutes)
      assert(ids.toSet.size == n, s"duplicate snapshot ids claimed: $ids")
      assert(ids.toSet == (0L until n.toLong).toSet, s"non-contiguous ids: $ids")
      val back = SnapshotTable.read(spark, root)
      assert(back.count() == n * 100L, "rows lost to a commit race")
      assert(back.select(countDistinct(col("src"))).head().getLong(0) == n.toLong,
        "an entire writer's delta went missing")
      assert(SnapshotTable.currentId(root).contains(ids.max))
    } finally pool.shutdown()
  }

  test("a lagging CURRENT pointer heals: the claimed head stays visible") {
    import spark.implicits._
    val root = tmpRoot("heal")
    SnapshotTable.commit(Seq((1L, 10L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(Seq((2L, 20L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    // simulate a writer that claimed v1 but died before the pointer swap
    // (or lost a pointer race to a slower writer): regress the hint
    Files.writeString(Paths.get(root, "CURRENT"), "v0\n")
    assert(SnapshotTable.currentId(root).contains(1L),
      "claimed manifest must be the head even when the pointer lags")
    assert(SnapshotTable.read(spark, root).count() == 2)
    // the next commit builds on the TRUE head and heals the pointer
    SnapshotTable.commitDelta(Seq((3L, 30L)).toDF("entity_id", "event_ms"),
      root, "entity_id", "event_ms", buckets = 2)
    assert(Files.readString(Paths.get(root, "CURRENT")).trim == "v2")
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("full commit rejects key-column mismatch against the table's manifest") {
    import spark.implicits._
    val root = tmpRoot("keyrail")
    val df = Seq((1L, 100L, "x")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df, root, "entity_id", "event_ms", buckets = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, root, "v", "event_ms", buckets = 2)
    }
    assert(e.getMessage.contains("key columns"))
  }

  /** Time-chunked three-slice table for the readRange suite: event_ms
    * 0..899, chunk boundaries at 300 and 600, 4 buckets. Returns (root, df).
    */
  private def rangeTable(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val root = tmpRoot(tag)
    val df = (0L until 900L).map(i => (s"e${i % 30}", i, s"v$i"))
      .toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(df.filter(col("event_ms") < 300),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(
      df.filter(col("event_ms") >= 300 && col("event_ms") < 600),
      root, "entity_id", "event_ms", buckets = 4)
    SnapshotTable.commitDelta(df.filter(col("event_ms") >= 600),
      root, "entity_id", "event_ms", buckets = 4)
    (root, df)
  }

  /** Stage dirs (parents of slice dirs) NEW in snapshot `id` vs its parent. */
  private def stageOf(root: String, id: Long): Set[String] = {
    val s = SnapshotTable.snapshot(root, id)
    val parent =
      if (s.parent < 0) Set.empty[String]
      else SnapshotTable.snapshot(root, s.parent).buckets.map(_.dir).toSet
    s.buckets.map(_.dir).filterNot(parent.contains)
      .map(d => Paths.get(d).getParent.toString).toSet
  }

  test("readRange: equals the full-scan predicate and OPENS only overlapping slices") {
    val (root, df) = rangeTable("rng")
    // [350, 449] lies fully inside the middle chunk
    val got = SnapshotTable.readRange(spark, root, Some(350L), Some(449L))
      .drop(SnapshotTable.BucketCol)
    val want = df.filter(col("event_ms").between(350, 449))
    assert(got.count() == 100)
    assert(digestOf(got.select(df.columns.map(col): _*)) == digestOf(want))
    // manifest-level skipping: every file in the PLAN comes from the middle
    // chunk's stage; the base and top chunks are never opened (inputFiles is
    // the planned scan set — this asserts the skip happened at the manifest,
    // not via parquet row-group stats after opening footers)
    val midStages = stageOf(root, 1L)
    val others = stageOf(root, 0L) ++ stageOf(root, 2L)
    val files = got.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => midStages.exists(f.contains) && !others.exists(f.contains)),
      s"scan leaked outside the overlapping slices: $files")

    // open-ended lower bound: chunks 1+2 skipped entirely
    val tail = SnapshotTable.readRange(spark, root, Some(600L), None)
    assert(tail.count() == 300)
    assert(tail.inputFiles.forall(f => stageOf(root, 2L).exists(f.contains)))
    // open-ended upper bound at the head slice
    assert(SnapshotTable.readRange(spark, root, None, Some(299L)).count() == 300)
    // bound rails
    intercept[IllegalArgumentException] {
      SnapshotTable.readRange(spark, root, None, None)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readRange(spark, root, Some(5L), Some(4L))
    }
    // a range nothing overlaps: zero slices opened, schema kept
    val none = SnapshotTable.readRange(spark, root, Some(2000L), Some(3000L))
    assert(none.isEmpty && none.columns.contains("event_ms"))
    assert(none.inputFiles.isEmpty)
  }

  test("readRange: legacy manifests without tmin stay readable, prune only on watermark") {
    val (root, df) = rangeTable("rnglegacy")
    // strip the tmin field from every manifest = the pre-range format
    Seq(0L, 1L, 2L).foreach { id =>
      val p = Paths.get(root, "snapshots", s"v$id.json")
      Files.writeString(p,
        Files.readString(p).replaceAll(""","tmin":-?\d+""", ""))
    }
    assert(SnapshotTable.snapshot(root, 2L).buckets.forall(_.tmin == Long.MinValue))
    // correctness unchanged (no lower-bound claim -> no skip on it)...
    val got = SnapshotTable.readRange(spark, root, Some(350L), Some(449L))
    assert(got.count() == 100)
    // ...and the WATERMARK side still prunes: chunks whose max < from skip
    val tail = SnapshotTable.readRange(spark, root, Some(600L), None)
    assert(tail.count() == 300)
    assert(tail.inputFiles.forall(f => stageOf(root, 2L).exists(f.contains)))
  }

  test("readRange: all-null-time slices make no claim and match no range") {
    import spark.implicits._
    val root = tmpRoot("rngnull")
    val nulls = Seq(("a", Option.empty[Long], "x"), ("b", Option.empty[Long], "y"))
      .toDF("entity_id", "event_ms", "v")
    val timed = Seq(("c", Option(100L), "z")).toDF("entity_id", "event_ms", "v")
    SnapshotTable.commit(nulls, root, "entity_id", "event_ms", buckets = 2)
    SnapshotTable.commitDelta(timed, root, "entity_id", "event_ms", buckets = 2)
    // lower-bounded: the null slice is skipped via watermark = MinValue
    val lo = SnapshotTable.readRange(spark, root, Some(0L), None)
    assert(lo.count() == 1)
    // upper-bounded only: the null slice cannot be skipped (tmin MinValue =
    // no claim) but null event times never satisfy the residual predicate
    val hi = SnapshotTable.readRange(spark, root, None, Some(200L))
    assert(hi.count() == 1)
  }

  test("readEntities with a time window prunes on bucket AND slice interval") {
    import spark.implicits._
    val (root, df) = rangeTable("rngent")
    val keys = Seq("e5", "e17")
    val got = SnapshotTable
      .readEntities[String](spark, root, keys, from = Some(350L), until = Some(449L))
      .drop(SnapshotTable.BucketCol)
    val want = df.filter(col("entity_id").isInCollection(keys) &&
      col("event_ms").between(350, 449))
    assert(got.count() == want.count() && got.count() > 0)
    assert(digestOf(got.select(df.columns.map(col): _*)) == digestOf(want))
    // the plan must touch ONLY the middle chunk's stage (interval prune)
    // AND only the keys' bucket dirs within it (bucket prune)
    val wantedBuckets = spark.range(1).select(
        explode(array(keys.map(k =>
          pmod(xxhash64(lit(k)), lit(4)).cast("int")): _*)))
      .collect().map(_.getInt(0)).toSet
    val midStages = stageOf(root, 1L)
    val files = got.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => midStages.exists(f.contains) &&
      wantedBuckets.exists(b => f.contains(s"${SnapshotTable.BucketCol}=$b"))),
      s"scan leaked outside bucket∩interval: $files")
    // degenerate window rail
    intercept[IllegalArgumentException] {
      SnapshotTable.readEntities[String](spark, root, keys,
        from = Some(5L), until = Some(4L))
    }
  }

  test("compact folds tmin by min; range reads stay exact across compaction") {
    val (root, df) = rangeTable("rngcomp")
    val pre = SnapshotTable.currentSnapshot(root).get
    val id = SnapshotTable.compact(spark, root, maxSlices = 1)
    val s = SnapshotTable.snapshot(root, id)
    // every compacted bucket's interval is the fold of its old slices
    val preBy = pre.buckets.groupBy(_.bucket)
    s.buckets.groupBy(_.bucket).foreach { case (k, ss) =>
      assert(ss.size == 1)
      assert(ss.head.tmin == preBy(k).map(_.tmin).min)
      assert(ss.head.watermark == preBy(k).map(_.watermark).max)
    }
    val got = SnapshotTable.readRange(spark, root, Some(350L), Some(449L))
      .drop(SnapshotTable.BucketCol)
    assert(got.count() == 100)
    assert(digestOf(got.select(df.columns.map(col): _*)) ==
      digestOf(df.filter(col("event_ms").between(350, 449))))
  }

  /** Spark jobs `body` starts, counted by a listener on their job group. A
    * fence job runs after `body`: the listener bus delivers events in
    * order, so once the fence is seen every earlier job start was too.
    */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => started.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the fence job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    started.get()
  }

  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size

  test("read infers its schema in one job and plans one parquet scan per stage dir") {
    val root = tmpRoot("scans")
    val ev = Corpus.events(spark, Corpus.Params(rows = 4000, entities = 256)).drop("bytes")
    SnapshotTable.commit(ev.filter(col("seq") < 3000), root, "entity_id", "event_ms",
      buckets = 16)
    assert(SnapshotTable.currentSnapshot(root).get.buckets.map(_.bucket).toSet.size == 16,
      "fixture degenerate: some bucket holds no rows")
    // planning only — no action — may start at most the one schema job
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    val jobs = jobsStarted {
      plan = SnapshotTable.read(spark, root).queryExecution.executedPlan
    }
    assert(jobs <= 1, s"read started $jobs Spark jobs before its first action")
    assert(fileScans(plan) == 1, s"16 buckets of one commit must be one scan:\n$plan")

    // an append adds a second stage dir: one scan each, never one per bucket
    SnapshotTable.commitDelta(ev.filter(col("seq") >= 3000), root, "entity_id",
      "event_ms", buckets = 16)
    val stages = SnapshotTable.currentSnapshot(root).get.buckets
      .map(b => Paths.get(b.dir).getParent).toSet.size
    assert(stages == 2)
    val back = SnapshotTable.read(spark, root)
    assert(fileScans(back.queryExecution.executedPlan) == stages)
    assert(back.count() == 4000)
    assert(back.groupBy(SnapshotTable.BucketCol).count().count() == 16)
  }

  test("read's schema is the committed frame's column order, then pbucket: int") {
    import spark.implicits._
    // deliberately unsorted: the manifest records sorted `columns`, and
    // read must not take its order from there
    val base = Seq((10L, "e1", "a", 1), (20L, "e2", "b", 2), (30L, "e3", "c", 3))
      .toDF("event_ms", "entity_id", "v", "n")
    val later = Seq((40L, "e1", "d", 4), (50L, "e2", "e", 5)).toDF(base.columns: _*)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      shape(df) :+ (SnapshotTable.BucketCol -> org.apache.spark.sql.types.IntegerType)
    def table(tag: String): String = {
      val root = tmpRoot(tag)
      SnapshotTable.commit(base, root, "entity_id", "event_ms", buckets = 4)
      root
    }
    def append(root: String, df: org.apache.spark.sql.DataFrame, evolve: Boolean = false) =
      SnapshotTable.commitDelta(df, root, "entity_id", "event_ms", buckets = 4,
        evolveSchema = evolve)

    val once = table("shape-once")
    assert(SnapshotTable.currentSnapshot(once).get.columns != base.columns.toSeq)
    val appended = table("shape-append")
    append(appended, later)
    val compacted = table("shape-compact")
    append(compacted, later)
    val cid = SnapshotTable.compact(spark, compacted, maxSlices = 1)
    assert(cid == 2L, "fixture degenerate: nothing was compacted")
    Seq("once" -> once, "append" -> appended, "compacted" -> compacted).foreach {
      case (tag, root) =>
        assert(shape(SnapshotTable.read(spark, root)) == withBucket(base), tag)
    }

    val evolved = table("shape-evolved")
    val scored = later.withColumn("score", lit(0.5))
    append(evolved, scored, evolve = true)
    assert(SnapshotTable.currentSnapshot(evolved).get.mixedSchema)
    assert(shape(SnapshotTable.read(spark, evolved)) == withBucket(scored))
  }
}
