package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table layout: partitioned Parquet + JSON snapshot metadata
  * with per-partition lineage manifests and an atomically-swapped pointer.
  *
  * No Iceberg runtime jar exists in this environment (SURVEY.md §7.0), so the
  * engine owns the same *semantics* with zero new dependencies:
  *
  *  - snapshots: every commit creates `snapshots/v<id>.json` listing, per
  *    entity-hash bucket, the data directory, row count, watermark
  *    (max event time), and an order-insensitive content digest
  *    (bit_xor of row hashes — commutative, so equal at any parallelism);
  *  - time travel: `read(root, Some(id))` reconstructs exactly snapshot id;
  *  - resumable, idempotent commits: a commit diffs its per-bucket digests
  *    against the parent snapshot and rewrites ONLY buckets whose digest
  *    changed (the reference's resume-if-exists checkpoint contract,
  *    `az_ml_models.R:270-282,330-345`, generalized to partitions);
  *  - atomic visibility: the COMMIT POINT is the atomic creation of
  *    `snapshots/v<id>.json` (tmp file + hard link, create-if-absent) —
  *    exactly one writer can claim a given id. The `CURRENT` pointer file
  *    is a fast-path hint swapped with an atomic rename after the claim;
  *    [[currentId]] probes forward from it, so a writer that crashed (or
  *    lost a pointer race) between claim and swap still has its snapshot
  *    visible. A killed writer leaves only unreferenced staging files.
  *  - optimistic concurrency: concurrent writers race on the claim;
  *    losers re-read the new head and retry (appends restage nothing —
  *    their slices are parent-independent), so no commit is ever silently
  *    lost (Iceberg's optimistic-concurrency contract on a plain
  *    filesystem).
  *
  * Layout:
  * {{{
  *   root/CURRENT                    # "v<id>\n" (hint; claim is truth)
  *   root/snapshots/v<id>.json      # manifest (see Manifest)
  *   root/data/s<id>_<pid>c<n>/pbucket=<k>/ (parquet files)
  * }}}
  */
object SnapshotTable {

  val BucketCol = "pbucket"

  /** Bucket id of an entity key. xxhash64 is null-TOLERANT (a null input
    * hashes to the bare seed, landing every null entity in one silently
    * shared bucket), so nulls are explicitly propagated here — they surface
    * as a null group in [[bucketStats]], where commit fails fast with a
    * "filter or recode null entities" message instead of quietly co-locating
    * them under an arbitrary bucket id.
    */
  private def bucketExpr(entityCol: String, buckets: Int) =
    when(col(entityCol).isNotNull,
      pmod(xxhash64(col(entityCol)), lit(buckets)).cast("int"))

  /** One SLICE of a bucket's data: a directory of parquet files plus its
    * lineage stats. A bucket may have several slices (initial load + each
    * appended delta — Iceberg's manifest-lists-files shape); the bucket's
    * logical manifest is the FOLD of its slices (rows: sum, watermark: max,
    * digest: xor, tmin: min — all associative+commutative, which is what
    * makes O(delta) appends possible).
    *
    * `tmin` is the slice's MIN event time — with `watermark` (the max) it
    * gives [[readRange]] an Iceberg-style min/max skipping interval per
    * slice. `Long.MinValue` means "no lower-bound claim" (a manifest
    * written before this field existed, or a slice whose time column is
    * entirely null): such a slice is never skipped on its lower bound —
    * pruning degrades, correctness doesn't.
    */
  final case class BucketManifest(bucket: Int, dir: String, rows: Long,
      watermark: Long, digest: Long, tmin: Long = Long.MinValue)
  /** `mixedSchema`: true once any slice was written under an older (pre-
    * additive-evolution) column set; read paths pay parquet schema-merging
    * (a footer read per file at planning) ONLY then — the homogeneous
    * common case keeps single-footer schema inference. A full [[commit]]
    * resets it (every slice rewritten under one schema).
    */
  final case class Snapshot(id: Long, parent: Long,
      entityCol: String, timeCol: String, nbuckets: Int, batchId: Long,
      columns: Seq[String], buckets: Seq[BucketManifest],
      mixedSchema: Boolean = false,
      /** Typed schema (Spark DDL) — lets a mixed-schema read pad columns a
        * pre-evolution slice lacks with correctly-TYPED nulls even when no
        * slice in the scan carries them (a pruned point lookup may touch
        * only old slices). Empty = legacy manifest, no padding possible.
        */
      schemaDdl: String = "") {
    /** Per-bucket folded (rows, watermark, digest) over slices. */
    def folded: Map[Int, (Long, Long, Long)] =
      buckets.groupBy(_.bucket).map { case (k, ss) =>
        k -> ((ss.map(_.rows).sum, ss.map(_.watermark).max,
          ss.map(_.digest).reduce(_ ^ _)))
      }
  }

  // --- tiny hand-rolled JSON (no extra deps; schema is fixed) --------------
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** Inverse of [[esc]]: strings must ROUND-TRIP through the manifest —
    * a root path or column name containing `"` or `\` would otherwise be
    * written escaped but read back truncated at the first escape.
    */
  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `"..."` with escape-aware interior (backslash-pair or any non-quote). */
  private val JsonStr = "\"(?:[^\"\\\\]|\\\\.)*\""

  private def toJson(s: Snapshot): String = {
    val bs = s.buckets.sortBy(b => (b.bucket, b.dir)).map { b =>
      s"""{"bucket":${b.bucket},"dir":"${esc(b.dir)}","rows":${b.rows},""" +
        s""""watermark":${b.watermark},"digest":${b.digest},"tmin":${b.tmin}}"""
    }.mkString("[", ",", "]")
    val cols = s.columns.map(c => s""""${esc(c)}"""").mkString("[", ",", "]")
    s"""{"id":${s.id},"parent":${s.parent},"entity_col":"${esc(s.entityCol)}",""" +
      s""""time_col":"${esc(s.timeCol)}","nbuckets":${s.nbuckets},""" +
      s""""batch_id":${s.batchId},"mixed_schema":${s.mixedSchema},""" +
      s""""schema_ddl":"${esc(s.schemaDdl)}","columns":$cols,"buckets":$bs}"""
  }

  private def stripQuotes(v: String): String =
    if (v.startsWith("\"")) unesc(v.stripPrefix("\"").stripSuffix("\"")) else v

  private def field(json: String, name: String): String = {
    val m = (s""""$name":($JsonStr|-?\\d+|true|false)""").r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalStateException(s"missing field $name in manifest"))
    stripQuotes(m.group(1))
  }

  private def fieldOpt(json: String, name: String): Option[String] =
    (s""""$name":($JsonStr|-?\\d+|true|false)""").r.findFirstMatchIn(json)
      .map(m => stripQuotes(m.group(1)))

  /** Parse a manifest. `nbuckets`/`batch_id`/`columns` arrived with the
    * round-3 slice format; manifests written by the earlier format stay
    * readable with semantics-preserving defaults: nbuckets = -1 ("unknown"
    * — manifests list only NON-EMPTY buckets, so the highest bucket id
    * present can under-count; the next append's caller-supplied count is
    * authoritative, exactly the pre-upgrade contract), batchId = -1 ("not
    * a streaming commit"), columns empty (= skip the schema check on
    * append).
    */
  /** Substring of the `[...]` array following offset `from`, delimited by
    * the first `]` NOT inside a string literal (column names and dir paths
    * may legally contain `]`, `{`, `}`, quotes and backslashes).
    */
  private def arrayBody(json: String, from: Int): String = {
    var i = json.indexOf('[', from) + 1
    val start = i
    var inStr = false
    while (i < json.length && (inStr || json.charAt(i) != ']')) {
      json.charAt(i) match {
        case '\\' if inStr => i += 1 // skip the escaped char
        case '"'           => inStr = !inStr
        case _             =>
      }
      i += 1
    }
    json.substring(start, i)
  }

  private def fromJson(json: String): Snapshot = {
    val cols = json.indexOf("\"columns\":") match {
      case -1 => Seq.empty[String]
      case i  => JsonStr.r.findAllIn(arrayBody(json, i)).map(stripQuotes).toSeq
    }
    val bucketsPart = arrayBody(json, json.indexOf("\"buckets\":"))
    val items = (s"""\\{(?:$JsonStr|[^{}"])*\\}""").r.findAllIn(bucketsPart).toSeq
    val buckets = items.map(it =>
      BucketManifest(field(it, "bucket").toInt, field(it, "dir"),
        field(it, "rows").toLong, field(it, "watermark").toLong,
        field(it, "digest").toLong,
        // absent before the range-pruning format: no lower-bound claim
        fieldOpt(it, "tmin").map(_.toLong).getOrElse(Long.MinValue)))
    val nbuckets = fieldOpt(json, "nbuckets").map(_.toInt).getOrElse(-1)
    Snapshot(
      field(json, "id").toLong, field(json, "parent").toLong,
      field(json, "entity_col"), field(json, "time_col"),
      nbuckets, fieldOpt(json, "batch_id").map(_.toLong).getOrElse(-1L),
      cols, buckets,
      // absent in pre-evolution manifests = homogeneous (they couldn't mix)
      fieldOpt(json, "mixed_schema").contains("true"),
      fieldOpt(json, "schema_ddl").getOrElse(""))
  }

  // --- pointer --------------------------------------------------------------
  /** Head snapshot id. The CURRENT pointer is only a hint: a writer that
    * crashed (or lost a pointer race to a slower concurrent writer) after
    * claiming `v<id>.json` but before swapping the pointer has still
    * committed — claims are complete by construction (tmp + link) — so the
    * true head is found by probing forward from the hint. The next
    * successful commit's swap heals the pointer.
    */
  def currentId(root: String): Option[Long] = {
    val p = Paths.get(root, "CURRENT")
    val hint =
      if (Files.exists(p)) Files.readString(p).trim.stripPrefix("v").toLong
      else -1L
    var head = hint
    while (Files.exists(Paths.get(root, "snapshots", s"v${head + 1}.json")))
      head += 1
    if (head >= 0) Some(head) else None
  }

  def snapshot(root: String, id: Long): Snapshot =
    fromJson(Files.readString(Paths.get(root, "snapshots", s"v$id.json")))

  def currentSnapshot(root: String): Option[Snapshot] =
    currentId(root).map(snapshot(root, _))

  private def swapPointer(root: String, id: Long): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"CURRENT.tmp$id")
    Files.writeString(tmp, s"v$id\n")
    Files.move(tmp, dir.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Per-bucket (rows, watermark, digest, tmin) aggregate of a frame that
    * already carries [[BucketCol]] — the only data scan a commit performs.
    *
    * to_json renders timestamps in the SESSION timezone by default, which
    * would make the same content digest differently across heterogeneously-
    * configured drivers and silently defeat the resume-if-unchanged path —
    * pinned to UTC so digests are a pure function of content.
    *
    * A null entity key fails fast (it would land in a null bucket and
    * corrupt the partition layout); a bucket whose time column is entirely
    * null gets watermark Long.MinValue ("no completeness claim") and tmin
    * Long.MinValue ("no lower-bound claim").
    */
  private def bucketStats(df: DataFrame, dataCols: Seq[String],
      timeCol: String): Map[Int, (Long, Long, Long, Long)] = {
    val rowHash = xxhash64(to_json(struct(dataCols.sorted.map(col): _*),
      Map("timeZone" -> "UTC").asJava))
    df.withColumn("__h", rowHash)
      .groupBy(col(BucketCol))
      .agg(count(lit(1)).as("rows"), max(col(timeCol)).cast("long").as("wm"),
        expr("bit_xor(__h)").as("digest"),
        min(col(timeCol)).cast("long").as("tmn"))
      .collect()
      .map { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(
          "SnapshotTable: the entity column contains nulls — a null key " +
            "has no bucket; filter or recode null entities before commit")
        val wm = if (r.isNullAt(2)) Long.MinValue else r.getLong(2)
        val tmn = if (r.isNullAt(4)) Long.MinValue else r.getLong(4)
        r.getInt(0) -> ((r.getLong(1), wm, r.getLong(3), tmn))
      }
      .toMap
  }

  private val stageCounter = new java.util.concurrent.atomic.AtomicLong

  /** Unique staging dir per attempt — unique by CONSTRUCTION (pid + a
    * per-JVM counter), not by an exists-probe, so two concurrent writers
    * computing the same newId can never race into one directory. A killed
    * previous attempt's dir never collides (Spark's overwrite mode clears
    * a recycled-pid leftover first) and its garbage is unreferenced.
    */
  private def newStage(root: String, newId: Long): Path =
    Paths.get(root, "data",
      s"s${newId}_${ProcessHandle.current.pid}c${stageCounter.getAndIncrement()}")

  /** Atomically claim `v<id>.json` — the COMMIT POINT. The manifest is
    * fully written to a tmp file first, then hard-linked into place
    * (create-if-absent is atomic on POSIX), so a visible manifest is always
    * complete and exactly one writer commits a given id. Returns false when
    * another writer holds the claim. Filesystems without hard links fall
    * back to an O_EXCL (CREATE_NEW) write: still a true compare-and-swap —
    * a crash mid-write can leave a truncated claim there, which fails
    * LOUDLY at the next parse, whereas a rename-based fallback would
    * silently replace a racing writer's committed manifest (a lost commit;
    * the one failure mode this layer exists to rule out).
    */
  private def claimManifest(root: String, snap: Snapshot): Boolean = {
    val snapsDir = Paths.get(root, "snapshots")
    Files.createDirectories(snapsDir)
    val target = snapsDir.resolve(s"v${snap.id}.json")
    if (Files.exists(target)) return false // fast path: already claimed
    val json = toJson(snap)
    val tmp = Files.createTempFile(snapsDir, s"v${snap.id}.", ".tmp")
    try {
      Files.writeString(tmp, json)
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          try {
            Files.writeString(target, json,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Claim + pointer swap. None = lost the race; the caller re-reads the
    * head and retries.
    */
  private def publish(root: String, snap: Snapshot): Option[Long] =
    if (!claimManifest(root, snap)) None
    else { swapPointer(root, snap.id); Some(snap.id) }

  private val MaxCommitAttempts = 10

  /** Type-aware schema rail: the name-equality checks alone let a column's
    * TYPE change slip through (e.g. v: Int re-appended as v: Long), mixing
    * physically-incompatible parquet slices inside one bucket — which the
    * non-merging read path then mis-decodes or rejects. Every column the
    * table recorded (legacy manifests recorded none) must keep its exact
    * type; evolution may only ADD columns, never mutate one.
    */
  private def requireTypesMatch(p: Snapshot, df: DataFrame, what: String): Unit =
    if (p.schemaDdl.nonEmpty) {
      val recorded = org.apache.spark.sql.types.StructType.fromDDL(p.schemaDdl)
        .fields.map(f => f.name -> f.dataType).toMap
      df.schema.fields.foreach { f =>
        recorded.get(f.name).foreach { t =>
          require(f.dataType == t,
            s"$what column '${f.name}' has type ${f.dataType.sql}, the table " +
              s"recorded ${t.sql} — column types cannot change")
        }
      }
    }

  /** Commit the FULL content `df` as a new snapshot of the table at `root`
    * (overwrite semantics: the new snapshot's content is exactly `df`).
    * Returns the new snapshot id. Buckets whose folded digest equals the
    * parent snapshot's are NOT rewritten — their slices are reused (resume
    * path). For appends, [[commitDelta]] does the same with an O(delta)
    * scan instead of re-reading the whole table.
    *
    * `evolveSchema = true` permits a DIFFERENT column set than the table's
    * recorded one (any change — the full content is rewritten anyway, so
    * no slice is left behind on the old schema); the manifest then records
    * the new columns. Note the resume-if-unchanged diff compares digests
    * hashed over each side's own column set, so a schema-changing commit
    * rewrites every bucket even if the shared columns are identical.
    */
  def commit(df0: DataFrame, root: String, entityCol: String, timeCol: String,
      buckets: Int = 16, batchId: Long = -1L,
      evolveSchema: Boolean = false): Long = {
    val df = df0.withColumn(BucketCol, bucketExpr(entityCol, buckets))
    // ONE stats scan of df, reused across optimistic retries (the diff and
    // the changed-bucket write depend on the parent, so those rerun)
    var man: Map[Int, (Long, Long, Long, Long)] = null
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val parent = currentSnapshot(root)
      parent.foreach { p =>
        // nbuckets < 0 = pre-slice-format manifest with no recorded count:
        // accept the caller's, which the new manifest then records
        require(p.nbuckets < 0 || p.nbuckets == buckets,
          s"bucket count $buckets != table's ${p.nbuckets} at $root")
        // empty = pre-slice-format manifest without a recorded schema: skip
        require(evolveSchema || p.columns.isEmpty ||
          p.columns == df0.columns.sorted.toSeq,
          s"schema ${df0.columns.sorted.toSeq} != table's ${p.columns} at " +
            s"$root (pass evolveSchema = true to change it)")
        // an evolving full commit rewrites every slice, so new types are
        // fine there; a plain commit must not mutate a column's type (the
        // resume path can carry old slices)
        if (!evolveSchema) requireTypesMatch(p, df0, "commit")
        // a key-column typo must not silently re-bucket the whole table
        // (same rail commitDelta has always had)
        require(p.entityCol == entityCol && p.timeCol == timeCol,
          s"key columns ($entityCol, $timeCol) != table's (${p.entityCol}, ${p.timeCol}) at $root")
      }
      if (batchId >= 0 && parent.exists(_.batchId == batchId))
        return parent.get.id // idempotent replay of an already-committed batch

      if (man == null) man = bucketStats(df, df0.columns.toSeq, timeCol)

      val parentFolded: Map[Int, (Long, Long, Long)] =
        parent.map(_.folded).getOrElse(Map.empty)
      val parentSlices: Map[Int, Seq[BucketManifest]] =
        parent.map(_.buckets.groupBy(_.bucket)).getOrElse(Map.empty)
      val newId = parent.map(_.id + 1).getOrElse(0L)

      // a bucket is unchanged only if digest AND row count AND watermark all
      // match the parent's folded manifest: bit_xor alone cancels pairs, so
      // adding two identical rows (exact duplicates are central to this
      // corpus) would otherwise leave the digest unchanged and silently drop
      // the new rows
      // tmin is deliberately OUTSIDE the equality (folded is (rows, wm,
      // digest)): a parent slice carried from a pre-tmin manifest would
      // otherwise never compare equal and the resume path would rewrite it
      // on every commit
      val changed = man.filter { case (k, (rows, wm, dg, _)) =>
        !parentFolded.get(k).contains((rows, wm, dg))
      }.keys.toSeq.sorted

      val stage = newStage(root, newId)
      if (changed.nonEmpty) {
        df.filter(col(BucketCol).isin(changed.map(Integer.valueOf): _*))
          .sortWithinPartitions(col(entityCol), col(timeCol))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
      }

      val newBuckets = man.toSeq.sortBy(_._1).flatMap { case (k, (rows, wm, dg, tmn)) =>
        if (changed.contains(k))
          Seq(BucketManifest(k, s"${stage.toString}/$BucketCol=$k", rows, wm, dg, tmn))
        else parentSlices(k)
      }
      // slices can disagree on schema only if some parent slice was CARRIED
      // (resume path) and either the parent already mixed or this commit
      // changed the column set; a full rewrite (changed == all) clears it
      val schemaChanged = parent.exists(p =>
        p.columns.nonEmpty && p.columns != df0.columns.sorted.toSeq)
      val mixed = changed.size < man.size &&
        (parent.exists(_.mixedSchema) || schemaChanged)
      publish(root, Snapshot(newId, parent.map(_.id).getOrElse(-1L),
        entityCol, timeCol, buckets, batchId, df0.columns.sorted.toSeq,
        newBuckets, mixed,
        df0.select(df0.columns.sorted.map(col): _*).schema.toDDL)) match {
        case Some(id) => return id
        case None     => attempt += 1 // lost the claim: re-read head, retry
      }
    }
    throw new IllegalStateException(
      s"commit lost the optimistic claim $MaxCommitAttempts times at $root " +
        "— a writer is committing faster than this one can retry")
  }

  /** APPEND `delta` as a new snapshot costing O(delta): only the delta is
    * scanned, hashed and written (one new slice per touched bucket); every
    * parent slice is carried over verbatim and the folded per-bucket
    * manifests update arithmetically (rows: +, watermark: max, digest: xor)
    * — byte-identical to what a full recompute over parent ∪ delta would
    * produce, because all three folds are associative and commutative.
    * This is the per-micro-batch path: `commit` re-hashes the entire table
    * per call, which is O(history) per append — the one shape that cannot
    * survive frequent appends at 100 TB.
    *
    * `batchId` (>= 0) makes the commit idempotent under at-least-once
    * replay: if the CURRENT snapshot already carries this batchId, the call
    * is a no-op returning the current id. Streaming batchIds are
    * monotonically increasing and only the last uncommitted batch is ever
    * replayed, so checking the current snapshot suffices.
    *
    * On an empty table this degenerates to [[commit]].
    *
    * `evolveSchema = true` permits ADDITIVE evolution: the delta may carry
    * new columns on top of every recorded one (Iceberg's add-column). The
    * manifest records the widened set; slices written before the evolution
    * read back with null in the new columns. Dropping or renaming a column
    * on APPEND stays an error either way — old slices are carried verbatim,
    * so a narrower delta would make the same column half-present.
    */
  def commitDelta(delta: DataFrame, root: String, entityCol: String,
      timeCol: String, buckets: Int = 16, batchId: Long = -1L,
      evolveSchema: Boolean = false): Long = {
    val df = delta.withColumn(BucketCol, bucketExpr(entityCol, buckets))
    // the delta's slices are PARENT-INDEPENDENT: scanned and staged at most
    // once, then reused verbatim across optimistic retries (only the
    // manifest's id/parent change when a concurrent writer wins a claim)
    var man: Map[Int, (Long, Long, Long, Long)] = null
    var deltaSlices: Seq[BucketManifest] = null
    def stageOnce(newIdHint: Long): Unit = if (man == null) {
      man = bucketStats(df, delta.columns.toSeq, timeCol)
      deltaSlices =
        if (man.isEmpty) Seq.empty
        else {
          val stage = newStage(root, newIdHint)
          df.sortWithinPartitions(col(entityCol), col(timeCol))
            .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
          man.toSeq.sortBy(_._1).map { case (k, (rows, wm, dg, tmn)) =>
            BucketManifest(k, s"${stage.toString}/$BucketCol=$k", rows, wm, dg, tmn)
          }
        }
    }
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      currentSnapshot(root) match {
        case None =>
          // empty table: try to create v0 holding exactly the delta. Losing
          // this claim means a concurrent writer created the table — the
          // next iteration takes the APPEND path against it (delegating to
          // commit here would retry with overwrite semantics and erase the
          // winner's rows)
          stageOnce(0L)
          publish(root, Snapshot(0L, -1L, entityCol, timeCol, buckets,
            batchId, delta.columns.sorted.toSeq, deltaSlices, false,
            delta.select(delta.columns.sorted.map(col): _*).schema.toDDL)) match {
            case Some(id) => return id
            case None     => attempt += 1
          }
        case Some(p) =>
          if (batchId >= 0 && p.batchId == batchId) return p.id
          require(p.nbuckets < 0 || p.nbuckets == buckets,
            s"bucket count $buckets != table's ${p.nbuckets} at $root")
          require(p.entityCol == entityCol && p.timeCol == timeCol,
            s"key columns ($entityCol, $timeCol) != table's (${p.entityCol}, ${p.timeCol})")
          val deltaCols = delta.columns.sorted.toSeq
          if (evolveSchema)
            require(p.columns.forall(deltaCols.contains),
              s"schema evolution on append is ADDITIVE only: delta $deltaCols " +
                s"is missing recorded columns ${p.columns.filterNot(deltaCols.contains)}")
          else
            require(p.columns.isEmpty || p.columns == deltaCols,
              s"delta schema $deltaCols != table's ${p.columns} " +
                "(pass evolveSchema = true to add columns)")
          requireTypesMatch(p, delta, "delta")
          stageOnce(p.id + 1)
          if (man.isEmpty) return p.id // empty delta: nothing to commit
          val cols = if (p.columns.isEmpty) p.columns else deltaCols
          val mixed = p.mixedSchema ||
            (p.columns.nonEmpty && p.columns != deltaCols)
          // legacy manifests (no recorded columns) keep their (empty) DDL;
          // otherwise the delta's — equal on a plain append, WIDENED under
          // evolution, which is exactly what mixed reads must pad to
          val ddl =
            if (p.columns.isEmpty) p.schemaDdl
            else delta.select(deltaCols.map(col): _*).schema.toDDL
          publish(root, Snapshot(p.id + 1, p.id, entityCol, timeCol, buckets,
            batchId, cols, p.buckets ++ deltaSlices, mixed, ddl)) match {
            case Some(id) => return id
            case None     => attempt += 1
          }
      }
    }
    throw new IllegalStateException(
      s"commitDelta lost the optimistic claim $MaxCommitAttempts times at " +
        s"$root — a writer is committing faster than this one can retry")
  }

  /** UPSERT `updates` by the table's (entity, time) key — Iceberg's MERGE
    * INTO shape, the feature-refresh operation of a point-in-time store:
    * every existing row whose key matches an update row is replaced, the
    * rest of the updates insert. Costs O(touched buckets + updates): only
    * the buckets the updates hash into are read, merged and rewritten
    * (each as ONE consolidated slice — an incidental compaction); every
    * other bucket's slices carry over verbatim. At 10^12 rows refreshing
    * one entity's features touches 1/nbuckets of the table.
    *
    * Deterministic delete-then-insert: ALL old rows matching some update
    * key are dropped, then ALL update rows are written — an `updates`
    * frame carrying several rows for one key keeps them all.
    */
  def commitUpsert(updates: DataFrame, root: String, entityCol: String,
      timeCol: String, buckets: Int = 16, batchId: Long = -1L): Long = {
    val spark = updates.sparkSession
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      currentSnapshot(root) match {
        case None =>
          // empty table: an upsert is just a first commit of the updates
          return commitDelta(updates, root, entityCol, timeCol, buckets, batchId)
        case Some(p) =>
          if (batchId >= 0 && p.batchId == batchId) return p.id
          // a MERGE is only correct against the table's own bucketing: a
          // legacy manifest without a recorded count cannot be upserted
          // (an append records the count, after which upserts work)
          require(p.nbuckets > 0,
            s"bucket count unrecorded at $root (pre-slice-format manifest): " +
              "one append records it, then upsert")
          require(p.nbuckets == buckets,
            s"bucket count $buckets != table's ${p.nbuckets} at $root")
          require(p.entityCol == entityCol && p.timeCol == timeCol,
            s"key columns ($entityCol, $timeCol) != table's (${p.entityCol}, ${p.timeCol})")
          require(p.columns.isEmpty || p.columns == updates.columns.sorted.toSeq,
            s"updates schema ${updates.columns.sorted.toSeq} != table's ${p.columns}")
          requireTypesMatch(p, updates, "updates")

          val df = updates.withColumn(BucketCol, bucketExpr(entityCol, buckets))
          // only the bucket IDS are needed up front (stats of what is
          // actually written come from the staged merge) — a distinct over
          // the bucket expression, not a full hash-digest aggregation
          val touched = df.select(col(BucketCol).as("b")).distinct()
            .collect().map { r =>
              if (r.isNullAt(0)) throw new IllegalArgumentException(
                "SnapshotTable: the entity column contains nulls — filter " +
                  "or recode null entities before upsert")
              r.getInt(0)
            }.toSet
          if (touched.isEmpty) return p.id
          val bySlices = p.buckets.groupBy(_.bucket)
          val oldSlices = touched.toSeq.sorted.flatMap(k => bySlices.getOrElse(k, Seq.empty))

          // merged content of the touched buckets: surviving old rows + all
          // updates (old side conformed so a pre-evolution slice can't drop
          // the union schema)
          val old = readSlices(spark, oldSlices, p.mixedSchema)
            .map(conform(_, p)).getOrElse(df.limit(0))
          val merged = old
            .join(df.select(col(entityCol), col(timeCol)).distinct(),
              Seq(entityCol, timeCol), "left_anti")
            .unionByName(df, allowMissingColumns = true)

          val stage = newStage(root, p.id + 1)
          merged.repartition(math.max(1, touched.size), col(BucketCol))
            .sortWithinPartitions(col(BucketCol), col(entityCol), col(timeCol))
            .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
          // stats of what was actually written (post-merge), one scan of the
          // already-staged parquet — never the untouched buckets
          val mergedStats = bucketStats(
            spark.read.parquet(stage.toString), updates.columns.toSeq, timeCol)

          val newBuckets = (bySlices.keySet ++ touched).toSeq.sorted.flatMap { k =>
            if (touched.contains(k))
              mergedStats.get(k).map { case (rows, wm, dg, tmn) =>
                BucketManifest(k, s"${stage.toString}/$BucketCol=$k", rows, wm, dg, tmn)
              }.toSeq
            else bySlices(k)
          }
          // touched buckets were rewritten on the full recorded schema
          // (conform) — only untouched ones can still hold old-schema slices
          val mixed = p.mixedSchema && bySlices.keySet.exists(!touched.contains(_))
          // a maintenance upsert (no batchId) must CARRY the parent's
          // streaming replay marker, like compact does — overwriting it
          // with -1 would let a crash-replayed micro-batch re-append
          val bid = if (batchId >= 0) batchId else p.batchId
          publish(root, Snapshot(p.id + 1, p.id, entityCol, timeCol, buckets,
            bid, p.columns, newBuckets, mixed, p.schemaDdl)) match {
            case Some(id) => return id
            case None     => attempt += 1 // merged vs a stale parent: redo
          }
      }
    }
    throw new IllegalStateException(
      s"commitUpsert lost the optimistic claim $MaxCommitAttempts times at $root")
  }

  /** DELETE every row of the given entities (the right-to-be-forgotten
    * shape: per-entity erasure, not per-row tombstones). Costs O(touched
    * buckets): only the buckets the keys hash into are read, filtered and
    * rewritten; a bucket left empty disappears from the manifest. Returns
    * the new snapshot id — the current one if no key had rows.
    *
    * Older snapshots still reference the pre-delete slices (time travel is
    * the point of snapshots); PHYSICAL erasure completes when
    * [[expireSnapshots]] reclaims every snapshot that predates the delete.
    */
  def commitDelete[T](spark: SparkSession, root: String, keys: Seq[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Long = {
    require(keys.nonEmpty && !keys.contains(null.asInstanceOf[T]),
      "commitDelete: keys must be a non-empty, null-free list")
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val p = currentSnapshot(root)
        .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
      require(p.nbuckets > 0,
        s"bucket count unrecorded at $root (pre-slice-format manifest): " +
          "one commit records it")
      val keyDf = spark.createDataset(keys).toDF(p.entityCol)
      // a mistyped key prunes the WRONG buckets and the delete silently
      // leaves the data in place — fail fast instead
      requireTypesMatch(p, keyDf, "delete key")
      val touched = keyDf
        .select(bucketExpr(p.entityCol, p.nbuckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val bySlices = p.buckets.groupBy(_.bucket)
      val oldSlices = touched.toSeq.sorted.flatMap(k => bySlices.getOrElse(k, Seq.empty))
      if (oldSlices.isEmpty) return p.id // keys hash only into empty buckets

      val kept = readSlices(spark, oldSlices, p.mixedSchema)
        .map(conform(_, p)).get
        .filter(!col(p.entityCol).isInCollection(keys))
      val stage = newStage(root, p.id + 1)
      kept.repartition(math.max(1, touched.size), col(BucketCol))
        .sortWithinPartitions(col(BucketCol), col(p.entityCol), col(p.timeCol))
        .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
      val dataCols =
        if (p.columns.nonEmpty) p.columns
        else kept.columns.filterNot(_ == BucketCol).toSeq
      val hasData = {
        // an all-rows-deleted stage has no bucket dirs to scan
        val st = Files.list(stage)
        try st.anyMatch(q => q.getFileName.toString.startsWith(s"$BucketCol="))
        finally st.close()
      }
      val keptStats =
        if (hasData)
          bucketStats(spark.read.parquet(stage.toString), dataCols, p.timeCol)
        else Map.empty[Int, (Long, Long, Long, Long)]

      val newBuckets = bySlices.keySet.toSeq.sorted.flatMap { k =>
        if (touched.contains(k))
          keptStats.get(k).map { case (rows, wm, dg, tmn) =>
            BucketManifest(k, s"${stage.toString}/$BucketCol=$k", rows, wm, dg, tmn)
          }.toSeq // empty bucket: gone from the manifest
        else bySlices(k)
      }
      val mixed = p.mixedSchema && bySlices.keySet.exists(!touched.contains(_))
      publish(root, Snapshot(p.id + 1, p.id, p.entityCol, p.timeCol,
        p.nbuckets, p.batchId, p.columns, newBuckets, mixed,
        p.schemaDdl)) match {
        case Some(id) => return id
        case None     => attempt += 1
      }
    }
    throw new IllegalStateException(
      s"commitDelete lost the optimistic claim $MaxCommitAttempts times at $root")
  }

  /** Compact buckets that have accumulated more than `maxSlices` slices
    * (the small-files cost of O(delta) appends — Iceberg's rewrite-data-
    * files maintenance): each such bucket's slices are read back, rewritten
    * as ONE sorted slice, and replaced in the manifest by a single entry
    * whose stats are the FOLD of the replaced ones (no re-hash — same rows,
    * same digest by xor-associativity). Buckets at or under the threshold
    * are untouched. Returns the new snapshot id, or the current one if
    * nothing needed compaction.
    */
  def compact(spark: SparkSession, root: String, maxSlices: Int = 8): Long = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val p = currentSnapshot(root)
        .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
      val bySlices = p.buckets.groupBy(_.bucket)
      val toCompact = bySlices.filter(_._2.size > maxSlices).keys.toSeq.sorted
      if (toCompact.isEmpty) return p.id

      val stage = newStage(root, p.id + 1)
      val folded = p.folded
      // ONE job for all compacted buckets (not a driver loop of per-bucket
      // jobs): one scan per stage dir the slices live in, one shuffle
      // hash-partitioned by bucket, one sorted file per bucket out of
      // partitionBy
      readSlices(spark, toCompact.flatMap(k => bySlices(k)), p.mixedSchema)
        .foreach { df =>
          df.repartition(toCompact.size, col(BucketCol))
            .sortWithinPartitions(col(BucketCol), col(p.entityCol), col(p.timeCol))
            .write.partitionBy(BucketCol).mode("overwrite").parquet(stage.toString)
        }
      val newBuckets = bySlices.toSeq.sortBy(_._1).flatMap { case (k, ss) =>
        if (toCompact.contains(k)) {
          val (rows, wm, dg) = folded(k)
          // tmin folds by min — a slice without a claim (MinValue) keeps
          // the compacted slice claim-free, same conservative semantics
          Seq(BucketManifest(k, s"${stage.toString}/$BucketCol=$k", rows, wm,
            dg, ss.map(_.tmin).min))
        } else ss
      }
      // batchId carries over: compaction must not defeat the replay-skip of
      // the delta commit it follows (a crash between them would otherwise
      // re-append the batch on restart). mixedSchema carries too —
      // UNCOMPACTED buckets may still hold pre-evolution slices (compacted
      // ones are rewritten under the merged schema)
      publish(root, Snapshot(p.id + 1, p.id, p.entityCol, p.timeCol,
        p.nbuckets, p.batchId, p.columns, newBuckets, p.mixedSchema,
        p.schemaDdl)) match {
        case Some(id) => return id
        case None     =>
          // a concurrent append landed between our read and claim: the
          // slice set changed, so the compaction plan is recomputed whole
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"compact lost the optimistic claim $MaxCommitAttempts times at $root")
  }

  /** The one scan every read and rewrite path opens data through. The
    * schema is inferred ONCE per call — one footer-reading job — and every
    * slice is then read with it plus [[BucketCol]] as an int:
    *  - `mixed` (from the snapshot's [[Snapshot.mixedSchema]]): slices
    *    written before an additive schema evolution lack the newer columns,
    *    so the schema is parquet's merge over every slice's footers, and an
    *    old slice reads null in the columns it lacks. The merge reads a
    *    footer per FILE, so it is paid only when the manifest says slices
    *    can actually disagree; otherwise one slice's footer gives the schema.
    *  - One multi-path scan per distinct STAGE dir, with the stage as
    *    `basePath`, so [[BucketCol]] comes from the slices' real
    *    `pbucket=k` directory names. A single `basePath` of `<root>/data`
    *    does not work: Spark rejects the paths of two stages as
    *    conflicting directory structures.
    * The union is as wide as the number of distinct stage dirs — one per
    * commit whose slices are still referenced — and regular [[compact]]
    * calls keep that near `maxSlices` + 1 however many appends accumulate.
    */
  private def readSlices(spark: SparkSession, slices: Seq[BucketManifest],
      mixed: Boolean = false): Option[DataFrame] = {
    val dirs = slices.filter(_.rows > 0).map(_.dir).distinct
    if (dirs.isEmpty) None
    else {
      val inferred =
        if (mixed) spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        else spark.read.parquet(dirs.head)
      val schema = inferred.schema
        .add(BucketCol, org.apache.spark.sql.types.IntegerType)
      Some(dirs.groupBy(d => Paths.get(d).getParent.toString).toSeq.sortBy(_._1)
        .map { case (stage, ds) =>
          spark.read.schema(schema).option("basePath", stage).parquet(ds: _*)
        }
        .reduce(_ union _))
    }
  }

  /** Pad `df` with any recorded column it lacks, as typed nulls — a
    * mixed-schema scan may have touched only pre-evolution slices (e.g. a
    * pruned point lookup into a bucket whose slices all predate the
    * evolution), leaving no slice to contribute the newer columns.
    */
  private def conform(df: DataFrame, snap: Snapshot): DataFrame =
    if (!snap.mixedSchema || snap.schemaDdl.isEmpty) df
    else {
      val have = df.columns.toSet
      org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl).fields
        .filterNot(f => have.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }

  /** Read the table at a snapshot (default: current). Reconstructs exactly
    * the committed content, including the bucket column.
    */
  def read(spark: SparkSession, root: String, id: Option[Long] = None): DataFrame = {
    val snap = id.map(snapshot(root, _)).orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    readSlices(spark, snap.buckets, snap.mixedSchema)
      .map(conform(_, snap))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Point-lookup read: opens ONLY the buckets that can hold `keys` —
    * O(|keys|/nbuckets) of the table's slices at any table size — then
    * filters to the exact keys (the filter pushes into the parquet scan,
    * so row-group stats prune within the touched slices too). At 10^12
    * rows a single-entity lookup reads 1/nbuckets of the data instead of
    * scanning the table; the bucket ids come from the same hash expression
    * commits use, evaluated in a tiny local job over the key list.
    *
    * `from`/`until` (inclusive, [[readRange]]'s semantics) additionally
    * skip slices whose [tmin, watermark] interval misses the window — the
    * point-in-time feature fetch ("these entities' events in this time
    * window") prunes on bucket AND interval simultaneously, so under
    * time-chunked ingestion it opens O(|keys|/nbuckets × window/history)
    * of the table's slices.
    */
  def readEntities[T](spark: SparkSession, root: String, keys: Seq[T],
      id: Option[Long] = None, from: Option[Long] = None,
      until: Option[Long] = None)(
      implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    require(keys.nonEmpty && !keys.contains(null.asInstanceOf[T]),
      "readEntities: keys must be a non-empty, null-free list")
    requireWindow("readEntities", from, until)
    val snap = id.map(snapshot(root, _)).orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    require(snap.nbuckets > 0,
      s"bucket count unrecorded at $root (pre-slice-format manifest): " +
        "one commit records it, or use read() with a filter")
    val keyDf = spark.createDataset(keys).toDF(snap.entityCol)
    // a mistyped key hashes to the WRONG bucket and silently returns
    // nothing (e.g. Long 5 vs the table's string "5") — fail fast instead
    requireTypesMatch(snap, keyDf, "lookup key")
    val wanted = keyDf
      .select(bucketExpr(snap.entityCol, snap.nbuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val keep = snap.buckets.filter(b =>
      wanted.contains(b.bucket) && sliceInWindow(b, from, until))
    readSlices(spark, keep, snap.mixedSchema)
      // keys may hash to buckets that never held rows: keep the schema
      .orElse(schemaOnly(spark, snap)) match {
      case Some(df) =>
        val pred = (Seq(col(snap.entityCol).isInCollection(keys)) ++
          windowPredicates(snap.timeCol, from, until)).reduce(_ && _)
        conform(df, snap).filter(pred)
      case None => spark.emptyDataFrame // empty table: no schema to give
    }
  }

  /** Can this slice's [tmin, watermark] stats interval intersect the
    * inclusive [from, until] window? The single definition both windowed
    * read paths ([[readEntities]], [[readRange]]) prune with — slices
    * making no tmin claim (legacy manifests, all-null-time slices) carry
    * tmin = Long.MinValue and are never skipped on the lower bound.
    */
  private def sliceInWindow(b: BucketManifest, from: Option[Long],
      until: Option[Long]): Boolean =
    from.forall(b.watermark >= _) && until.forall(b.tmin <= _)

  /** Residual row predicates enforcing the exact inclusive bounds inside
    * kept slices (they push into the parquet scan). Empty when unbounded.
    */
  private def windowPredicates(timeCol: String, from: Option[Long],
      until: Option[Long]): Seq[org.apache.spark.sql.Column] = {
    val tc = col(timeCol).cast("long")
    (from.map(tc >= _) ++ until.map(tc <= _)).toSeq
  }

  private def requireWindow(what: String, from: Option[Long],
      until: Option[Long]): Unit =
    from.zip(until).foreach { case (lo, hi) =>
      require(lo <= hi, s"$what: empty interval [$lo, $hi]")
    }

  /** Zero-row frame carrying the table's schema: from the recorded DDL
    * with zero I/O when available, else a zero-row read over the table's
    * slices (legacy manifests only). None when the table is empty AND
    * recorded no schema.
    */
  private def schemaOnly(spark: SparkSession, snap: Snapshot): Option[DataFrame] =
    if (snap.schemaDdl.nonEmpty) Some(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl)
        .add(BucketCol, org.apache.spark.sql.types.IntegerType)))
    else readSlices(spark, snap.buckets, snap.mixedSchema).map(_.limit(0))

  /** Time-range read (bounds inclusive, in the long unit the manifests
    * record): opens ONLY the slices whose stats interval [tmin, watermark]
    * intersects [from, until] — Iceberg's min/max file skipping, decided
    * entirely on the manifest with zero data/footer I/O for skipped
    * slices. A residual row predicate enforces the exact bounds inside
    * kept slices (and pushes into the parquet scan, so row-group stats
    * prune within them too). At 10^12 rows a narrow time window over an
    * append-per-interval history reads a handful of slices instead of the
    * table; time-bucketed ingestion (e.g. one [[commitDelta]] per hour)
    * makes the skip rate proportional to history length.
    *
    * Rows with a null event time never match a range (SQL comparison
    * semantics), and slices that make no tmin claim (legacy manifests,
    * all-null-time slices) are never skipped on the lower bound — pruning
    * degrades to a scan, correctness is unchanged.
    */
  def readRange(spark: SparkSession, root: String, from: Option[Long],
      until: Option[Long], id: Option[Long] = None): DataFrame = {
    require(from.nonEmpty || until.nonEmpty,
      "readRange: at least one bound (from/until) is required — use read() " +
        "for a full scan")
    requireWindow("readRange", from, until)
    val snap = id.map(snapshot(root, _)).orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    val keep = snap.buckets.filter(sliceInWindow(_, from, until))
    val pred = windowPredicates(snap.timeCol, from, until).reduce(_ && _)
    readSlices(spark, keep, snap.mixedSchema)
      .orElse(schemaOnly(spark, snap))
      .map(df => conform(df, snap).filter(pred))
      .getOrElse(spark.emptyDataFrame) // empty table: no schema to give
  }

  /** Read ONLY the rows appended between `fromId` (exclusive) and `toId`
    * (inclusive, default current): the slices present in `to` but not in
    * `from` — an O(delta) incremental read straight off the manifests, the
    * consumer-side twin of [[commitDelta]] (no diffing of data files, no
    * full-table scan). Compaction rewrites slice identities, so the `from`
    * snapshot must predate any compaction between the two ids (enforced:
    * every `from` slice must still be present in `to`).
    */
  def readIncremental(spark: SparkSession, root: String, fromId: Long,
      toId: Option[Long] = None): DataFrame = {
    val from = snapshot(root, fromId)
    val to = toId.map(snapshot(root, _)).orElse(currentSnapshot(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    val fromDirs = from.buckets.map(_.dir).toSet
    require(fromDirs.subsetOf(to.buckets.map(_.dir).toSet),
      s"snapshot $fromId's slices were compacted away after id ${from.id}; " +
        "incremental read is only valid across append-only history")
    readSlices(spark, to.buckets.filterNot(b => fromDirs.contains(b.dir)),
        to.mixedSchema)
      .map(conform(_, to))
      .getOrElse(read(spark, root, Some(to.id)).limit(0))
  }

  /** Expire snapshots with id < `keepFrom`: delete their manifest files and
    * every data directory no surviving snapshot references (Iceberg's
    * expire_snapshots maintenance). Time travel to expired ids stops
    * working; the CURRENT snapshot and everything it references are always
    * kept. Returns (manifests deleted, data dirs deleted).
    */
  def expireSnapshots(root: String, keepFrom: Long): (Int, Int) = {
    val snapsDir = Paths.get(root, "snapshots")
    if (!Files.exists(snapsDir)) return (0, 0)
    val all = {
      val stream = Files.list(snapsDir)
      try stream.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.json"))
        .map(p => fromJson(Files.readString(p))).toSeq
      finally stream.close()
    }
    val cur = currentId(root).getOrElse(-1L)
    val bound = math.min(keepFrom, cur) // never expire CURRENT
    val (dead, alive) = all.partition(_.id < bound)
    val referenced = alive.flatMap(_.buckets.map(_.dir)).toSet
    // a slice dir is <stage>/pbucket=k; reclaim whole stage dirs only when
    // NO slice under them is referenced by a surviving snapshot. Compare by
    // path PARENT, not string prefix: stage "s3_1" is a string prefix of
    // "s3_10/pbucket=0", and prefix matching would retain s3_1 forever
    // (silent over-retention, never data loss — but still a leak)
    val referencedStages = referenced.map(r => Paths.get(r).getParent)
    val deadStageDirs = dead.flatMap(_.buckets.map(b => Paths.get(b.dir).getParent))
      .distinct
      .filterNot(referencedStages.contains)
    deadStageDirs.foreach { stage =>
      if (Files.exists(stage)) {
        val walk = Files.walk(stage)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    dead.foreach(s => Files.deleteIfExists(snapsDir.resolve(s"v${s.id}.json")))
    (dead.size, deadStageDirs.size)
  }

  /** Reclaim ORPHANS: stage directories no manifest references (a lost
    * optimistic retry or a killed writer stages data that never publishes)
    * and leftover `*.tmp` manifest files — Iceberg's remove-orphan-files
    * maintenance, complementing [[expireSnapshots]] (which only reclaims
    * stages referenced by DEAD snapshots). Age-gated by file modification
    * time: an in-flight writer's freshly-staged dir is also unreferenced
    * until its publish, so anything younger than `olderThanMs` is kept
    * (pick an age beyond any plausible commit duration). Returns (stage
    * dirs deleted, tmp files deleted).
    */
  def removeOrphans(root: String,
      olderThanMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val snapsDir = Paths.get(root, "snapshots")
    val dataDir = Paths.get(root, "data")
    val referenced: Set[Path] =
      if (!Files.exists(snapsDir)) Set.empty
      else {
        val st = Files.list(snapsDir)
        try st.iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.json"))
          .flatMap(p => fromJson(Files.readString(p)).buckets
            .map(b => Paths.get(b.dir).getParent))
          .toSet
        finally st.close()
      }
    var stages = 0
    if (Files.exists(dataDir)) {
      val st = Files.list(dataDir)
      val candidates =
        try st.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        finally st.close()
      candidates
        .filterNot(referenced.contains)
        .filter(d => Files.getLastModifiedTime(d).toMillis < cutoff)
        .foreach { d =>
          val walk = Files.walk(d)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p): Unit)
          finally walk.close()
          stages += 1
        }
    }
    var tmps = 0
    if (Files.exists(snapsDir)) {
      val st = Files.list(snapsDir)
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .foreach { p => Files.deleteIfExists(p); tmps += 1 }
      finally st.close()
    }
    (stages, tmps)
  }

  /** Per-partition lineage across ALL snapshots as a queryable DataFrame
    * (snapshot_id, parent_id, bucket, dir, rows, watermark, digest, tmin,
    * is_current) — the "work table over table metadata" surface (SURVEY.md
    * §2.1 S9): incremental jobs diff `rows`/`digest` between snapshot ids to
    * find what changed without touching data files; `[tmin, watermark]` is
    * the slice interval [[readRange]] skips on.
    */
  def lineage(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentId(root)
    val snapsDir = Paths.get(root, "snapshots")
    val snaps =
      if (!Files.exists(snapsDir)) Seq.empty[Snapshot]
      else {
        val stream = Files.list(snapsDir)
        try stream.iterator().asScala
          .filter(_.getFileName.toString.matches("v\\d+\\.json"))
          .map(p => fromJson(Files.readString(p))).toSeq
        finally stream.close()
      }
    snaps.sortBy(_.id)
      .flatMap(s => s.buckets.map(b => (s.id, s.parent, b.bucket, b.dir,
        b.rows, b.watermark, b.digest, b.tmin, cur.contains(s.id))))
      .toDF("snapshot_id", "parent_id", "bucket", "dir", "rows", "watermark",
        "digest", "tmin", "is_current")
  }

  /** Global watermark of a snapshot = min over buckets of each bucket's
    * FOLDED (max-over-slices) watermark — all buckets complete up to at
    * least this event time. None when the table has no snapshot OR the
    * snapshot is empty (a commit of zero rows is legal — e.g. an empty
    * first micro-batch — and an empty table makes no completeness claim).
    */
  def watermark(root: String, id: Option[Long] = None): Option[Long] = {
    val snap = id.map(snapshot(root, _)).orElse(currentSnapshot(root))
    snap.filter(_.buckets.nonEmpty).map(_.folded.values.map(_._2).min)
  }
}
