package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Corpus
import graft.features.FeaturePipeline
import graft.multimodal.Multimodal
import graft.operators.AsOf

/** Queries over the synthesized image+caption corpus (the `input_hint`
  * table), exercising the engine's flagship path and the multimodal binary
  * plumbing.
  *
  * Oracle strategy (mirrors the reference's cross-implementation
  * replication discipline, `code/crossvalidate.R:31-43`): the synthesized
  * INPUT tables (events minus payload bytes, probes, dim, entity dim) are
  * dumped once to parquet under a fixed path, and the flagship outputs —
  * scalar+temporal feature vectors and the as-of attach — are recomputed
  * START-TO-FINISH in DuckDB SQL over those dumps (window functions, list
  * lambdas for token features, ASOF LEFT JOIN). Only the hash-based
  * signatures (xxhash64) and the binary codec remain ScalaTest-only.
  */
object QueriesCorpus {

  private val P = Corpus.Params(rows = 2000L, entities = 20)

  /** Absolute dump path under [[Dumps.Root]] — referenced literally by the
    * oracle SQL. */
  private val D = s"${Dumps.Root}/graft_corpus"

  @volatile private var dumped = false

  /** Dump the synthesized input tables once per JVM (idempotent overwrite).
    * Every corpus query calls this so the oracle SQL (run by the driver
    * AFTER the Spark outputs are written) always finds the tables.
    */
  private def ensureDump(s: SparkSession): Unit = synchronized {
    if (!dumped) {
      Corpus.events(s, P).drop("bytes")
        .coalesce(1).write.mode("overwrite").parquet(s"$D/events.parquet")
      Corpus.probes(s, P)
        .coalesce(1).write.mode("overwrite").parquet(s"$D/probes.parquet")
      Corpus.dimFeatures(s, P.seed)
        .coalesce(1).write.mode("overwrite").parquet(s"$D/dim.parquet")
      FeaturePipeline.entityDim(s, P.entities)
        .coalesce(1).write.mode("overwrite").parquet(s"$D/entdim.parquet")
      phashTable(s)
        .coalesce(1).write.mode("overwrite").parquet(s"$D/phash.parquet")
      dumped = true
    }
  }

  /** Image-dedup fixture: the corpus phashes plus deterministically planted
    * near-duplicate variants (every 40th image re-appears with 1 signature
    * bit flipped, every 120th with 3) — random 64-bit phashes alone have no
    * hamming<=3 pairs to find.
    */
  private def phashTable(s: SparkSession): DataFrame = {
    val base = Corpus.events(s, P).select(col("seq").as("pid"), col("phash"))
    // shiftleft(Column, Column) has no Scala overload — SQL expr form
    val b1 = expr("shiftleft(1L, cast(pid % 61 as int))")
    val b2 = expr("shiftleft(1L, cast((pid div 7) % 59 + 1 as int))")
    val b3 = expr("shiftleft(1L, cast((pid div 11) % 53 + 2 as int))")
    val flips = base.where(col("pid") % 40 === 0)
      .select((col("pid") + 1000000L).as("pid"),
        when(col("pid") % 120 === 0,
          col("phash").bitwiseXOR(b1).bitwiseXOR(b2).bitwiseXOR(b3))
          .otherwise(col("phash").bitwiseXOR(b1)).as("phash"))
    base.union(flips)
  }

  private def events5(s: SparkSession): DataFrame =
    Corpus.events(s, P).select("entity_id", "event_ms", "seq", "phash", "caption")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // flagship: per-entity×timestamp feature vectors attached to as-of probes
    "corpus_flagship_asof" -> ((s, _) => { ensureDump(s); FeaturePipeline.flagship(s, P) }),

    // the raw feature-vector table itself — via the SKEW-SAFE variant, so the
    // scale path (two-phase prefix-scan windows) gets the cross-engine oracle
    "corpus_feature_vectors" -> ((s, _) => {
      ensureDump(s)
      val ev = Corpus.events(s, P)
      FeaturePipeline.featuresSkewSafe(ev, Corpus.dimFeatures(s, P.seed),
        FeaturePipeline.entityDim(s, P.entities))
        .drop("event_time")
    }),

    // multimodal: decode + pixel stats + phash recompute check per fmt.
    // Oracle discipline (same as the hash-signature dumps): the DECODE is
    // engine-local (typed mapPartitions over the codec, ScalaTest-verified
    // against Codec/Phash goldens incl. PSNR bounds) and its per-image
    // stats are dumped; DuckDB replays the relational aggregation —
    // grouping, counts, rounding conventions, the phash-match tally
    "mm_decode_stats" -> ((s, _) => {
      val stats = Multimodal.decodeStats(Corpus.images(s, P)).toDF()
      Dumps.write(stats, "decode_stats")
      stats.groupBy(col("fmt"))
        .agg(count(lit(1)).as("n"),
          // px_mean is a 4dp-grid per-image value; its cross-partition avg is
          // an order-sensitive double sum, so it takes the house non-grid
          // epsilon (FeaturePipeline convention) before the 4dp round
          round(avg(col("px_mean")) + 1.7e-8, 4).as("avg_px_mean"),
          sum(when(col("phash_matches"), 1L).otherwise(0L)).as("n_phash_ok"))
    }),

    // multimodal: thumbnail extraction (binary out), summarized. The summary
    // shape (one row per image, 8x8 target, 65-byte raw payload = tw*th+1
    // magic header) is fully deterministic, so it gets a DuckDB oracle over
    // the dumped event table; the thumb BYTES are ScalaTest-verified against
    // the codec (box-filter golden values) — the honest stub boundary
    "mm_thumbnails" -> ((s, _) => {
      ensureDump(s)
      Multimodal.thumbnails(Corpus.images(s, P)).toDF()
        .select(col("image_id"), col("tw"), col("th"),
          length(col("thumb")).as("thumb_bytes"))
    }),

    // multimodal: frame sampling (flatMap one-to-many plumbing). Per-frame
    // stats dumped; DuckDB replays the per-image regrouping AND the frame
    // cadence (n_frames must equal ceil(h / 4) from the event table — the
    // one-to-many fan-out is cross-checked, not just copied)
    "mm_frame_sample" -> ((s, _) => {
      ensureDump(s)
      val frames = Multimodal.frameSample(Corpus.images(s, P), everyK = 4).toDF()
      Dumps.write(frames, "frame_stats")
      frames.groupBy(col("image_id")).agg(count(lit(1)).as("n_frames"),
        round(avg(col("px_mean")) + 1.7e-8, 4).as("mean_frame_px"))
    }),

    // training-data image quality gate: resolution / aspect / fmt /
    // payload-corruption / caption rules as one shuffle-free CASE map.
    // Corruption is PLANTED (every 19th image loses its last payload byte)
    // so the length-based detector has something real to catch; the oracle
    // replays the plant arithmetically (seq % 19) — the cross-engine check
    // pins that the byte-length rule fires exactly on the planted pattern
    "mm_quality_gate" -> ((s, _) => {
      ensureDump(s)
      val planted = Corpus.events(s, P).withColumn("bytes",
        when(col("seq") % 19 === 0,
          expr("substring(bytes, 1, cast(length(bytes) - 1 as int))"))
          .otherwise(col("bytes")))
      val gated = Multimodal.qualityGate(planted, Corpus.Stopwords,
        expectedByteLen = Some(col("w").cast("long") * col("h") + 1))
      gated.groupBy(coalesce(col("reject_reason"), lit("pass")).as("outcome"),
          col("fmt"))
        .agg(count(lit(1)).as("n"),
          round(avg(graft.functions.Text.tokenCount(col("caption"))
            .cast("double")) + 1.7e-8, 4).as("avg_tokens"))
    }),

    // corpus as-of against the probe matrix (edge cases incl. before-first)
    "corpus_probe_asof" -> ((s, _) => {
      ensureDump(s)
      AsOf.join(Corpus.probes(s, P), events5(s), "entity_id", "probe_ms",
        "event_ms", tie = Some("seq"))
    }),

    // same probe matrix through the SKEW-SAFE as-of (bucketed merge) — same
    // oracle, so the scale variant is cross-engine-verified too
    "corpus_probe_asof_skew" -> ((s, _) => {
      ensureDump(s)
      AsOf.joinSkewSafe(Corpus.probes(s, P), events5(s), "entity_id",
        "probe_ms", "event_ms", tie = Some("seq"))
    }),

    // incremental feature maintenance under the cross-engine gate: features
    // for the second half of the corpus computed ONLY from the compact
    // per-entity state of the first half (historical feature table never
    // read) — the oracle recomputes the FULL corpus start-to-finish in
    // DuckDB and filters to the slice, so any carry error shows as a hash
    // mismatch
    "corpus_feature_increment" -> ((s, _) => {
      ensureDump(s)
      val ev = Corpus.events(s, P)
      val dim = Corpus.dimFeatures(s, P.seed)
      val ed = FeaturePipeline.entityDim(s, P.entities)
      val split = P.rows / 2
      val state = FeaturePipeline.featureState(
        FeaturePipeline.features(ev.where(col("seq") < split), dim, ed))
      FeaturePipeline.featuresIncremental(state,
        ev.where(col("seq") >= split), dim, ed)
    }),

    // the STREAMING as-of twin under the cross-engine gate: real Structured
    // Streaming execution (AvailableNow over bounded file streams, sentinel
    // rows advancing both watermarks) resolved by flatMapGroupsWithState,
    // compared against DuckDB's native ASOF LEFT JOIN — same oracle family
    // as corpus_probe_asof
    "corpus_stream_asof" -> ((s, _) => {
      ensureDump(s)
      val ev5 = events5(s).withColumn("event_time", timestamp_millis(col("event_ms")))
      val pr = Corpus.probes(s, P)
      val maxTs = P.baseMs + 10L * 365 * 86400000L // far beyond any corpus ts
      val evDir = java.nio.file.Files.createTempDirectory("graft-sasof-ev").toString
      val prDir = java.nio.file.Files.createTempDirectory("graft-sasof-pr").toString
      val sentinelEv = s.range(1).select(lit("zz_sentinel").as("entity_id"),
        lit(maxTs).as("event_ms"), lit(0L).as("seq"), lit(0L).as("phash"),
        lit("s").as("caption"), timestamp_millis(lit(maxTs)).as("event_time"))
      val sentinelPr = s.range(1).select(lit("zz_sentinel").as("entity_id"),
        lit(maxTs).as("probe_ms"), timestamp_millis(lit(maxTs)).as("probe_time"))
      ev5.unionByName(sentinelEv).coalesce(1).write.mode("overwrite").parquet(evDir)
      pr.unionByName(sentinelPr).coalesce(1).write.mode("overwrite").parquet(prDir)
      val out = graft.streaming.StreamOps.asofAttach(
        s.readStream.schema(ev5.schema).parquet(evDir),
        s.readStream.schema(pr.schema).parquet(prDir),
        watermark = "0 seconds")
      graft.streaming.StreamOps.runToMemory(out.toDF(), "graft_stream_asof")
      s.table("graft_stream_asof").where(col("entity_id") =!= "zz_sentinel")
    }),

    // image near-dup dedup: phash hamming<=3 pairs via 16-bit-chunk bucket
    // blocking — DuckDB oracle replays the full operator semantics (chunk
    // keys, hot-bucket guard, pair dedup) over the dumped signature table
    "dd_phash_neardup" -> ((s, _) => {
      ensureDump(s)
      graft.operators.Dedup.hammingPairs(
        s.read.parquet(s"$D/phash.parquet"), "pid", "phash", maxHamming = 3)
    })
  )

  /** 30 stopwords as a DuckDB list literal (kept in sync with Corpus.Stopwords). */
  private val sw: String =
    Corpus.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The full flagship feature computation as DuckDB CTEs ending in `feats`.
    * Mirrors FeaturePipeline.scalarFeatures + features exactly: token stats
    * via list lambdas, dim lookups via an explode + left join + re-agg,
    * temporal features via window functions over (entity_id; event_ms, seq).
    * Epsilon-rounding (+1.7e-8) on the two order-sensitive double sums matches
    * the Spark side (see FeaturePipeline).
    */
  private val featsSql: String =
    s"""WITH ev AS (SELECT * FROM read_parquet('$D/events.parquet/*.parquet')),
       |ed AS (SELECT * FROM read_parquet('$D/entdim.parquet/*.parquet')),
       |dimt AS (SELECT * FROM read_parquet('$D/dim.parquet/*.parquet')),
       |base AS (
       |  SELECT ev.image_id, ev.w, ev.h, ev.phash, ev.entity_id, ev.event_ms,
       |         ev.seq, ev.caption, ed.topic,
       |         list_filter(string_split_regex(trim(ev.caption), '\\s+'), x -> x <> '') AS tk
       |  FROM ev LEFT JOIN ed USING (entity_id)),
       |tokrows AS (SELECT image_id, topic, unnest(tk) AS token FROM base),
       |dimagg AS (
       |  SELECT t.image_id, count(d.rank) AS dm, min(d.rank) AS dmr,
       |         coalesce(sum(d.score), 0.0) AS dss
       |  FROM tokrows t LEFT JOIN dimt d ON d.topic = t.topic AND d.token = t.token
       |  GROUP BY t.image_id),
       |qual AS (
       |  SELECT b.*,
       |    CASE WHEN len(b.tk) > 0 THEN
       |      CAST(len(list_filter(b.tk, x -> list_contains($sw, x))) AS DOUBLE) / len(b.tk)
       |      ELSE 0.0 END AS swr,
       |    least(CAST(len(b.tk) AS DOUBLE) / 8.0, 1.0) AS len_score,
       |    CASE WHEN length(b.caption) > 0 THEN
       |      CAST(length(regexp_replace(b.caption, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |        / length(b.caption) ELSE 0.0 END AS punct
       |  FROM base b),
       |scal AS (
       |  SELECT q.image_id, q.w, q.h, q.phash, q.entity_id, q.event_ms, q.seq, q.topic,
       |    CAST(len(q.tk) AS BIGINT) AS token_count,
       |    CAST(length(q.caption) AS BIGINT) AS caption_len,
       |    round(q.swr, 6) AS stopword_ratio,
       |    round(greatest(0.0, least(1.0,
       |      q.len_score * 0.4 + (1.0 - q.punct) * 0.3
       |        + (1.0 - abs(q.swr - 0.35) / 0.65) * 0.3)), 6) AS quality,
       |    CAST(coalesce(da.dm, 0) AS BIGINT) AS dim_matched,
       |    CAST(da.dmr AS INTEGER) AS dim_min_rank,
       |    round(coalesce(da.dss, 0.0) + 1.7e-8, 6) AS dim_score_sum
       |  FROM qual q LEFT JOIN dimagg da USING (image_id)),
       |scal2 AS (
       |  SELECT s.*, CASE WHEN s.token_count >= 6 THEN s.quality END AS sparse_quality
       |  FROM scal s),
       |lagf AS (
       |  SELECT s.*,
       |    s.event_ms - lag(s.event_ms) OVER w AS dt_prev_ms,
       |    CAST(bit_count(xor(s.phash, lag(s.phash) OVER w)) AS INTEGER) AS phash_prev_hamming,
       |    row_number() OVER w AS rn
       |  FROM scal2 s WINDOW w AS (PARTITION BY s.entity_id ORDER BY s.event_ms, s.seq)),
       |sessf AS (
       |  SELECT l.*, CASE WHEN l.dt_prev_ms IS NULL OR l.dt_prev_ms > 1800000
       |    THEN 1 ELSE 0 END AS newsess
       |  FROM lagf l),
       |feats AS (
       |  SELECT f.image_id, f.w, f.h, f.phash, f.entity_id, f.event_ms, f.seq,
       |    f.topic, f.token_count, f.caption_len, f.stopword_ratio, f.quality,
       |    f.dim_matched, f.dim_min_rank, f.dim_score_sum, f.sparse_quality,
       |    f.dt_prev_ms, f.phash_prev_hamming,
       |    CAST(sum(f.newsess) OVER wr - 1 AS BIGINT) AS session_idx,
       |    CAST(f.rn - last_value(CASE WHEN f.newsess = 1 THEN f.rn END IGNORE NULLS)
       |      OVER wr AS INTEGER) AS session_pos,
       |    last_value(f.sparse_quality IGNORE NULLS) OVER wr AS quality_filled,
       |    round(avg(f.quality) OVER wr + 1.7e-8, 6) AS running_quality_mean
       |  FROM sessf f WINDOW wr AS (PARTITION BY f.entity_id
       |    ORDER BY f.event_ms, f.seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |""".stripMargin

  /** As-of oracle over raw events: DuckDB's native ASOF LEFT JOIN, with the
    * engine's tie rule (greatest seq wins at equal event_ms) applied by
    * pre-deduping to the max-seq row per (entity, event_ms).
    */
  private val probeAsofSql: String =
    s"""WITH evd AS (
       |  SELECT entity_id, event_ms, seq, phash, caption,
       |    row_number() OVER (PARTITION BY entity_id, event_ms ORDER BY seq DESC) AS mrn
       |  FROM read_parquet('$D/events.parquet/*.parquet')),
       |ev1 AS (SELECT entity_id, event_ms, seq, phash, caption FROM evd WHERE mrn = 1),
       |p AS (SELECT * FROM read_parquet('$D/probes.parquet/*.parquet'))
       |SELECT p.entity_id, p.probe_ms, p.probe_time,
       |  e.event_ms AS asof_time, e.seq AS asof_seq, e.phash AS asof_phash,
       |  e.caption AS asof_caption
       |FROM p ASOF LEFT JOIN ev1 e
       |  ON p.entity_id = e.entity_id AND p.probe_ms >= e.event_ms""".stripMargin

  val oracle: Map[String, String] = Map(
    // mirrors hammingPairs' FULL semantics cross-engine, including the
    // maxBucket hot-chunk guard (the synthesized low-res phashes cluster
    // heavily — 93k natural hamming-3 pairs in 2050 rows — so the guard is
    // actually exercised; lossless recall on guard-free corpora is proven
    // separately by the simhash exhaustive-pairs spec)
    "dd_phash_neardup" ->
      s"""WITH t AS (SELECT * FROM read_parquet('$D/phash.parquet/*.parquet')),
         |c AS (SELECT pid, phash, unnest([0,1,2,3]) AS ch FROM t),
         |k AS (SELECT pid, phash, ch, (phash >> (ch*16)) & 65535 AS key FROM c),
         |hot AS (SELECT ch, key FROM k GROUP BY 1,2 HAVING count(*) > 256),
         |kept AS (SELECT k.* FROM k ANTI JOIN hot USING (ch, key)),
         |p AS (SELECT a.pid AS id_a, b.pid AS id_b,
         |        min(bit_count(xor(a.phash, b.phash))) AS h
         |      FROM kept a JOIN kept b
         |        ON a.ch = b.ch AND a.key = b.key AND a.pid < b.pid
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(h AS BIGINT) AS hamming FROM p
         |WHERE h <= 3""".stripMargin,
    "corpus_feature_vectors" -> (featsSql + "SELECT * FROM feats"),
    "corpus_feature_increment" ->
      (featsSql + s"SELECT * FROM feats WHERE seq >= ${P.rows / 2}"),
    "mm_decode_stats" ->
      s"""SELECT fmt, count(*) AS n, round(avg(px_mean) + 1.7e-8, 4) AS avg_px_mean,
         |  CAST(sum(CASE WHEN phash_matches THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_ok
         |FROM read_parquet('${Dumps.Dir}/decode_stats.parquet/*.parquet')
         |GROUP BY 1""".stripMargin,
    // n_frames comes from the EVENT table (ceil(h/4)), not the dump — a
    // wrong fan-out in the Spark flatMap shows as a count mismatch
    "mm_frame_sample" ->
      s"""SELECT f.image_id, CAST((ev.h + 3) // 4 AS BIGINT) AS n_frames,
         |  round(avg(f.px_mean) + 1.7e-8, 4) AS mean_frame_px
         |FROM read_parquet('${Dumps.Dir}/frame_stats.parquet/*.parquet') f
         |JOIN read_parquet('$D/events.parquet/*.parquet') ev
         |  ON ev.image_id = f.image_id
         |GROUP BY 1, ev.h""".stripMargin,
    "mm_thumbnails" ->
      s"""SELECT image_id, 8 AS tw, 8 AS th, 8*8 + 1 AS thumb_bytes
         |FROM read_parquet('$D/events.parquet/*.parquet')""".stripMargin,
    // the corrupt branch replays the plant (seq % 19) rather than reading
    // byte lengths — the dump carries no payloads; rule ORDER must match
    // Multimodal.qualityGate exactly (first failing rule wins)
    "mm_quality_gate" ->
      s"""WITH t AS (SELECT *,
         |    list_filter(string_split_regex(trim(caption), '\\s+'), x -> x <> '') AS tk
         |  FROM read_parquet('$D/events.parquet/*.parquet')),
         |g AS (SELECT fmt, tk,
         |  CASE WHEN w IS NULL OR h IS NULL OR fmt IS NULL OR caption IS NULL
         |         THEN 'missing_field'
         |       WHEN w * h < 128 THEN 'too_small'
         |       WHEN greatest(CAST(w AS DOUBLE) / h, CAST(h AS DOUBLE) / w) > 1.5
         |         THEN 'bad_aspect'
         |       WHEN fmt NOT IN ('raw', 'lq') THEN 'bad_fmt'
         |       WHEN seq % 19 = 0 THEN 'corrupt'
         |       WHEN len(tk) < 3 THEN 'caption_short'
         |       WHEN (CASE WHEN len(tk) > 0 THEN
         |           CAST(len(list_filter(tk, x -> list_contains($sw, x))) AS DOUBLE)
         |             / len(tk) ELSE 0.0 END) > 0.7 THEN 'caption_stopwordy'
         |       ELSE 'pass' END AS outcome
         |  FROM t)
         |SELECT outcome, fmt, count(*) AS n,
         |  round(avg(CAST(len(tk) AS DOUBLE)) + 1.7e-8, 4) AS avg_tokens
         |FROM g GROUP BY 1, 2""".stripMargin,
    "corpus_probe_asof" -> probeAsofSql,
    "corpus_probe_asof_skew" -> probeAsofSql,
    // streaming variant emits (entity, probe_ms) + attached event columns
    // (no probe_time timestamp in the typed output)
    "corpus_stream_asof" ->
      s"""WITH evd AS (
         |  SELECT entity_id, event_ms, seq, phash, caption,
         |    row_number() OVER (PARTITION BY entity_id, event_ms ORDER BY seq DESC) AS mrn
         |  FROM read_parquet('$D/events.parquet/*.parquet')),
         |ev1 AS (SELECT entity_id, event_ms, seq, phash, caption FROM evd WHERE mrn = 1),
         |p AS (SELECT * FROM read_parquet('$D/probes.parquet/*.parquet'))
         |SELECT p.entity_id, p.probe_ms,
         |  e.event_ms AS asof_time, e.seq AS asof_seq, e.phash AS asof_phash,
         |  e.caption AS asof_caption
         |FROM p ASOF LEFT JOIN ev1 e
         |  ON p.entity_id = e.entity_id AND p.probe_ms >= e.event_ms""".stripMargin,
    "corpus_flagship_asof" ->
      (featsSql +
        s""", evd AS (
           |  SELECT f.*, row_number() OVER (PARTITION BY f.entity_id, f.event_ms
           |    ORDER BY f.seq DESC) AS mrn
           |  FROM feats f),
           |ev1 AS (SELECT * FROM evd WHERE mrn = 1),
           |p AS (SELECT * FROM read_parquet('$D/probes.parquet/*.parquet'))
           |SELECT p.entity_id, p.probe_ms, p.probe_time,
           |  e.event_ms AS asof_time, e.seq AS asof_seq, e.image_id AS asof_image_id,
           |  e.token_count AS asof_token_count, e.quality AS asof_quality,
           |  e.phash_prev_hamming AS asof_phash_prev_hamming,
           |  e.session_idx AS asof_session_idx, e.session_pos AS asof_session_pos,
           |  e.quality_filled AS asof_quality_filled,
           |  e.running_quality_mean AS asof_running_quality_mean,
           |  e.dim_matched AS asof_dim_matched, e.dim_score_sum AS asof_dim_score_sum
           |FROM p ASOF LEFT JOIN ev1 e
           |  ON p.entity_id = e.entity_id AND p.probe_ms >= e.event_ms""".stripMargin)
  )
}
