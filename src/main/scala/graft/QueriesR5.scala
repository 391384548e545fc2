package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Caches, Curation, Quality, Sampling}
import graft.SfTables.{load => t}

/** Round-5 additions: the heuristic + model-based quality-filtering layer
  * of the modern curation stack.
  *
  * `txt_quality_classifier` — the classifier gate (GPT-3 app. A LR filter,
  * CCNet fastText gate, DCLM/FineWeb-Edu quality classifiers): trains the
  * NB log-count-ratio model ON the documents corpus from a deterministic
  * weak label (verbosity: token count > 40 — splits every test scale ~2:1)
  * and scores every document. DuckDB replays TRAINING AND INFERENCE end to
  * end from integer counts: tokens and the weak label are recomputed in
  * SQL, bucketing comes from the dumped vocab-sized (term, bucket) map
  * (DuckDB cannot xxhash64 — the [[Dumps]] discipline), and the 1e-6
  * fixed-point weight quantization makes every per-document sum an exact
  * BIGINT fold on both engines.
  *
  * `txt_c4_clean` / `txt_gopher_gate` / `txt_pii_redact` — the rule-based
  * gates ([[Curation]]). The synthetic documents are single-line,
  * punctuation-free word salad, so where a rule needs structure to bite
  * the query PLANTS it deterministically (the `mm_quality_gate`
  * discipline): C4 gets line breaks + terminal periods by rewriting two
  * frequent corpus words into boundaries, plus lorem-ipsum / brace pages
  * on fixed doc_id residues; PII gets emails / phones / IPs appended on
  * fixed residues. The oracle replays every plant with the same string
  * algebra, so the cross-engine check pins that each rule fires exactly
  * on the planted pattern.
  */
object QueriesR5 {

  private val Dim = 4096
  private val LabelMinTokens = 40

  /** C4 plant: ' table ' → '.\n' (the PREVIOUS line gains a terminal
    * period), ' value ' → '\n' (an unpunctuated boundary), and whole-page
    * poison lines on fixed residues.
    */
  private def c4Planted: Column = {
    val base = regexp_replace(
      regexp_replace(col("text"), " table ", ".\n"), " value ", "\n")
    concat(base,
      when(col("doc_id") % 17 === 0,
        lit("\nthis page contains Lorem Ipsum filler content here."))
        .otherwise(lit("")),
      when(col("doc_id") % 23 === 0, lit("\nif (x) { return x }"))
        .otherwise(lit("")))
  }

  /** PII plant: email on doc_id%5, phone on %7, IPv4 on %11 (composites get
    * several classes); everything else keeps its original PII-free text as
    * the negative control.
    */
  private def piiPlanted: Column = concat(col("text"),
    when(col("doc_id") % 5 === 0,
      concat(lit(" reach user"), col("doc_id").cast("string"), lit("@mail"),
        (col("doc_id") % 7).cast("string"), lit(".example.com soon")))
      .otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit(" call 555-867-5309 now"))
      .otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" from 10.0."), (col("doc_id") % 250).cast("string"),
        lit(".25 port 80"))).otherwise(lit("")))

  /** Funnel duplicate plant: every doc_id % 13 == 0 page is replaced by ONE
    * shared page that passes both heuristic gates (3 terminal-punctuated
    * ≥5-word lines, 27 words, both stopwords, unique words), so the dedup
    * stage has a real cluster to collapse at every test scale.
    */
  private val FunnelDupPage =
    "alpha beta gamma delta epsilon zeta eta theta.\n" +
      "the quick brown fox jumps over a lazy dog today.\n" +
      "many different shiny words fill this third line nicely."

  private def funnelPlanted: Column =
    when(col("doc_id") % 13 === 0, lit(FunnelDupPage)).otherwise(c4Planted)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_quality_classifier" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(Quality.bucketMap(docs, "text", Dim), "nb_buckets")
      // fast-kernel token count for the weak label (spec-asserted equal to
      // size(Text.tokens(text)) incl. null semantics): the label column is
      // evaluated in two full training passes, and the HOF form was the
      // dominant per-row cost on the single-input-task documents table
      Quality.nbClassifierScore(docs, "doc_id", "text",
        Text.tokenCountFast(col("text")) > LabelMinTokens, dim = Dim)
    }),

    "txt_c4_clean" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text", c4Planted)
      Curation.c4Clean(docs, "doc_id", "text")
    }),

    "txt_gopher_gate" -> ((s, d) =>
      Curation.gopherGate(t(s, d, "documents"), "doc_id", "text",
        stopwords = Seq("the", "a"), minWords = 25, maxDupFrac = 0.6)),

    "txt_pii_redact" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text", piiPlanted)
      Curation.piiRedact(docs, "doc_id", "text")
    }),

    // token-budget mixture sampling (cap each language at a token budget,
    // deterministic hash order) — plain windowed form and the skew-safe
    // two-phase twin under the SAME oracle, so the fact-scale path is
    // cross-engine-verified too (the corpus_probe_asof_skew discipline)
    "m_token_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(col("doc_id"),
        xxhash64(lit(11L), col("doc_id")).as("h")), "budget_h")
      Sampling.tokenBudgetSample(docs, Seq("lang"), "doc_id",
          Text.tokenCount(col("text")), budgetByLang, seed = 11L)
        .select("doc_id", "lang", "n_tokens", "cum_before", "kept")
    }),

    "m_token_budget_skew" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(col("doc_id"),
        xxhash64(lit(11L), col("doc_id")).as("h")), "budget_h")
      Sampling.tokenBudgetSampleSkewSafe(docs, Seq("lang"), "doc_id",
          Text.tokenCount(col("text")), budgetByLang, seed = 11L)
        .select("doc_id", "lang", "n_tokens", "cum_before", "kept")
    }),

    // GPT-style concat-and-chunk sequence packing: global (hash, key)
    // order, exclusive prefix token offsets, fixed 2048-token cuts
    "m_pack_sequences" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(col("doc_id"),
        xxhash64(lit(13L), col("doc_id")).as("h")), "pack_h")
      Sampling.packSequences(docs, "doc_id", Text.tokenCount(col("text")),
          seqLen = 2048L, seed = 13L)
        .select("doc_id", "n_tokens", "cum_before", "seq_first", "seq_last",
          "offset_in_seq")
    }),

    // END-TO-END curation funnel — the composition a pipeline user runs:
    // C4 clean -> Gopher gate -> exact dedup (keep min id per cleaned
    // text) -> per-language token budget; one row per document with its
    // FIRST failing stage (null = survived to the training set). Every
    // stage is replayed start-to-finish in the oracle.
    "curation_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text", funnelPlanted)
      Dumps.write(docs.select(col("doc_id"),
        xxhash64(lit(19L), col("doc_id")).as("h")), "funnel_h")
      // ONE corpus pass — ZERO joins — computes every per-doc stage input
      // (C4 keep + cleaned text, Gopher keep over the cleaned text, the
      // 8-byte dedup hash, the token count), then a NARROW persist — id,
      // lang, two flags, two longs, never the text — feeds the three
      // downstream consumers (stage labeling, dedup canon, budget).
      // Round 6 (verdict item): the previous staging built the same frame
      // via TWO corpus-sized self-joins of per-row projections — at fact
      // scale, three scans and two full exchanges carrying cleaned_text
      // where a single projection suffices. The C4 fields and Gopher rule
      // chain are the operators' own shared builders, so the stage
      // semantics exist exactly once; the Gopher signals come from the
      // typed kernel (bit-equal to the HOF form, CurationSpec).
      // PlanShapeSpec asserts zero Exchange below the staging persist.
      // Gopher's word count IS the token count of the cleaned text, so
      // __tok reuses it instead of re-tokenizing.
      val c4s = col("__c4s")
      val c4Reason = when(col("text").isNull, "missing_text")
        .otherwise(c4s("reject_reason"))
      val c4Cleaned = coalesce(c4s("cleaned_text"), lit(""))
      val gsig = col("__gsig")
      val gopReason = Curation.gopherReason(col("__ct"), gsig("wc"),
        gsig("mwl"), gsig("alpha_frac"), gsig("n_stop"), gsig("dup_frac"),
        minWords = 10, maxWords = 100000, minAlphaFrac = 0.8,
        maxDupFrac = 0.6)
      val staged = Caches.cache(docs
        .withColumn("__c4s", Curation.c4FieldsFast()(col("text")))
        .withColumn("__c4", c4Reason.isNull)
        .withColumn("__ct", c4Cleaned)
        .withColumn("__gsig",
          Curation.gopherSignalsFast(Seq("the", "a"))(col("__ct")))
        .withColumn("__gop", gopReason.isNull)
        // dedup shuffles the 8-byte text hash, never the text (the
        // Dedup.dedupLines key discipline); the oracle groups by the text
        // itself — identical groups absent a 64-bit collision
        .withColumn("__ch",
          when(col("__c4") && col("__gop"), xxhash64(col("__ct"))))
        .withColumn("__tok",
          when(col("__c4") && col("__gop"), gsig("wc").cast("long")))
        .select("doc_id", "lang", "__c4", "__gop", "__ch", "__tok"))
      val surv12 = staged.where(col("__c4") && col("__gop"))
      val canon = surv12.groupBy(col("__ch"))
        .agg(min(col("doc_id")).as("__keep_id"))
      val surv3 = surv12.join(canon, "__ch")
        .withColumn("__dup", col("doc_id") =!= col("__keep_id"))
      // the skew-safe twin is bit-identical to the plain form and is the
      // shape that survives a fact-scale stratum
      val budget = Sampling.tokenBudgetSampleSkewSafe(
          surv3.where(!col("__dup"))
            .select(col("doc_id"), col("lang"), col("__tok")),
          Seq("lang"), "doc_id", col("__tok"),
          funnelBudget, seed = 19L)
        .select(col("doc_id"), col("kept").as("__budget"))
      staged
        .join(surv3.select(col("doc_id"), col("__dup")), Seq("doc_id"), "left")
        .join(budget, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(!col("__c4"), "c4")
            .when(!col("__gop"), "gopher")
            .when(col("__dup"), "duplicate")
            .when(!col("__budget"), "over_budget").as("stage"))
        .withColumn("kept", col("stage").isNull)
    }),

    // XLM-R temperature reweighting (alpha=0.5, target 3000 rows): the
    // operator's quantized per-stratum rates are dumped like the LSH plane
    // weights, and the oracle replays the hash threshold + join; the rate
    // FORMULA (normalization, clamp, alpha limits) is spec-pinned
    "m_temperature_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dumps.write(docs.select(col("doc_id"),
        xxhash64(lit(17L), col("doc_id")).as("h")), "temp_h")
      val out = Sampling.temperatureSample(docs, Seq("lang"), "doc_id",
        alpha = 0.5, targetRows = 3000L, seed = 17L)
      Dumps.write(out.select(col("lang"), col("rate_ppm")).distinct(),
        "temp_rates")
      out.select("doc_id", "lang", "rate_ppm", "kept")
    }))

  private def budgetByLang: Column =
    when(col("lang") === "en", lit(4000L)).otherwise(lit(1500L))

  private def funnelBudget: Column =
    when(col("lang") === "en", lit(60L)).otherwise(lit(30L))

  val oracle: Map[String, String] = Map(
    "txt_quality_classifier" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
         |  FROM documents),
         |lab AS (SELECT doc_id, coalesce(len(tk) > $LabelMinTokens, false) AS y, tk
         |  FROM toks),
         |dt AS (SELECT DISTINCT doc_id, term
         |  FROM (SELECT doc_id, unnest(tk) AS term FROM lab)),
         |bm AS (SELECT term, bucket
         |  FROM read_parquet('${Dumps.Dir}/nb_buckets.parquet/*.parquet')),
         |cnt AS (SELECT bucket,
         |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
         |  FROM dt JOIN bm USING (term) JOIN lab USING (doc_id)
         |  GROUP BY 1),
         |tots AS (SELECT sum(pos) AS tp, sum(neg) AS tn FROM cnt),
         |nd AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS nn FROM lab),
         |w AS (SELECT bucket,
         |    CAST(round(ln(((pos + 1.0) / (tp + 1.0 * $Dim)) /
         |                  ((neg + 1.0) / (tn + 1.0 * $Dim))) * 1e6, 0) AS BIGINT) AS wq
         |  FROM cnt CROSS JOIN tots),
         |b AS (SELECT CAST(round(ln(np * 1.0 / nn) * 1e6, 0) AS BIGINT) AS bq FROM nd),
         |s AS (SELECT doc_id, sum(wq) AS sw, count(*) AS ng
         |  FROM dt JOIN bm USING (term) JOIN w USING (bucket)
         |  GROUP BY 1)
         |SELECT l.doc_id,
         |  coalesce(s.ng, 0) AS n_terms,
         |  round((coalesce(s.sw, 0) + b.bq) / 1e6 + 1.7e-8, 6) AS score,
         |  round((coalesce(s.sw, 0) + b.bq) / 1e6 + 1.7e-8, 6) > 0 AS pred
         |FROM lab l LEFT JOIN s USING (doc_id) CROSS JOIN b""".stripMargin,

    // replay the plant (replace/concat string algebra), then the C4 line
    // rules (terminal punct + >=5 words) and the page rules in the exact
    // c4Clean order: lorem_ipsum -> brace -> too_few_lines -> pass
    "txt_c4_clean" ->
      """WITH pl AS (SELECT doc_id,
        |    replace(replace(text, ' table ', '.' || chr(10)), ' value ', chr(10))
        |    || CASE WHEN doc_id % 17 = 0
        |         THEN chr(10) || 'this page contains Lorem Ipsum filler content here.'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 23 = 0
        |         THEN chr(10) || 'if (x) { return x }' ELSE '' END AS t
        |  FROM documents),
        |g AS (SELECT doc_id, t,
        |    string_split_regex(t, '\r?\n') AS lines,
        |    list_filter(string_split_regex(t, '\r?\n'), l ->
        |      right(rtrim(l), 1) IN ('.', '!', '?', '"') AND
        |      len(list_filter(string_split_regex(trim(l), '\s+'), x -> x <> '')) >= 5
        |    ) AS kept
        |  FROM pl),
        |v AS (SELECT doc_id, coalesce(len(lines), 0) AS n_lines,
        |    coalesce(len(kept), 0) AS n_kept, kept,
        |    CASE WHEN t IS NULL THEN 'missing_text'
        |         WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
        |         WHEN contains(t, '{') THEN 'brace'
        |         WHEN len(kept) < 3 THEN 'too_few_lines'
        |         END AS reject_reason
        |  FROM g)
        |SELECT doc_id, n_lines, n_kept, reject_reason,
        |  reject_reason IS NULL AS keep,
        |  CASE WHEN reject_reason IS NULL THEN array_to_string(kept, chr(10))
        |       ELSE '' END AS cleaned_text
        |FROM v""".stripMargin,

    // Gopher rules in gopherGate order over the raw documents; rounding is
    // the house round(x + 1.7e-8, 4)
    "txt_gopher_gate" ->
      """WITH t AS (SELECT doc_id, text IS NULL AS no_text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, no_text, coalesce(len(tk), 0) AS wc,
        |    CASE WHEN len(tk) > 0 THEN
        |      list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk)
        |      ELSE 0.0 END AS mwl,
        |    CASE WHEN len(tk) > 0 THEN
        |      len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk)
        |      ELSE 0.0 END AS af,
        |    coalesce(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
        |      ['the', 'a'])), 0) AS ns,
        |    CASE WHEN len(tk) > 0 THEN
        |      1.0 - len(list_distinct(tk)) * 1.0 / len(tk) ELSE 0.0 END AS df
        |  FROM t)
        |SELECT doc_id, wc AS word_count,
        |  round(mwl + 1.7e-8, 4) AS mean_word_len,
        |  round(af + 1.7e-8, 4) AS alpha_frac,
        |  ns AS n_stopwords,
        |  round(df + 1.7e-8, 4) AS dup_frac,
        |  CASE WHEN no_text THEN 'missing_text'
        |       WHEN wc < 25 THEN 'too_few_words'
        |       WHEN wc > 100000 THEN 'too_many_words'
        |       WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_length'
        |       WHEN af < 0.8 THEN 'non_alpha_words'
        |       WHEN ns < 2 THEN 'stopwords'
        |       WHEN df > 0.6 THEN 'repetition'
        |       END AS reject_reason,
        |  (CASE WHEN no_text THEN 'x' WHEN wc < 25 THEN 'x'
        |        WHEN wc > 100000 THEN 'x'
        |        WHEN mwl < 3.0 OR mwl > 10.0 THEN 'x' WHEN af < 0.8 THEN 'x'
        |        WHEN ns < 2 THEN 'x' WHEN df > 0.6 THEN 'x' END) IS NULL AS keep
        |FROM m""".stripMargin,

    // replay the PII plant, count each class on the planted original, then
    // redact email -> ip -> phone (DuckDB regexp_replace needs the 'g' flag;
    // Spark replaces all matches by default)
    "txt_pii_redact" ->
      """WITH pl AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
        |         || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com soon'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309 now' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
        |         || '.25 port 80' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS n_email,
        |  len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t, '\+?\d{3}[- ]\d{3}[- ]\d{4}')) AS n_phone,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted_text
        |FROM pl""".stripMargin,

    // replay the sampling order (hash, key) from the dumped hashes
    // (xxhash64 is engine-local) and the exclusive prefix-sum cut; one
    // oracle serves both the plain and the skew-safe form — the skew-safe
    // bucketing is a monotone function of the hash, so it cannot reorder
    "m_token_budget" -> tokenBudgetSql,
    "m_token_budget_skew" -> tokenBudgetSql,

    "m_pack_sequences" ->
      s"""WITH j AS (SELECT d.doc_id,
         |    len(list_filter(string_split_regex(trim(d.text), '\\s+'), x -> x <> ''))
         |      AS nt,
         |    h.h
         |  FROM documents d
         |  JOIN read_parquet('${Dumps.Dir}/pack_h.parquet/*.parquet') h
         |    USING (doc_id)),
         |r AS (SELECT *,
         |    coalesce(sum(nt) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM j)
         |SELECT doc_id, nt AS n_tokens, cb AS cum_before,
         |  cb // 2048 AS seq_first,
         |  (cb + greatest(nt, 1) - 1) // 2048 AS seq_last,
         |  cb % 2048 AS offset_in_seq
         |FROM r""".stripMargin,

    // full-funnel replay: plant -> C4 rules -> Gopher rules over the
    // cleaned text -> min-id dedup -> budget cut over the dumped hashes
    "curation_funnel" ->
      s"""WITH pl AS (SELECT doc_id, lang,
         |    CASE WHEN doc_id % 13 = 0 THEN
         |      'alpha beta gamma delta epsilon zeta eta theta.' || chr(10) ||
         |      'the quick brown fox jumps over a lazy dog today.' || chr(10) ||
         |      'many different shiny words fill this third line nicely.'
         |    ELSE replace(replace(text, ' table ', '.' || chr(10)), ' value ', chr(10))
         |      || CASE WHEN doc_id % 17 = 0
         |           THEN chr(10) || 'this page contains Lorem Ipsum filler content here.'
         |           ELSE '' END
         |      || CASE WHEN doc_id % 23 = 0
         |           THEN chr(10) || 'if (x) { return x }' ELSE '' END
         |    END AS t
         |  FROM documents),
         |c4 AS (SELECT doc_id, lang, t,
         |    list_filter(string_split_regex(t, '\\r?\\n'), l ->
         |      right(rtrim(l), 1) IN ('.', '!', '?', '"') AND
         |      len(list_filter(string_split_regex(trim(l), '\\s+'), x -> x <> '')) >= 5
         |    ) AS kl
         |  FROM pl),
         |c4v AS (SELECT doc_id, lang,
         |    CASE WHEN t IS NULL THEN 'missing_text'
         |         WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
         |         WHEN contains(t, '{') THEN 'brace'
         |         WHEN len(kl) < 3 THEN 'too_few_lines' END AS c4r,
         |    array_to_string(kl, chr(10)) AS ct0
         |  FROM c4),
         |c4w AS (SELECT doc_id, lang, c4r IS NULL AS c4k,
         |    CASE WHEN c4r IS NULL THEN ct0 ELSE '' END AS ct FROM c4v),
         |gm AS (SELECT doc_id,
         |    coalesce(len(tk), 0) AS wc,
         |    CASE WHEN len(tk) > 0 THEN
         |      list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk)
         |      ELSE 0.0 END AS mwl,
         |    CASE WHEN len(tk) > 0 THEN
         |      len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk)
         |      ELSE 0.0 END AS af,
         |    coalesce(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
         |      ['the', 'a'])), 0) AS ns,
         |    CASE WHEN len(tk) > 0 THEN
         |      1.0 - len(list_distinct(tk)) * 1.0 / len(tk) ELSE 0.0 END AS df
         |  FROM (SELECT doc_id,
         |      list_filter(string_split_regex(trim(ct), '\\s+'), x -> x <> '') AS tk
         |    FROM c4w)),
         |gv AS (SELECT doc_id,
         |    (CASE WHEN wc < 10 THEN 'x' WHEN wc > 100000 THEN 'x'
         |          WHEN mwl < 3.0 OR mwl > 10.0 THEN 'x' WHEN af < 0.8 THEN 'x'
         |          WHEN ns < 2 THEN 'x' WHEN df > 0.6 THEN 'x' END) IS NULL AS gk
         |  FROM gm),
         |sv AS (SELECT w.doc_id, w.lang, w.ct, w.c4k, gv.gk
         |  FROM c4w w JOIN gv USING (doc_id)),
         |s12 AS (SELECT * FROM sv WHERE c4k AND gk),
         |cn AS (SELECT ct, min(doc_id) AS keep_id FROM s12 GROUP BY ct),
         |s3 AS (SELECT s12.doc_id, s12.doc_id <> cn.keep_id AS dup
         |  FROM s12 JOIN cn USING (ct)),
         |bj AS (SELECT s12.doc_id, s12.lang,
         |    len(list_filter(string_split_regex(trim(s12.ct), '\\s+'), x -> x <> '')) AS nt,
         |    h.h
         |  FROM s12 JOIN s3 USING (doc_id)
         |  JOIN read_parquet('${Dumps.Dir}/funnel_h.parquet/*.parquet') h
         |    USING (doc_id)
         |  WHERE NOT s3.dup),
         |br AS (SELECT doc_id,
         |    coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      < (CASE WHEN lang = 'en' THEN 60 ELSE 30 END) AS bk
         |  FROM bj),
         |f AS (SELECT sv.doc_id, sv.lang,
         |    CASE WHEN NOT sv.c4k THEN 'c4'
         |         WHEN NOT sv.gk THEN 'gopher'
         |         WHEN s3.dup THEN 'duplicate'
         |         WHEN NOT br.bk THEN 'over_budget' END AS stage
         |  FROM sv LEFT JOIN s3 USING (doc_id) LEFT JOIN br USING (doc_id))
         |SELECT doc_id, lang, stage, stage IS NULL AS kept FROM f""".stripMargin,

    "m_temperature_sample" ->
      s"""SELECT d.doc_id, d.lang, r.rate_ppm,
         |  ((h.h % 1000000) + 1000000) % 1000000 < r.rate_ppm AS kept
         |FROM documents d
         |JOIN read_parquet('${Dumps.Dir}/temp_h.parquet/*.parquet') h
         |  USING (doc_id)
         |JOIN read_parquet('${Dumps.Dir}/temp_rates.parquet/*.parquet') r
         |  USING (lang)""".stripMargin)

  private def tokenBudgetSql: String =
    s"""WITH j AS (SELECT d.doc_id, d.lang,
       |    len(list_filter(string_split_regex(trim(d.text), '\\s+'), x -> x <> ''))
       |      AS nt,
       |    h.h
       |  FROM documents d
       |  JOIN read_parquet('${Dumps.Dir}/budget_h.parquet/*.parquet') h
       |    USING (doc_id)),
       |r AS (SELECT *,
       |    coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM j)
       |SELECT doc_id, lang, nt AS n_tokens, cb AS cum_before,
       |  cb < (CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END) AS kept
       |FROM r""".stripMargin
}
