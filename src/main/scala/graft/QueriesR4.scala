package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, Similarity, Terms}
import graft.SfTables.{load => t}

/** Round-4 training-pipeline additions: the three dedup/curation shapes a
  * web-scale corpus pipeline runs that were not yet first-class — line-level
  * boilerplate removal (CCNet), benchmark decontamination (GPT-3 appendix
  * C), and semantic dedup over embeddings (SemDeDup) — plus TF-IDF term
  * ranking, the token-side analog of the reference's univariate feature
  * ranking (`Fig-2C_D_plot_univariate.R`). All carry full DuckDB oracles
  * over the shared parquet tables — line/gram construction, the
  * smallest-id centroid convention, and the idf formula are
  * engine-portable by construction; the one exception is
  * `dd_semantic_kmeans`, whose TRAINED centroids are engine-local float
  * sums and therefore dumped (the [[graft.Dumps]] discipline), with the
  * oracle replaying every downstream step over the dump.
  */
object QueriesR4 {

  /** The documents corpus has no newlines, so the line-dedup query derives
    * deterministic line boundaries first: every aligned run of 4 tokens is
    * one line (the operator itself is delimiter-generic — production feeds
    * real '\n' pages). The oracle rebuilds the same chunking in SQL.
    */
  private[graft] def linedText(text: org.apache.spark.sql.Column) = {
    val tk = Text.tokens(text)
    concat_ws("\n",
      transform(sequence(lit(0), floor((size(tk) - 1) / 4).cast("int")),
        i => concat_ws(" ", slice(tk, i * 4 + 1, lit(4)))))
  }

  /** Typed twin of [[linedText]] (spec-asserted byte-equal, incl. the
    * null → '' and zero-token → '\n' edge cases the expression form
    * produces): one tokenizer pass + one StringBuilder instead of a
    * sequence/transform/slice/concat_ws HOF chain — which, evaluated
    * interpreted on the single-input-task documents table, was ~60% of
    * dd_line_dedup's whole cost (it runs once per dedup pass, so twice).
    */
  private[graft] val linedTextFast = udf { (t: String) =>
    if (t == null) ""
    else {
      val toks = graft.operators.Dedup.fastTokens(t)
      if (toks.isEmpty) "\n" // sequence(0, -1) yields two empty groups
      else {
        val sb = new java.lang.StringBuilder(t.length + 8)
        var i = 0
        while (i < toks.length) {
          if (i > 0) sb.append(if (i % 4 == 0) '\n' else ' ')
          sb.append(toks(i))
          i += 1
        }
        sb.toString
      }
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- DD: cross-document line dedup (CCNet boilerplate removal) ---------
    "dd_line_dedup" -> ((s, d) =>
      Dedup.dedupLines(
        t(s, d, "documents").select(col("doc_id"),
          linedTextFast(col("text")).as("text")),
        "doc_id", "text", sep = "\n", maxDocs = 1)),

    // ---- DD: benchmark decontamination (n-gram overlap vs eval set) --------
    // deterministic eval split: every 37th doc is "benchmark", the rest
    // "train"; a train doc sharing any distinct 4-gram with the benchmark
    // set is flagged with its hit count
    "dd_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(37)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(37)) === 0),
        "doc_id", "text", n = 4)
    }),

    // ---- DD: semantic dedup over embeddings (SemDeDup) ----------------------
    "dd_semantic" -> ((s, d) =>
      Similarity.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 16, minCos = 0.3)),

    // ---- DD: SemDeDup over TRAINED k-means centroids -------------------------
    // the production path: centroids come from Similarity.kmeansCentroids
    // (offline Lloyd over the corpus) instead of the smallest-id
    // convention. The trained centroids are engine-local (float sums), so
    // they are DUMPED — like the LSH plane weights — and the oracle replays
    // the whole downstream (cell assignment argmax, within-cell pair join,
    // min-id survivor) over the dump, pinning the trained-centroid path
    // cross-engine, not just the convention
    "dd_semantic_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 3)
      Dumps.write(cents, "kmeans_cents")
      Similarity.semanticDedup(emb, "vec_id", "embedding",
        nlist = 16, minCos = 0.3, centroids = Some(cents))
    }),

    // ---- TXT: top-k TF-IDF terms per document --------------------------------
    "txt_tfidf_topk" -> ((s, d) =>
      Terms.tfidfTopK(t(s, d, "documents"), "doc_id", "text", k = 5)),

    // ---- TXT: unigram-LM quality proxy (CCNet perplexity bucketing) ---------
    "txt_unigram_nll" -> ((s, d) =>
      Terms.unigramLogProb(t(s, d, "documents"), "doc_id", "text"))
  )

  /** Shared SQL fragment: whitespace tokens per document. */
  private val ToksCte: String =
    """toks AS (SELECT doc_id,
      |  list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
      |  FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(

    "dd_line_dedup" ->
      s"""WITH $ToksCte,
         |l2 AS (SELECT doc_id,
         |    unnest(generate_series(0, CAST(floor((len(tk)-1)/4.0) AS INT))) AS pos,
         |    tk FROM toks),
         |lines AS (SELECT doc_id, pos,
         |    array_to_string(list_slice(tk, pos*4+1, pos*4+4), ' ') AS line
         |  FROM l2),
         |freq AS (SELECT line, count(DISTINCT doc_id) AS df
         |  FROM lines GROUP BY 1),
         |kept AS (SELECT lines.* FROM lines JOIN freq USING (line)
         |  WHERE df <= 1),
         |reb AS (SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY 1),
         |cnt AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
         |SELECT c.doc_id,
         |  coalesce(reb.clean_text, '') AS clean_text,
         |  coalesce(reb.n_kept, 0) AS n_kept,
         |  c.n_lines - coalesce(reb.n_kept, 0) AS n_removed
         |FROM cnt c LEFT JOIN reb USING (doc_id)""".stripMargin,

    "dd_decontaminate" ->
      s"""WITH $ToksCte,
         |grams AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 3), ' '))) AS gram
         |  FROM toks),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0)
         |SELECT g.doc_id, count(*) AS n_hit_grams
         |FROM grams g JOIN bench USING (gram)
         |WHERE g.doc_id % 37 <> 0
         |GROUP BY 1 HAVING count(*) >= 1""".stripMargin,

    "dd_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
        |  ORDER BY vec_id LIMIT 16),
        |ca AS (SELECT e.vec_id, c.cent_id,
        |    round(list_dot_product(v, cv) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)
        |      AS ccos
        |  FROM e CROSS JOIN cents c),
        |cell AS (SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ccos DESC, cent_id) AS rk
        |    FROM ca) WHERE rk = 1),
        |dup AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
        |  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE round(list_dot_product(ea.v, eb.v) /
        |      (sqrt(list_dot_product(ea.v, ea.v)) *
        |       sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.3
        |  GROUP BY 1)
        |SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS kept
        |FROM cell c LEFT JOIN dup d USING (vec_id)""".stripMargin,

    "dd_semantic_kmeans" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |cents AS (SELECT cent_id, CAST(cent_v AS DOUBLE[]) AS cv
         |  FROM read_parquet('${Dumps.Dir}/kmeans_cents.parquet/*.parquet')),
         |ca AS (SELECT e.vec_id, c.cent_id,
         |    round(list_dot_product(v, cv) /
         |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)
         |      AS ccos
         |  FROM e CROSS JOIN cents c),
         |cell AS (SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY ccos DESC, cent_id) AS rk
         |    FROM ca) WHERE rk = 1),
         |dup AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE round(list_dot_product(ea.v, eb.v) /
         |      (sqrt(list_dot_product(ea.v, ea.v)) *
         |       sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.3
         |  GROUP BY 1)
         |SELECT c.vec_id, c.cell, d.dup_of, d.dup_of IS NULL AS kept
         |FROM cell c LEFT JOIN dup d USING (vec_id)""".stripMargin,

    "txt_tfidf_topk" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
         |n AS (SELECT count(*) AS nd FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    round(tf * (ln((nd + 1) / (df + 1)) + 1), 6) AS tfidf
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df, tfidf,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS rk
         |FROM scored QUALIFY rk <= 5""".stripMargin,

    // q mirrors the engine's per-term fixed-point quantization (1e-9 grid,
    // HALF_UP == DuckDB round-away-from-zero); the doc sum is then exact
    // integer arithmetic in both engines, so summation order cannot move it
    "txt_unigram_nll" ->
      s"""WITH $ToksCte,
         |tok AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |vocab AS (SELECT term, sum(tf) AS cnt FROM tfc GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS t FROM vocab),
         |lq AS (SELECT term, CAST(round(ln(cnt / t) * 1e9) AS BIGINT) AS q
         |  FROM vocab CROSS JOIN tot)
         |SELECT doc_id,
         |  round(-CAST(sum(CAST(tf AS HUGEINT) * q) AS DOUBLE) / 1e9
         |    / CAST(sum(tf) AS DOUBLE) + 1.7e-8, 6) AS nll,
         |  sum(tf) AS n_tokens
         |FROM tfc JOIN lq USING (term)
         |GROUP BY 1""".stripMargin
  )
}
