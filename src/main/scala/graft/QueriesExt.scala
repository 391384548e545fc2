package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Stats
import graft.SfTables.{load => t}

/** Round-2 coverage queries: the SURVEY §2 components the round-1 verdict
  * flagged as claimed-but-not-oracle'd (J4 ranked-dim join, P5 any-NA entity
  * filter, W4 head-of-ranked-dim, SET4 venn counts, S3 TSV) plus the two
  * documented-skip functions now implemented (A10 Kendall tau-b, F9 qnorm
  * via a parameterized CI level). Conventions as in [[QueriesRel]].
  */
object QueriesExt {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- J4: match()-ordered dim join preserving a STORED rank -------------
    // (train_functions.R:39-43: join fact rows to a ranked feature table,
    // keep the dim's rank order, drop misses — inner join semantics)
    "j4_ranked_dim_join" -> ((s, d) => {
      val dim = t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
        row_number().over(Window.orderBy(col("n_name"))).as("dim_rank"))
      t(s, d, "supplier")
        .join(dim, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"), col("dim_rank"))
    }),

    // ---- P5: drop entity if ANY feature value is NA -------------------------
    // (train_functions.R:11-12 in long form: deterministic nulls are planted
    // on event_id % 50 == 0, then any-NA entities are anti-filtered)
    "p5_any_na_entity" -> ((s, d) => {
      val long = t(s, d, "events")
        .withColumn("v", when(pmod(col("event_id"), lit(50)) =!= 0, col("value")))
      val bad = long.groupBy(col("user_id"))
        .agg(max(col("v").isNull.cast("int")).as("__has_na"))
        .where(col("__has_na") === 1).select("user_id")
      long.join(bad, Seq("user_id"), "left_anti")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")) + 1.7e-8, 4).as("sum_v"))
    }),

    // ---- W4: head-k of a ranked dim, then fact join --------------------------
    // (feature-selection move: keep only the top-k ranked dim rows)
    "w4_head_ranked_dim" -> ((s, d) => {
      val dim = t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
        row_number().over(Window.orderBy(col("n_name"))).as("dim_rank"))
        .where(col("dim_rank") <= 10)
      t(s, d, "customer")
        .join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("dim_rank"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // ---- J9 (r4): explicit salted skew join under the oracle gate ----------
    // north_star: "skew is handled explicitly via key salting"; the salted
    // join must be SEMANTICS-PRESERVING, so the DuckDB oracle is simply the
    // plain join — the whole point of the row. Salt is a pure function of
    // the fact row (xxhash64 of the unique key), so the result is identical
    // at any parallelism.
    "j9_salted_join" -> ((s, d) =>
      graft.operators.Skew.saltedJoin(
        t(s, d, "orders"), t(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        key = "o_custkey", uniqueCol = "o_orderkey", salts = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")) + 1.7e-8, 2).as("sum_price"))),

    // ---- SET4: materialized venn counts ---------------------------------------
    "set4_venn_counts" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
        .withColumn("in_a", lit(1))
      val b = o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
        .withColumn("in_b", lit(1))
      a.join(b, Seq("o_custkey"), "full_outer")
        .agg(
          count(when(col("in_a").isNotNull && col("in_b").isNull, 1)).as("only_f"),
          count(when(col("in_a").isNull && col("in_b").isNotNull, 1)).as("only_o"),
          count(when(col("in_a").isNotNull && col("in_b").isNotNull, 1)).as("both"))
    }),

    // ---- S3: TSV write + schema'd read roundtrip (sep exercised) --------------
    "s3_tsv_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft-tsv").toString
      t(s, d, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").option("header", "true").option("sep", "\t").csv(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.option("header", "true").option("sep", "\t").schema(schema).csv(out)
    }),

    // ---- A10: Kendall tau-b per group (Knight O(n log n)) ---------------------
    "a10_kendall" -> ((s, d) =>
      Stats.kendall(t(s, d, "customer"), Seq("c_mktsegment"),
        "c_acctbal", "c_custkey")
        .select(col("c_mktsegment"), col("n"),
          round(col("kendall_tau"), 6).as("kendall_tau"))),

    // ---- F9/A7: mean ± CI at a non-default level (qnorm-derived z) ------------
    "a7_mean_ci90" -> ((s, d) =>
      Stats.meanCiLevel(t(s, d, "customer"), Seq("c_mktsegment"), "c_acctbal",
        level = 0.90)
        .select(col("c_mktsegment"), round(col("mean") + 1.7e-8, 4).as("mean"),
          col("n"),
          // CI bounds rounded to 2 dp: the oracle's z is the published
          // constant 1.6448536269514722 while ours is Acklam-derived
          // (|rel err| < 1.15e-9) — at 4 dp a ~3e-7 absolute difference
          // could straddle a rounding boundary
          round(col("ci_lo") + 1.7e-8, 2).as("ci_lo"),
          round(col("ci_hi") + 1.7e-8, 2).as("ci_hi")))
  )

  val oracle: Map[String, String] = Map(
    "j9_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
           round(sum(o_totalprice) + 1.7e-8, 2) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "j4_ranked_dim_join" ->
      """WITH dim AS (SELECT n_nationkey, n_name,
           CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS dim_rank
           FROM nation)
         SELECT s_suppkey, n_name, dim_rank
         FROM supplier JOIN dim ON s_nationkey = n_nationkey""",
    "p5_any_na_entity" ->
      """WITH l AS (SELECT user_id,
           CASE WHEN event_id % 50 <> 0 THEN value END AS v FROM events),
         bad AS (SELECT user_id FROM l GROUP BY user_id
                 HAVING sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) > 0)
         SELECT user_id, count(*) AS n, round(sum(v) + 1.7e-8, 4) AS sum_v
         FROM l WHERE user_id NOT IN (SELECT user_id FROM bad)
         GROUP BY user_id""",
    "w4_head_ranked_dim" ->
      """WITH dim AS (SELECT n_nationkey, n_name,
           CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS dim_rank
           FROM nation QUALIFY dim_rank <= 10)
         SELECT n_name, dim_rank, count(*) AS n_customers
         FROM customer JOIN dim ON c_nationkey = n_nationkey
         GROUP BY n_name, dim_rank""",
    "set4_venn_counts" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         j AS (SELECT a.o_custkey AS ka, b.o_custkey AS kb
               FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
         SELECT count(*) FILTER (WHERE ka IS NOT NULL AND kb IS NULL) AS only_f,
                count(*) FILTER (WHERE ka IS NULL AND kb IS NOT NULL) AS only_o,
                count(*) FILTER (WHERE ka IS NOT NULL AND kb IS NOT NULL) AS both
         FROM j""",
    "s3_tsv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "a10_kendall" ->
      """WITH c AS (SELECT c_mktsegment AS g, c_custkey AS k,
           CAST(c_acctbal AS DOUBLE) AS x, CAST(c_custkey AS DOUBLE) AS y
           FROM customer),
         p AS (SELECT a.g,
             sign(a.x - b.x) * sign(a.y - b.y) AS s,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
           FROM c a JOIN c b ON a.g = b.g AND a.k < b.k),
         n AS (SELECT g, count(*) AS n FROM c GROUP BY g)
         SELECT p.g AS c_mktsegment, n.n AS n,
           round(CAST(sum(p.s) AS DOUBLE)
             / sqrt(CAST((count(*) - sum(p.tx)) AS DOUBLE)
                  * CAST((count(*) - sum(p.ty)) AS DOUBLE)), 6) AS kendall_tau
         FROM p JOIN n ON n.g = p.g GROUP BY p.g, n.n""",
    "a7_mean_ci90" ->
      """SELECT c_mktsegment, round(avg(c_acctbal) + 1.7e-8, 4) AS mean, count(*) AS n,
         round(avg(c_acctbal)
           - 1.6448536269514722 * stddev_samp(c_acctbal) / sqrt(count(*)) + 1.7e-8, 2) AS ci_lo,
         round(avg(c_acctbal)
           + 1.6448536269514722 * stddev_samp(c_acctbal) / sqrt(count(*)) + 1.7e-8, 2) AS ci_hi
         FROM customer GROUP BY c_mktsegment"""
  )
}
