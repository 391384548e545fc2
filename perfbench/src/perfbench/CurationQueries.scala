package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Caches

/** `curation_queries`: the 31 headline queries of `graft.Bench`, run
  * through SparkEntry.queries with Bench's sink and Caches.releaseAll()
  * after each query, over the fixed tables in perfbench/data/sf0.01. It
  * covers the operator modules neither corpus workload touches (Dedup,
  * Similarity, Stats, Terms, Sampling, Curation, Quality); `tables` and
  * `features` do no work here. The inputs are fixed, so the seed is unused.
  */
object CurationQueries extends Workload {

  val Queries = Seq(
    "q1_pricing_summary", "j1_inner_join", "j8_asof_join", "w_sessionize",
    "w_backfill", "w1_topk_per_group", "a1_replicate_summary", "a10_spearman",
    "f10_zscore_trainonly", "txt_token_stats", "txt_langid", "dd_exact",
    "dd_ngram_jaccard", "dd_minhash_lsh", "dd_simhash", "ann_brute_topk",
    "ann_ivf_topk", "sim_lsh_neardup", "dd_line_dedup", "dd_decontaminate",
    "dd_semantic", "txt_tfidf_topk", "txt_unigram_nll", "txt_quality_classifier",
    "txt_c4_clean", "txt_gopher_gate", "txt_pii_redact", "m_token_budget_skew",
    "m_pack_sequences", "m_temperature_sample", "curation_funnel")

  val DataDir = "perfbench/data/sf0.01"
  val ExpectedDigests = "perfbench/data/sf0.01.digests.tsv"

  private def tables(env: Env) = env.dir("queries/sf0.01")

  def startSession(env: Env): SparkSession =
    Util.session("curation_queries", env.cores, env.scratch, 8, coalesce = true)

  /** Stage a fresh copy of the fixed input tables in the scratch root. */
  def setupOnce(env: Env, spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Util.deleteTree(tables(env))
    val dst = Paths.get(tables(env))
    Files.createDirectories(dst)
    val src = env.dataRoot.resolve(DataDir)
    val files = Files.list(src).iterator().asScala.toSeq
    require(files.nonEmpty, s"no input tables in $DataDir")
    files.foreach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    (System.nanoTime() - t0) / 1e9
  }

  private def run(env: Env, spark: SparkSession, name: String): (Long, Long) = {
    val tr = env.tracer
    try {
      val df = tr.span("operators")(SparkEntry.queries(name)(spark, tables(env)))
      tr.span("sink")(Util.digest(df))
    } finally tr.span("operators.caches.release")(Caches.releaseAll())
  }

  def warm(env: Env, spark: SparkSession): Unit = Queries.foreach(run(env, spark, _))

  def measure(env: Env, spark: SparkSession, seconds: Double): (SparkSession, Report) = {
    val rep = new Report
    val tr = env.tracer
    val times = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val digests = mutable.Map.empty[String, mutable.Set[(Long, Long)]]
    val passes = mutable.ArrayBuffer.empty[Double]
    var leftover = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < 2 || System.nanoTime() < end) {
      var total = 0.0
      Queries.foreach { q =>
        env.ops.timed(q)(tr.op(s"query.$q")(run(env, spark, q))).foreach { case (s, dg) =>
          times(q) += s
          total += s
          digests.getOrElseUpdate(q, mutable.Set.empty) += dg
        }
        leftover += spark.sparkContext.getPersistentRDDs.size
      }
      passes += total
    }
    // each query's digest must repeat and equal the one recorded for the data
    val want = expected(env)
    Queries.foreach { q =>
      val got = digests.getOrElse(q, mutable.Set.empty)
      got.foreach { case (c, d) => rep.notes += s"digest $q $c $d" }
      if (got.nonEmpty && (got.size != 1 || !want.get(q).contains(got.head)))
        env.ops.fail(q, s"digests ${got.mkString(",")} != recorded ${want.get(q)}")
    }
    val med = times.collect { case (q, ts) if ts.nonEmpty => q -> Util.median(ts.toSeq) }
    rep.e2e("cycle_ms.p50") = "ms" -> Util.median(passes.toSeq) * 1e3
    if (med.nonEmpty) {
      rep.layer("queries.total_s") = "s" -> med.values.sum
      rep.layer("queries.geomean_s") = "s" -> Util.geomean(med.values.toSeq)
    }
    med.foreach { case (q, s) => rep.layer(s"query.$q.s") = "s" -> s }
    rep.layer("operators.caches.leftover") = "count" -> leftover.toDouble
    rep.notes += s"curation_queries: ${passes.size} passes over ${Queries.size} queries, " +
      "pass seconds " + passes.map(x => f"$x%.2f").mkString(" ")
    (spark, rep)
  }

  /** "name count digest" lines recorded for the fixed tables. */
  private def expected(env: Env): Map[String, (Long, Long)] = {
    val f = env.dataRoot.resolve(ExpectedDigests)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
        val Array(n, c, d) = l.trim.split("\\s+")
        n -> ((c.toLong, d.toLong))
      }.toMap
  }

  def layers(env: Env): Metrics = {
    val m = new Metrics
    val tr = env.tracer
    val perQuery = Queries.map { q =>
      val ops = tr.named(s"query.$q").map(s => tr.subtree(s))
      (ops.map(o => tr.jobsOf(o).toDouble), ops.map(o => tr.stagesOf(o).map(_._2.tasks).sum.toDouble))
    }
    m("queries.jobs_total") = "count" -> perQuery.map(p => if (p._1.isEmpty) 0.0 else Util.median(p._1)).sum
    m("queries.tasks_total") = "count" -> perQuery.map(p => if (p._2.isEmpty) 0.0 else Util.median(p._2)).sum
    m
  }
}
