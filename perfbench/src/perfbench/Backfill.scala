package perfbench

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus
import graft.features.FeaturePipeline
import graft.tables.SnapshotTable

/** `backfill`: the full point-in-time feature job over a committed corpus.
  * Each timed pass is SnapshotTable.read -> featuresSkewSafe -> hash-agg
  * sink over every output column, at local[nproc]; the same job then runs
  * at local[1], as an output check and for the scaling figure. No commits
  * and no as-of run in the timed part, so `features` windows and the
  * `tables` scan do the work.
  */
object Backfill extends Workload {

  val Rows = 300000L
  /** Same plan at both parallelism levels: fixed reducer count, no AQE
    * coalescing, so only the executor thread count differs.
    */
  val ShufflePartitions = 16
  /** Passes at local[1] after the timed loop: one checks that the output
    * does not depend on the core count; a traced run, which also reports
    * the scaling figure, takes two.
    */
  def singleCorePasses(env: Env): Int = if (env.trace) 2 else 1

  private def params(env: Env) = Corpus.Params(seed = env.seed, rows = Rows,
    entities = math.max(64, (Rows / 2000).toInt), partitions = 8)

  private def table(env: Env) = env.dir("backfill/events")

  def startSession(env: Env): SparkSession =
    Util.session("backfill", env.cores, env.scratch, ShufflePartitions, coalesce = false)

  private var inputBytes = 0L

  def setupOnce(env: Env, spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Util.deleteTree(env.dir("backfill"))
    val input = env.dir("backfill/input")
    Corpus.events(spark, params(env)).write.parquet(input)
    SnapshotTable.commit(spark.read.parquet(input), table(env), "entity_id", "event_ms")
    // the generated input is not read again; deleted now, before its pages
    // are written back, it costs nothing (deleting written-back files on a
    // discard-mounted disk took seconds at the end of a run)
    inputBytes = Util.du(input)
    Util.deleteTree(input)
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass: read, features, sink; returns (feature rows, digest). */
  private def job(env: Env, spark: SparkSession): (Long, Long) = {
    val p = params(env)
    val bounds = (Corpus.eventMsOf(p.seed, 0L, p.baseMs, p.stepMs),
      Corpus.eventMsOf(p.seed, p.rows - 1, p.baseMs, p.stepMs))
    val tr = env.tracer
    try {
      val ev = tr.span("tables.read") {
        SnapshotTable.read(spark, table(env)).drop(SnapshotTable.BucketCol)
      }
      val f = tr.span("features.skew_safe") {
        FeaturePipeline.featuresSkewSafe(ev, Corpus.dimFeatures(spark, p.seed),
          FeaturePipeline.entityDim(spark, p.entities), bounds = Some(bounds))
      }
      tr.span("sink")(Util.digest(f))
    } finally FeaturePipeline.releaseCaches()
  }

  /** JIT needs more than one pass here: after a single warm-up pass the
    * first two timed passes ran 10-20 % slower than the rest.
    */
  val WarmPasses = 2

  def warm(env: Env, spark: SparkSession): Unit = (1 to WarmPasses).foreach(_ => job(env, spark))

  def measure(env: Env, spark0: SparkSession, seconds: Double): (SparkSession, Report) = {
    val rep = new Report
    val digests = collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    /** Passes for `secs`, at least `min`; returns their seconds. */
    def loop(spark: SparkSession, op: String, secs: Double, min: Int): Seq[Double] = {
      val times = collection.mutable.ArrayBuffer.empty[Double]
      val end = System.nanoTime() + (secs * 1e9).toLong
      var n = 0
      while (n < min || System.nanoTime() < end) {
        env.ops.timed(op)(env.tracer.op(op)(job(env, spark))).foreach {
          case (s, (rows, dg)) => times += s; digests += ((op, rows, dg))
        }
        n += 1
      }
      times.toSeq
    }
    val big = loop(spark0, "backfill.pass", seconds, 2)
    // After the timed passes of the untraced measurement, the same job runs
    // at local[1]: a fresh context on the same JVM (the codegen cache stays
    // warm). A traced run then goes back to local[nproc] for its traced half.
    val (spark, one) =
      if (env.tracer.enabled) (spark0, Seq.empty[Double])
      else {
        spark0.stop()
        val s1 = Util.session("backfill-1", 1, env.scratch, ShufflePartitions, coalesce = false)
        val one = loop(s1, "backfill.pass_local1", 0.0, singleCorePasses(env))
        if (!env.trace) (s1, one) else { s1.stop(); (startSession(env), one) }
      }

    // every pass at either level must produce the same rows and digest
    val ref = digests.headOption
    digests.zipWithIndex.foreach { case ((op, rows, dg), i) =>
      if (!ref.exists(r => r._2 == rows && r._3 == dg))
        env.ops.fail(s"$op#$i", s"digest ($rows, $dg) != first pass's " +
          s"(${ref.map(_._2).getOrElse(0L)}, ${ref.map(_._3).getOrElse(0L)})")
    }
    if (big.nonEmpty) {
      val rows = ref.map(_._2).getOrElse(0L).toDouble
      rep.e2e("cycle_ms.p50") = "ms" -> Util.median(big) * 1e3
      rep.layer("backfill.rows_per_s") = "rows/s" -> rows / Util.median(big)
      if (one.nonEmpty && env.trace)
        rep.layer("backfill.scaling_eff") = "ratio" -> Util.median(one) / Util.median(big) / env.cores
      rep.notes += f"backfill: ${big.size} passes at local[${env.cores}] " +
        f"(median ${Util.median(big)}%.3f s), ${one.size} at local[1] " +
        f"(median ${if (one.isEmpty) 0.0 else Util.median(one)}%.3f s), " +
        f"$Rows input rows (${inputBytes / 1e6}%.1f MB parquet, " +
        f"table ${Util.du(table(env)) / 1e6}%.1f MB), digest ${ref.map(_._3).getOrElse(0L)}; pass seconds " +
        big.map(x => f"$x%.2f").mkString(" ")
    }
    (spark, rep)
  }

  def layers(env: Env): Metrics = {
    val m = new Metrics
    val tr = env.tracer
    val passes = tr.named("backfill.pass")
    if (passes.isEmpty) return m
    val perPass = passes.map(p => (p, tr.stagesOf(tr.subtree(p))))
    def med(f: ((Span, Seq[(StageDesc, TaskAgg)])) => Double) = Util.median(perPass.map(f))
    val scan = (st: StageDesc) => st.has("Scan parquet")
    m("tables.read.scan_tasks") = "count" -> med(_._2.filter(x => scan(x._1)).map(_._2.tasks.toDouble).sum)
    m("tables.read.scan_run_ms") = "ms" -> med(_._2.filter(x => scan(x._1)).map(_._2.runMs.toDouble).sum)
    m("features.skew_safe.pass_ms") = "ms" -> med(_._1.ms)
    m("features.skew_safe.shuffle_bytes") = "bytes" -> med(_._2.map(_._2.shuffleWriteBytes.toDouble).sum)
    m("features.skew_safe.spill_bytes") = "bytes" -> med(_._2.map(_._2.spillBytes.toDouble).sum)
    // phase-1 window stage: the window stage that ran the most tasks' time
    m("features.skew_safe.task_skew") = "ratio" -> med { case (_, sts) =>
      sts.filter(_._1.has("Window")).sortBy(-_._2.runMs).headOption
        .map { case (_, a) =>
          val t = a.taskRunMs.map(_.toDouble).toSeq
          t.max / math.max(1.0, Util.median(t))
        }.getOrElse(0.0)
    }
    m("features.skew_safe.busy_ratio") = "ratio" -> med { case (p, sts) =>
      sts.map(_._2.runMs.toDouble).sum / (p.ms * env.cores)
    }
    m
  }
}
