package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Counts every timed operation as attempted or failed. A failed operation
  * is never timed; its message is kept for the report.
  */
final class Ops {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run one operation; Some((seconds, result)) when it succeeded. */
  def timed[T](name: String)(f: => T): Option[(Double, T)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      Some(((System.nanoTime() - t0) / 1e9, r))
    } catch {
      case NonFatal(e) =>
        fail(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        None
    }
  }

  /** Mark an already-attempted operation failed (its output check failed). */
  def fail(name: String, msg: String): Unit = {
    failed += 1
    errors += s"$name: ${msg.replaceAll("\\s+", " ").take(300)}"
  }
}

/** What one timed phase measured: end-to-end metrics, workload figures and
  * per-layer values, and report lines.
  */
final class Report {
  val e2e = new Metrics
  val layer = new Metrics
  val notes = mutable.ArrayBuffer.empty[String]
}

/** Everything a workload needs: its seed, whether the run is traced, a
  * scratch root for inputs and tables, the checkout root (for fixed inputs),
  * the ops counter and the tracer.
  */
final class Env(val seed: Long, val trace: Boolean, val scratch: Path,
    val dataRoot: Path, val ops: Ops, val tracer: Tracer) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  def dir(name: String): String = scratch.resolve(name).toString
}

trait Workload {
  /** Start the session the timed part runs in. */
  def startSession(env: Env): SparkSession
  /** One repetition of input generation and initial commits; returns its
    * seconds. Run several times in a run; the last one's state is kept.
    */
  def setupOnce(env: Env, spark: SparkSession): Double
  /** Warm-up, timed as part of set-up: codegen, JIT and footer caches. */
  def warm(env: Env, spark: SparkSession): Unit
  /** The timed closed loop for `seconds`, then its output checks. Returns the
    * session to continue with (a workload may restart it) and the report.
    */
  def measure(env: Env, spark: SparkSession, seconds: Double): (SparkSession, Report)
  /** Per-layer metrics from the spans of a traced [[measure]]. */
  def layers(env: Env): Metrics
}

object Main {

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, scratchS, tracesS, rootS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val w: Workload = workload match {
      case "backfill"         => Backfill
      case "curation_queries" => CurationQueries
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val env = new Env(seed, trace, Paths.get(scratchS), Paths.get(rootS), new Ops, new Tracer)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = w.startSession(env)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val reps = (1 to SetupReps).map(_ => w.setupOnce(env, spark))
    val tw = System.nanoTime()
    w.warm(env, spark)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Util.median(reps) + warmS
    println(f"setup: session $sessionS%.2f s, input+commits ${reps.map(r => f"$r%.2f").mkString("/")} s " +
      f"(median of $SetupReps), warm-up $warmS%.2f s")

    // a traced run first measures with tracing off (the end-to-end figures),
    // then the same loop with spans on; the difference is the overhead
    val (s1, plain) = w.measure(env, spark, if (trace) seconds / 2 else seconds)
    spark = s1
    plain.e2e("setup_s") = "s" -> setupS
    plain.e2e("peak_rss_mb") = "MB" -> Util.peakRssMb
    val traced = if (!trace) None else {
      env.tracer.attach(spark.sparkContext)
      val (s2, t) = w.measure(env, spark, seconds / 2)
      spark = s2
      env.tracer.detach()
      val m = new Metrics
      m ++= w.layers(env)
      m ++= sparkLayer(env.tracer)
      // overhead of every timing figure both halves measured, as the
      // slowdown tracing caused: traced minus untraced for times, untraced
      // minus traced for rates, so more overhead always reads higher
      (t.e2e.values ++ t.layer.values).foreach { case (k, (tv, u)) =>
        (plain.e2e.values ++ plain.layer.values).get(k)
          .filter(_ => Metrics.TimingUnits.contains(u))
          .foreach { case (v, _) =>
            m(s"trace_overhead.$k") = u -> (if (Metrics.RateUnits(u)) v - tv else tv - v)
          }
      }
      val path = Paths.get(tracesS, s"$workload-seed$seed-pid${ProcessHandle.current.pid}.jsonl")
      env.tracer.writeJsonl(path)
      plain.notes += s"spans: ${env.tracer.spans.size} written to $path"
      Some(m)
    }
    spark.stop()
    plain.layer("failed_ops_ratio") = "ratio" ->
      env.ops.failed.toDouble / math.max(1, env.ops.attempted)

    (plain.notes ++ env.ops.errors.map("FAILED " + _)).foreach(println)
    println(s"ops: attempted ${env.ops.attempted} failed ${env.ops.failed}")
    val all = new Metrics
    all ++= plain.e2e
    all ++= plain.layer
    traced.foreach(all ++= _)
    all.values.foreach { case (k, (v, u)) => println(f"metric $k%-56s ${Util.fmt(v)}%16s $u") }
    // the result carries every declared metric of its mode; a layer this
    // workload does not run reads 0
    val declared = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val metricsJson = declared.map { case (k, u) =>
      val v = all.values.get(k).map(_._1).getOrElse(0.0)
      s""""$k":{"value":${Util.fmt(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${env.ops.failed == 0},"attempted":${env.ops.attempted},""" +
      s""""failed":${env.ops.failed},"metrics":$metricsJson}""")
    System.exit(0)
  }

  /** Spark task totals per timed operation, and per-layer self time per
    * operation, over the traced phase.
    */
  private def sparkLayer(tr: Tracer): Metrics = {
    val m = new Metrics
    val ops = tr.spans.filter(_.parent == 0).toSeq
    val n = math.max(1, ops.size).toDouble
    val tasks = tr.stagesOf(ops.flatMap(tr.subtree)).map(_._2)
    m("spark.cpu_ms") = "ms" -> tasks.map(_.cpuNs).sum / 1e6 / n
    m("spark.gc_ms") = "ms" -> tasks.map(_.gcMs).sum / n
    m("spark.fetch_wait_ms") = "ms" -> tasks.map(_.fetchWaitMs).sum / n
    m("spark.scheduler_delay_ms") = "ms" -> tasks.map(_.schedulerDelayMs).sum / n
    m("spark.task_retries") = "count" -> tr.allTasks.map(_.retries).sum.toDouble
    val layerOf = (s: Span) =>
      if (s.parent == 0) "bench" else if (s.name.startsWith("query.")) "operators"
      else s.name.takeWhile(_ != '.')
    ops.flatMap(tr.subtree).groupBy(layerOf).foreach { case (l, ss) =>
      m(s"self_ms.$l") = "ms" -> ss.map(tr.selfMs).sum / n
    }
    m
  }
}

/** Metric values by name, with units, in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unitValue: (String, Double)): Unit =
    values(name) = (unitValue._2, unitValue._1)
  def ++=(o: Metrics): Unit = values ++= o.values
}

/** The metrics BENCHMARK.json declares, in its order, with their units. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "cycle_ms.p50" -> "ms")

  /** The workload-specific end-to-end figures; measured with tracing off
    * and reported by the traced run, each with its tracing overhead.
    */
  private val WorkloadFigures: Seq[(String, String)] = Seq(
    "backfill.rows_per_s" -> "rows/s", "backfill.scaling_eff" -> "ratio",
    "queries.total_s" -> "s", "queries.geomean_s" -> "s")

  val PerLayer: Seq[(String, String)] = WorkloadFigures ++ Seq(
    "failed_ops_ratio" -> "ratio",
    "tables.read.scan_tasks" -> "count", "tables.read.scan_run_ms" -> "ms",
    "features.skew_safe.pass_ms" -> "ms", "features.skew_safe.shuffle_bytes" -> "bytes",
    "features.skew_safe.spill_bytes" -> "bytes", "features.skew_safe.task_skew" -> "ratio",
    "features.skew_safe.busy_ratio" -> "ratio") ++
    CurationQueries.Queries.map(q => s"query.$q.s" -> "s") ++ Seq(
    "queries.jobs_total" -> "count", "queries.tasks_total" -> "count",
    "operators.caches.leftover" -> "count",
    "spark.cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.fetch_wait_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.task_retries" -> "count") ++
    Seq("bench", "tables", "features", "operators", "sink").map(l => s"self_ms.$l" -> "ms") ++
    Seq("cycle_ms.p50" -> "ms", "backfill.rows_per_s" -> "rows/s", "queries.total_s" -> "s",
      "queries.geomean_s" -> "s").map { case (k, u) => s"trace_overhead.$k" -> u }

  val RateUnits = Set("rows/s")
  val TimingUnits = Set("ms", "s") ++ RateUnits
}

object Util {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of a fixed ladder of percentiles that has at least ten
    * samples above it: (percentile, value). With fewer than 20 samples no
    * percentile qualifies and the median is returned as (50, median).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
      .getOrElse((50.0, median(xs)))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Every digit of the measured value (shortest round-trip form). */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes of all regular files under `p`. */
  def du(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Number of parquet data files under `p`. */
  def files(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** The sink every timed job ends in: row count and the 64-bit wrapping
    * sum of one xxhash64 per row over EVERY output column, so no column can
    * be pruned away and the digest checks the output. The row hash chains
    * the columns in order, with a null flag after each (xxhash64 skips
    * nulls), so a value that moves to another row or column changes it; the
    * sum, unlike a xor, also counts duplicate rows. It is summed as two
    * 32-bit halves, which cannot overflow a long below 2^31 rows.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.toSeq.flatMap(c => Seq(col(c), isnull(col(c)))): _*)
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), sum(col("__h").bitwiseAND(0xFFFFFFFFL)),
        sum(shiftrightunsigned(col("__h"), 32)))
      .head()
    val half = (i: Int) => if (r.isNullAt(i)) 0L else r.getLong(i)
    (r.getLong(0), half(1) + (half(2) << 32))
  }

  def session(name: String, cores: Int, scratch: Path, shufflePartitions: Int,
      coalesce: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", coalesce.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
