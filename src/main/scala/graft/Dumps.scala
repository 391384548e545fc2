package graft

import org.apache.spark.sql.DataFrame

/** Cross-engine oracle dumps (the discipline from QueriesCorpus, factored):
  * engine-local intermediates that DuckDB cannot recompute (xxhash64
  * signatures, counter-based PRNG draws, hyperplane weights) are written to
  * a fixed path during `graft.Verify`, and the oracle SQL replays ALL
  * downstream semantics (bucketing topology, joins, verification math) over
  * the dumps. Disabled outside Verify so benchmarks never pay the write.
  */
object Dumps {
  /** Scratch root every dump path derives from: env `SPARK_GRAFT_SCRATCH`,
    * else the absolute path of `target` under the working directory (the
    * repository root when run through sbt). The paths appear literally in
    * the oracle SQL, so the run that writes the dumps and the oracle that
    * reads them must see the same value.
    */
  val Root: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
    new java.io.File("target").getAbsolutePath)

  val Dir = s"$Root/graft_dumps"

  @volatile var enabled = false

  /** Write `df` as a single-file parquet dump (tiny tables only). */
  def write(df: => DataFrame, name: String): Unit =
    if (enabled)
      df.coalesce(1).write.mode("overwrite").parquet(s"$Dir/$name.parquet")
}
