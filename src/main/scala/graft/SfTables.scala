package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loader of the scale-factor input tables the `Queries*` objects
  * read: table `name` is the parquet directory `<dir>/<name>.parquet`, the
  * same path the DuckDB oracles read.
  */
object SfTables {
  def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")
}
