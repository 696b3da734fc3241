package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  /** Non-SQL-expressible op → driver records a weaker rows-only check. */
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)

  /** Run `f` against a fresh scratch path (inside a new temp dir),
    * materialize its result, then delete the dir: a query that builds
    * an on-disk artifact (an index, a mirror) pays the build itself,
    * and no artifact outlives the query to be read by a later run. */
  private[queries] def withScratchDir(s: SparkSession, prefix: String)(
      f: String => DataFrame): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory(prefix).toString)
    try f(s"$root/d").localCheckpoint() // materialize before the delete
    finally root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
  }
}
