package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.probeSession("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    // Optional dev filter (same contract as Bench): SPARK_GRAFT_ONLY=
    // q86,q87 dumps just those queries. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → oracle SQL as one JSON object,
    * every key and value escaped through [[JsonStr]] — a tab, CR,
    * quote or backslash in the SQL must not break the compare's
    * `json.load`. */
  def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${JsonStr(k)}: ${JsonStr(v)}" }.mkString("{", ",", "}")
}
