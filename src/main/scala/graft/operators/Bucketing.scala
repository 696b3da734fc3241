package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed-table layout (SURVEY §7.4#6: "bucket by link hash for
  * dedup joins"). Writing both sides of a recurring join bucketed on
  * the join key makes every subsequent join shuffle-free: the scan is
  * already hash-partitioned and (with sortBy) sorted, so the planner
  * emits a SortMergeJoin with NO Exchange on either side. At 100 TB
  * this converts the nightly dedup/enrichment joins from full-shuffle
  * jobs into partition-local merges.
  */
object Bucketing {

  /** Persist `df` as a bucketed+sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Spread the low 16 bits of `c` into the even bit positions of a
    * 32-bit value (the classic magic-masks Morton step) — pure
    * integer column arithmetic, reproducible in any engine. */
  private def spread16(c: Column): Column = {
    val m = Seq(
      (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    m.foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (x, (s, mask)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(mask))
    }
  }

  /** Z-order (Morton) key interleaving two 16-bit bucket ids — the
    * multi-dimensional layout key behind lakehouse ZORDER clustering:
    * sorting/range-partitioning files by z keeps rows close in BOTH
    * dimensions close on disk, so min/max file stats prune scans for
    * predicates on EITHER dimension (a single-column sort only prunes
    * its own column). Callers bucket each dimension into [0, 65536)
    * first (e.g. pmod of a hash, or epoch DIV width). */
  def zorder16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Cluster-write: range-partition on the layout keys, sort within
    * partitions, and cap rows per file, so every parquet row group's
    * per-column min/max stats are TIGHT along the sort order. A pushed
    * predicate on a clustered dimension then skips whole row groups at
    * the reader — the scan materializes ~|selected| rows instead of
    * |table| — while the same data written unsorted skips nothing
    * (every row group spans the full value range). With a `zorder16`
    * key BOTH interleaved dimensions get tight stats, so 2-D box
    * predicates prune without any partition column. Two stock Spark
    * primitives; no custom reader. SkewSpec pins the row-group-skip
    * behavior with scan metrics; SCALE.md "Clustered (z-order)
    * layout" holds the measurement at scale. */
  def writeClustered(df: DataFrame, keys: Seq[Column], path: String,
      files: Int, maxRecordsPerFile: Long): Unit =
    df.repartitionByRange(files, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
}
