package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration shared by the bench, the
  * correctness dump, the diagnostic tools and the specs. Callers choose
  * only the core count and the shuffle-partition count. */
object Sessions {
  def local(cores: Int, partitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // bounded-buffer typed aggregates (TopKAgg/MinKByAgg) group by
      // corpus-sized keys: the 128-key default silently flips
      // ObjectHashAggregate to sort-based, paying a map-side sort of
      // the whole input (measured 2.7x on the pair summaries); buffers
      // are <= k rows per group, so hash aggregation is safe
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the whole-stage-codegen class cache defaults to 100 entries — a
      // registry of 200+ plans generates far more, so with the default
      // every pass re-pays Janino compilation for every query (the same
      // setting any production deployment running hundreds of distinct
      // plans per executor lifetime would raise). Static conf: must be
      // set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
}
