package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration. One place for
  * the settings that matter at scale, so Verify/Bench/tests all agree. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE: runtime coalescing of small shuffle partitions + skew-join
      // splitting — the production stance for 100 TB plans.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
      // rejects; read as raw nanos longs (Tables.events converts back).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // typed Aggregators (e.g. SimHash signatures) keep object buffers
      // in ObjectHashAggregate; the default 128-key fallback would push
      // every realistic cardinality to slow sort-based aggregation.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // plan-text fingerprints hash scan metadata (DataFilters/
      // PushedFilters): at the 100-char default these strings truncate at
      // a byte offset that MOVES when an embedded JVM identity hash
      // (e.g. a codegen'd expression's `[J@<hex>` mask argument) prints
      // with a different hex LENGTH, flapping the canonical form across
      // otherwise identical runs (r9: embedding_rp_components). Print
      // enough that registry plans don't truncate (the canonicalizer's
      // stripTruncationTails covers the rest); 1 KiB, not unbounded —
      // plan-dump cost rides on every explain and fingerprint pass.
      .config("spark.sql.maxMetadataStringLength", "1024")

  def create(): SparkSession = {
    // one task thread per core: oversubscribing (local[32] on a few cores)
    // measured slower, not faster
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
