package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's local session configuration lives —
  * Verify, Bench, and the runnable demos previously each rebuilt the
  * same block (UTC, nanos flag, cpu-matched shuffle partitions). */
object GraftSession {
  def local(appName: String,
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are tz-less micros (isAdjustedToUTC=false);
      // read them as session-TZ TIMESTAMP, not TIMESTAMP_NTZ, so casts
      // (ts -> double/long) and the Encoder-based streaming twins keep
      // the LTZ type every operator and oracle was written against.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // The JVM-wide cache of generated classes holds 100 by default. A
      // cold curation pass alone compiles ~135 distinct classes (sf0.001,
      // counted with this cache), so at 100 the LRU cycled through the
      // recipe and every pass recompiled most of it. 2000 holds the
      // recipe's working set with room for what else the session runs.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
    extraConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
