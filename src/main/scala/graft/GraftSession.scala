package graft

import org.apache.spark.sql.SparkSession

/** One source of truth for engine session configuration. Verify, Bench,
  * and user code build sessions here so the scale posture (AQE, shuffle
  * partitioning, timezone, nanos handling) is uniform.
  */
object GraftSession {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). The default of 100 is smaller
    * than one day of the daily DAG compiles, so each day recompiled the
    * plans the day before had compiled; 4,000 covers the engine's working
    * set. Spark 4.1.2 reads the size once, when `CodeGenerator$` is first
    * initialized (its static initializer calls
    * `SQLConf.get.codegenCacheMaxEntries`): the setting holds only when the
    * JVM's first session is built here, and setting it later does nothing. */
  private val CodegenCacheEntries = 4000

  /** Tuned builder. `shufflePartitions` should track the actual
    * parallelism: cores locally, ~2-3× total executor cores on a cluster
    * (AQE coalesces downward at runtime). */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (see Env.events). Set here so driver-created sessions match.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
