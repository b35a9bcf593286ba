package graft

import org.apache.spark.sql.SparkSession

/** Session factory used by specs, Bench, Verify, the tools and
  * graftbench: the one place graft's session settings live.
  *
  * Scale posture: shuffle partitions match local cores here; on a real
  * cluster the same code relies on AQE (enabled) to coalesce/split
  * post-shuffle partitions, so no operator hard-codes partition counts.
  *
  * Codegen cache: Spark keeps whole-stage-codegen classes in an LRU
  * cache of `spark.sql.codegen.cache.maxEntries` entries, 100 by
  * default. The 8 graftbench curate queries alone generate about 300
  * classes and the 113-query suite thousands, so at the default each
  * pass evicts every class before the next pass needs it, and pays
  * Janino and the fresh class's JIT warm-up again: a warm curate pass
  * recompiled 268-309 classes at the default and 12-28 at 5000, and
  * its wall fell by a quarter; Bench measured +20% suite wall at the
  * default. 5000 holds the whole suite. The conf is static: Spark reads
  * it once per JVM, so it must be set when the first session is built.
  * The cost is heap: the cache key is the generated source text and
  * each entry keeps its class, about 5-6 MB more live heap for
  * graftbench's workloads.
  */
object GraftSession {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // reliable-checkpoint files (Tables.materialize on a session
      // with a checkpoint dir) are only GC-reclaimed with this on;
      // the default (false) leaks them for the session's lifetime
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietCheckpointNoise()
    spark
  }

  /** The bounded-loop release pattern (Tables.materialize + release)
    * makes Spark WARN once per freed local-checkpoint RDD ("lineage
    * has been truncated and cannot be recomputed") — expected and
    * harmless here, but dozens per run bury real warnings. RDD-class
    * loggers go to ERROR; everything else stays at WARN. */
  def quietCheckpointNoise(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
}
