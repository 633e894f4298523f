package graft.core

import org.apache.spark.sql.SparkSession

import graft.plans.{LakeExtensions, LakeParser}

/** The one place a graft engine session is configured. Bench, Verify, the
  * tools and the test suites all build their session here, so a profile
  * or a test runs the same engine the bench times and the oracle checks.
  *
  * Only deployment settings are parameters: the core count (local master
  * and shuffle partitions) and the warehouse directory. The rest is the
  * engine's configuration, measured at sf0.1 (see the comments below).
  *
  * Idempotent: a second call returns the session the first one built,
  * with `LakeExtensions` and the dialect functions installed once.
  */
object Sessions {
  def get(cores: Int, warehouseDir: String = "spark-warehouse"): SparkSession =
    synchronized {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        // extensions apply only when the session is CREATED; the check
        // below turns a session built elsewhere into a loud failure
        .withExtensions(new LakeExtensions)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        // Coalesce post-shuffle partitions to the advisory size instead of
        // keeping one per core (the Spark tuning guide's recommended
        // setting): at sf0.1 a 2 MB shuffle otherwise fans out to 32
        // near-empty reducers per stage, and at 100 TB the advisory size
        // is the setting that keeps reducer inputs memory-sized anyway.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
        // Size file splits for the bench SF: the sf0.1 tables are a few
        // MB, so the 128MB default packs every file into ONE scan task and
        // serializes the decode; 4MB splits + 1MB open cost spread the
        // compacted files (see sources.Compaction) across the cores exactly
        // as a 100 TB table's 128MB files spread across a cluster. Measured
        // best among {128MB/4MB, 4MB/1MB, 1MB/512KB} at sf0.1.
        .config("spark.sql.files.maxPartitionBytes", s"${4L * 1024 * 1024}")
        .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
        // The 8 headline queries together hold well over the default 100
        // generated-class cache entries; with the default, round-robin
        // repeats evict and Janino-recompile every stage on every run
        // (~0.3 s/query of pure recompilation, measured: q01 isolated
        // 0.225 s vs 0.546 s interleaved). A long-lived engine would carry
        // its compiled operators; let it.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.warehouse.dir", warehouseDir)
        .getOrCreate()
      require(spark.sessionState.sqlParser.isInstanceOf[LakeParser],
        "a SparkSession built outside graft.core.Sessions is active; " +
          "it lacks graft.plans.LakeExtensions")
      graft.functions.Dialect.register(spark) // idempotent
      spark
    }
}
