package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Defaults are chosen for the 100 TB design point, scaled down to the
  * local[N] test harness: AQE on (runtime partition coalescing + skew-join
  * splitting replace the reference's static range splits,
  * program.c:143-181,378-413), shuffle partitions sized to cores rather
  * than Spark's default 200, UTC session time zone for oracle parity.
  *
  * The whole-stage codegen cache holds 2000 generated classes instead of
  * Spark's 100. A pass over a mix of sub-second headline queries
  * compiles about 177 distinct classes (the 20-query benchmark floor
  * mix), so a 100-entry LRU evicts every class before its query comes
  * round again and each run pays its Janino compiles afresh (about 9
  * per query). On that mix the larger cache cost about 11 MB of peak
  * heap after GC (197 → 208 MB, 2 GB heap). The setting is a static
  * conf: it only takes effect when set here, before `getOrCreate`.
  */
object Engine {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // Engine extensions: native codegen'd expressions (graft_dot).
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      // Harness events.parquet stores TIMESTAMP(NANOS), which Spark's
      // parquet reader rejects by default; read as raw nanos and let
      // Tables.events convert (losslessly — the data is µs-precision).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")

  /** One shared session for tests / mains. */
  def session(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
