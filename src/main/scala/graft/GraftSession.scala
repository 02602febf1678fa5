package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: `Bench`, `Verify`, `StreamBench`, the dev
  * harnesses and the test suite's shared session all come from [[local]].
  * Each session gets the same engine: [[GraftExtensions]] (graft's SQL
  * functions and the `RangeJoinRewrite` optimizer rule), the RocksDB state
  * store, a 64 MB broadcast threshold, AQE with partition coalescing and
  * skew joins, one shuffle partition per core, UTC and no UI.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitioning, AQE, and broadcast thresholds are configured the way a
  * 1000-executor deployment would be (modulo partition counts, which the
  * caller scales to the cluster).
  */
object GraftSession {

  /** Local cores when the caller names none: `$SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees.
    */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // RocksDB state store: streaming state (windows, running totals, dedup
      // keys) spills off-heap and scales past executor memory — at 100 TB
      // the HDFS-backed in-memory provider OOMs on state size long before
      // throughput is a problem.
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      )
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
