package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults chosen for correctness-vs-oracle and 100 TB-scale habits:
  *   - UTC session timezone (oracle parity; FIXTURES.md §3).
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     join-strategy switching are the knobs that keep a fixed plan
  *     healthy at 1000x the data.
  *   - shuffle.partitions sized to the local core count (the driver runs
  *     local[32]); on a real cluster this is overridden per deploy, and
  *     AQE coalescing makes the static number mostly a ceiling.
  */
object GraftSession {

  def builder(appName: String, master: Option[String] = None): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Preserve cached-plan output partitioning: with this on (the
      // Spark 4 default) every InMemoryTableScan reports Unknown
      // partitioning at planning time and downstream joins/aggregates
      // re-Exchange a frame that is ALREADY hash-partitioned on the key
      // — measured on the x39 loop as one extra full shuffle of the
      // cached edge frame per iteration. Iterative operators (pageRank,
      // connectedComponents) pin their loop-state partitioning
      // explicitly and rely on it being visible across the cache
      // boundary (IterUtil.pin); the cost is losing AQE re-optimization
      // inside cached subplans, which those pinned frames (small,
      // explicitly repartitioned, released by their loop) never needed.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has carried NANOS or MICROS timestamps depending on
      // corpus vintage. NANOS files are otherwise rejected by the parquet
      // reader (PARQUET_TYPE_ILLEGAL); this conf surfaces them as LONG
      // nanos, and Tables.load converts via `div 1000` ONLY when the column
      // actually reads as LONG. MICROS files read as TIMESTAMP unaffected.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.orElse(sys.env.get("SPARK_GRAFT_MASTER")) match {
      case Some(m) => b.master(m)
      case None if sys.props.contains("spark.master") => b
      case None => b.master(s"local[$cpus]")
    }
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
