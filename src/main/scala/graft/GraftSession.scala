package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Scale posture: shuffle partitions come from the caller (the CLI mains
  * pass one per core, the test session `local[4]` with 4, the benchmark
  * two per core; thousands on a real cluster), AQE is on so skewed
  * shuffles re-split at runtime, and broadcast joins stay enabled for dim
  * tables. Nothing here assumes single-node execution.
  *
  * Task sizing: Spark sizes scans and coalesced shuffles to the cores by
  * itself (`bytesPerCore` = input / `defaultParallelism`); two floors
  * meant for large clusters stop that for small inputs, so a few-MB
  * input ran as one task per stage on any number of cores. Both are
  * lowered here:
  *  - `spark.sql.files.openCostInBytes` 4 MiB -> 256 KiB. A scan's split
  *    size is `min(maxPartitionBytes, max(openCost, bytesPerCore))`, so
  *    an input under ~cores x 4 MiB got one split; parquet splits on
  *    row-group midpoints, so a 3.6 MB file of 16 row groups now spreads
  *    over 4 tasks. A file under 256 KiB still scans as one split, so
  *    tiny inputs keep their task count. The open cost still counts
  *    toward each file's split, so many small files still pack together.
  *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` 1 MiB ->
  *    64 KiB. AQE coalesces a shuffle to `max(minPartitionSize,
  *    total / defaultParallelism)` per reducer (`parallelismFirst`), so
  *    a shuffle under ~cores x 1 MiB collapsed to one reducer; one of a
  *    few hundred KB now keeps one per core, and one under ~cores x
  *    64 KiB still runs as one reducer.
  * Above those sizes both formulas are governed by `bytesPerCore`,
  * `maxPartitionBytes` and the advisory partition size exactly as with
  * Spark's defaults, so this changes nothing at scale. Callers can still
  * override either with `.config` after `builder`.
  *
  * Generated code: `spark.sql.codegen.cache.maxEntries` 100 -> 1000.
  * Spark caches each Janino-compiled class under its source and the
  * compiling thread's class loader, so in local mode a class is held
  * twice, once for the driver's loader and once for the executor's. The
  * 8 `events-scan` queries need 114 entries and one corpus-ingest batch
  * compiles ~230 classes, so under 100 every warm pass recompiled what
  * the last one had compiled. Ingest bootstrap plus batches measure
  * ~290-380 entries, which 1000 holds with 2x headroom. The cap is what
  * bounds driver memory: each key keeps its generated Java source, ~30
  * KB of heap per entry (corpus-ingest retained 98.6 -> 104.2 MB with
  * ~290 entries against 100). The conf is static: Spark reads it once
  * per JVM, from the session active where code is first generated, so
  * it belongs here; `.config` still overrides it.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
