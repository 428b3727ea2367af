package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every entrypoint (Verify, Bench, tests)
  * must share for cross-engine parity:
  *
  * - `nanosAsLong`: two events generations exist — TIMESTAMP(NANOS) files
  *   (which Spark 4 refuses to read as a timestamp; this flag reads them as
  *   exact nanos longs) and TIMESTAMP(MICROS) files (read as TimestampType
  *   and canonicalized to nanos longs by Tables.canonTs). Either way every
  *   entrypoint sees `ts` as BIGINT nanos (DuckDB's epoch_ms(ts) ==
  *   ts_ns div 1_000_000).
  * - `inferTimestampNTZ=false`: millis timestamps read as TIMESTAMP (session
  *   tz UTC) so unix_millis() works and literals compare like DuckDB's
  *   naive timestamps.
  * - Shuffle fan-out is SIZE-AWARE, not one-size: shuffles plan at cores
  *   (`initialPartitionNum` = cores, AQE coalesces below that on tiny
  *   inputs), and the handful of object-aggregation builds whose per-task
  *   hash state grows with the data (collect_set over fact-cardinality
  *   keys — the one class measured to OOM at the 1000x decade check) wrap
  *   themselves in [[withWideState]], which raises the fan-out to 16x
  *   cores for exactly that build. Round 12 ran 16x SESSION-WIDE and paid
  *   0.1–0.4 s per metadata-sized query across the whole registry (the
  *   schema family ran 2–5x slower) for an envelope only those builds
  *   need; measured at sf0.1/local[32]: 112 of 327 queries >50 ms faster
  *   at cores vs 16x, 8 the other way, net −14 s on the registry.
  */
object GraftSession {
  private val InitParts = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Sized to the
    * registry's working set so each class is compiled once per session.
    * Measured on a 4-core host at local[4]:
    *
    * - `graft.Bench` at sf0.001 (both passes in one session): the
    *   378-query registry compiles 2,904 classes in its first pass and 86
    *   in its second at this size; at 100 entries, 4,889 and 3,996, and
    *   the warm pass took 128.5 s against 83.4 s (the two runs side by
    *   side). At sf0.1: 2,926 and 88. 8192 leaves 2.7x headroom over the
    *   ~3,000 distinct classes.
    * - Metaspace at the end of the run: 214 MB at this size, 216 MB at
    *   100 entries. Resident classes cost about what the default's
    *   churn of evicted, not-yet-unloaded classes does.
    * - The 14 requests of the perfbench registry_mix workload (fetch,
    *   offsets, groups, transactions, schema, curation, analytics) need
    *   ~270 classes when every column is collected. At 100 entries the
    *   first pass compiles 276 and each later pass recompiles 160–164;
    *   here the third pass compiles none. Over five seeds its
    *   `warm_p50_ms` went from 505 ms (quartiles 462–579) to 303 ms
    *   (287–364), `throughput_rps` from 1.60 to 2.50, with `cold_s`
    *   unchanged (18.8 vs 18.7 s); a traced pair cut
    *   `exec.task_ms` 336 → 131 ms and `exec.post_ms` 136 → 88 ms, with
    *   peak RSS 1,362 → 1,328 MB.
    *
    * The setting is static, so it goes on the builder. `CodeGenerator`'s
    * cache is JVM-wide and takes its size from the first session that
    * generates code; every entrypoint builds its session here, so they all
    * agree. `CodegenCacheSpec` pins it.
    */
  val CodegenCacheEntries = 8192

  def build(master: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Apply AQE partition coalescing to CACHED plans too: persisted
      // frames built under a wide fan-out (withWideState) would otherwise
      // materialize with every initial shuffle partition (512 tiny cached
      // blocks at local scale) and force that width onto every consumer
      // stage — measured 4x on basket_lift's steady-state pass.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config(InitParts,
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` (which must EXECUTE its jobs eagerly — a persist+count or
    * localCheckpoint) with shuffles planned at 16x the session's reducer
    * count, AQE coalescing down. This is the 1000x memory envelope for
    * object-aggregation state over fact-cardinality keys (per-order
    * collect_set at 600M rows OOMs a 32 GiB JVM when the rows land on a
    * handful of reducers; at 16x the per-task hash map stays bounded) —
    * exactly the knob a 1000-executor cluster turns up for such a stage,
    * paid ONLY by the stage that needs it instead of by every
    * metadata-sized exchange in the session.
    */
  def withWideState[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(InitParts)
    val wide = (spark.conf.get("spark.sql.shuffle.partitions").toInt * 16)
    spark.conf.set(InitParts, wide.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(InitParts, v)
      case None => spark.conf.unset(InitParts)
    }
  }
}
