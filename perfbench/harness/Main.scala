package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{GraftSession, SparkEntry}

/** Benchmark client JVM. Calls only graft's public functions.
  *
  *   setup <cores>
  *     build the session, run a trivial job, print `ready`, exit.
  *   run <cores> <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  *     the same set-up, then one workload; raw per-request records go to
  *     <outDir>/result.json (and spans to <outDir>/trace.json when traced).
  *
  * perfbench/run.py launches it and turns the records into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cores = args(1).toInt
    val spark = GraftSession.build(s"local[$cores]", cores.toString)
    spark.range(1).count()
    println("ready")
    System.out.flush()
    if (args(0) == "run") {
      val Array(_, _, workload, seed, seconds, trace, dataDir, outDir) = args
      val out = Paths.get(outDir)
      Files.createDirectories(out)
      val runner = new Runner(spark, trace == "1")
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val gc0 = gcMs()
      val rng = new Random(seed.toLong)
      val extra: Map[String, Any] = workload match {
        case "registry_mix" =>
          RegistryMix.run(runner, rng, dataDir, out, seconds.toLong)
        case "produce_fetch" =>
          ProduceFetch.run(runner, rng, dataDir, seconds.toLong)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val jvm = Map(
        "gc_ms" -> (gcMs() - gc0).toDouble,
        "heap_peak_mb" -> heapPeak / 1048576.0,
        "peak_rss_mb" -> vmHwmKb() / 1024.0,
        "resident_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> sys.props("java.version"),
        "spark" -> spark.version)
      val result = Map(
        "workload" -> workload, "seed" -> seed.toLong, "cores" -> cores,
        "jvm" -> jvm, "workload_info" -> extra,
        "requests" -> runner.reqs.map(r => Map(
          "id" -> r.id, "name" -> r.name, "module" -> r.module,
          "phase" -> r.phase, "traced" -> r.traced, "ok" -> r.ok,
          "error" -> r.error, "start_ms" -> r.startMs, "wall_ms" -> r.wallMs,
          "check_ms" -> r.checkMs,
          "steps" -> r.steps.map(s => s.name -> s.us / 1000.0).toMap) ++ r.attrs))
      Files.writeString(out.resolve("result.json"), Json(result))
      if (trace == "1")
        Files.writeString(out.resolve("trace.json"), Json(runner.spans))
    }
    spark.stop()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set (VmHWM) of this process, in KiB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Order-insensitive digest of a result, to compare repeats of a request. */
  def digest(rows: Array[org.apache.spark.sql.Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode
}

/** Registry requests as one client sends them: Kafka-semantics requests
  * (fetch, offsets, groups, transactions, schema registry) beside
  * curation and analytics requests whose builders fit models and cache
  * frames. Each returns at most a few thousand rows, so driver-side build,
  * planning and job scheduling dominate; the frame cache runs under a
  * budget below the frames these requests keep resident.
  */
object RegistryMix {
  val Queries: Seq[String] = Seq(
    "fetch", "list_offsets", "compact",
    "consumer_lag", "group_offsets", "describe_groups",
    "read_committed", "txn_state", "producer_dedup",
    "schema_versions",
    "kmeans_clusters", "dedup_minhash_lsh", "dedup_simhash",
    "anomaly_minutes")

  /** Frame-cache budget in bytes (`graft.cache.budget`). Without a budget
    * these requests keep ~3.4 MB resident in 7–8 frames.
    */
  val CacheBudget = 1000000L

  /** The warm phase makes one pass (every request once) per this many
    * seconds of the run length, at least one. A pass takes ~8 s on a
    * 4-core host; the benchmark's 20 s make three passes, 42 warm
    * requests, so the tail has ten samples beyond it well inside the
    * slow requests.
    */
  val PassSeconds = 6

  private val moduleOf: Map[String, String] = Seq(
    "log" -> (graft.log.LogOps.queries.keySet ++ graft.log.BrokerOps.queries.keySet),
    "coordinator" -> (graft.coordinator.Groups.queries.keySet ++
      graft.coordinator.GroupMetadataCodec.queries.keySet),
    "txn" -> graft.txn.Transactions.queries.keySet,
    "registry" -> graft.registry.SchemaRegistry.queries.keySet,
    "llm" -> (graft.llm.Dedup.queries.keySet ++ graft.llm.Clustering.queries.keySet),
    "analytics" -> graft.analytics.Analytics.queries.keySet)
    .flatMap { case (m, names) => names.map(_ -> m) }.toMap

  def run(runner: Runner, rng: Random, dir: String, out: Path,
      seconds: Long): Map[String, Any] = {
    val spark = runner.spark
    System.setProperty("graft.cache.budget", CacheBudget.toString)
    val first = scala.collection.mutable.Map[String, Int]()
    def request(q: String, phase: String, traced: Boolean): Unit =
      runner.run(q, moduleOf.getOrElse(q, "other"), phase, traced) {
        runner.query(SparkEntry.queries(q)(spark, dir))
      } { (r, rows) =>
        r.attrs("rows") = rows.length.toLong
        val d = Main.digest(rows)
        first.get(q) match {
          case None =>
            // The first result goes to the DuckDB oracle after the run.
            first(q) = d
            spark.createDataFrame(rows.toSeq.asJava, r.df.schema).coalesce(1)
              .write.parquet(out.resolve("results").resolve(q).toString)
          case Some(d0) =>
            if (d != d0) r.fail("result differs from this run's first result")
        }
      }
    // The client repeats a seeded cycle of the requests: the cold pass is
    // its first round, then the cycle runs a fixed number of times. A
    // cycle is LRU's worst case: Spark's generated-class cache and the
    // budgeted frame cache have dropped a request's entries before it
    // comes round again, so warm figures include code-generation
    // recompiles and frame rebuilds by construction (see NOTES.md).
    // Traced runs alternate traced and untraced requests, flipping each
    // pass so every request gets both; the untraced half measures what
    // tracing costs.
    val passes = math.max(1L, seconds / PassSeconds).toInt
    val cycle = rng.shuffle(Queries)
    cycle.foreach(request(_, "cold", true))
    Seq.fill(passes)(cycle).flatten.zipWithIndex.foreach {
      case (q, i) => request(q, "warm", (i + i / cycle.size) % 2 == 1)
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json(
      Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    Map("queries" -> Queries, "passes" -> passes,
      "cache_budget_bytes" -> CacheBudget)
  }
}
