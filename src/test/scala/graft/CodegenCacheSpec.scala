package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session's generated-class cache holds a mixed request stream's
  * working set. Cycling log, group, transaction, schema-registry,
  * curation and analytics requests needs ~270 distinct classes; at
  * Spark's default of 100 entries the cycle evicts every class before its
  * next use and each pass recompiles them all. Sized by
  * [[GraftSession.CodegenCacheEntries]], each class compiles once.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", "4")
  val dir = "/root/testdata/sf0.001"
  val requests = Seq(
    "fetch", "list_offsets", "compact",
    "consumer_lag", "group_offsets", "describe_groups",
    "read_committed", "txn_state", "producer_dedup",
    "schema_versions",
    "kmeans_clusters", "dedup_minhash_lsh", "dedup_simhash",
    "anomaly_minutes")

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session sizes the codegen cache to the registry's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated request mix compiles each generated class once") {
    // Pass 1 builds the session's cached frames, so pass 2 plans over
    // them for the first time; pass 3 repeats pass 2's plans exactly.
    val perPass = Seq.fill(3) {
      val c0 = compiled()
      requests.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
      compiled() - c0
    }
    assert(perPass(2) == 0, s"classes compiled per pass: $perPass")
  }
}
