package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.functions.Parity
import graft.sources.{Glog, GlogOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Appends beside reads on a glog store. Appends compose the public calls
  * `Streams.runGlogIngest`'s sink composes: `Glog.listEnds`, offsets that
  * continue each (topic, part), then `Glog.writeSegments`. Reads are
  * bounded fetches through the `glog` source and `listEnds`; every few
  * appends the store is compacted into a fresh path.
  *
  * Segment names are unique per append (`segment-a<i>`) and the sink's
  * `dropBatchSegments` is never called: a second ingest into one store
  * restarts at batch 0 and would delete earlier segments, and
  * `writeSegments` into a taken name keeps the old segment.
  */
object ProduceFetch {
  /** The events table is appended in this many disjoint slices, each at
    * most once, so every record in the store is distinct.
    */
  val Slices = 40
  val FetchMax = 500
  /** One warm round: mostly reads between appends, then a compaction.
    * The warm phase is a fixed number of rounds, never a deadline, so the
    * ops a run makes do not depend on how fast the engine is.
    */
  val Cycle: Seq[String] = "append" +: "list_ends" +: Seq.fill(12)("fetch")
  val Round: Seq[String] = Cycle ++ Cycle ++ Cycle :+ "compact"
  /** The warm phase makes one round per this many seconds of the run
    * length, at least one. A round takes 12–16 s on a 4-core host.
    */
  val RoundSeconds = 15

  final case class Ev(topic: String, part: Long, tms: Long, k: String, v: String)

  def run(runner: Runner, rng: Random, dir: String,
      seconds: Long): Map[String, Any] = {
    val spark = runner.spark
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val store = tmp.resolve("glog-store").toString
    // Projected exactly as the ingest sink projects its micro-batches.
    val projected = graft.Tables.t(spark, dir, "events").select(
      col("event_type").as("topic"), pmod(col("user_id"), lit(8L)).as("part"),
      Parity.nsToMs("ts").as("tms"), col("event_id"),
      col("user_id").cast("string").as("k"), col("props").as("v"))
    val model: Map[Long, Ev] = projected.collect().map(r =>
      r.getAs[Long]("event_id") -> Ev(r.getAs[String]("topic"),
        r.getAs[Long]("part"), r.getAs[Long]("tms"), r.getAs[String]("k"),
        r.getAs[String]("v"))).toMap
    val ids = model.keys.toVector.sorted
    val sliceLen = math.max(1, (ids.size + Slices - 1) / Slices)
    val slices = rng.shuffle(ids.grouped(sliceLen).toVector)
    // What the store must hold: event ids in offset order per (topic, part).
    val log = mutable.Map[(String, Long), mutable.ArrayBuffer[Long]]()
    var appends, compactions = 0
    var userBytes = 0L
    val tracedCount = mutable.Map[String, Int]().withDefaultValue(0)
    def traced(op: String): Boolean = {
      tracedCount(op) += 1
      tracedCount(op) % 2 == 1
    }
    def utf8(s: String): Long =
      if (s == null) 0L else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    def counters = Seq(Glog.batchesRead.get, Glog.batchesSkipped.get,
      Glog.payloadBytesDecoded.get)
    def glogCounters(r: Req, c0: Seq[Long]): Unit =
      Seq("batches_read", "batches_skipped", "payload_bytes_decoded")
        .zip(counters.zip(c0)).foreach { case (k, (a, b)) => r.attrs(k) = a - b }
    def files(root: String, segName: Option[String]): Seq[Path] = {
      val p = Paths.get(root)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter { f =>
          val n = f.getFileName.toString
          (n.endsWith(".glog") || n.endsWith(".glogx")) &&
            segName.forall(sn => n.startsWith(sn + "."))
        }.toVector finally s.close()
      }
    }
    def bytes(fs: Seq[Path]): Long = fs.map(Files.size).sum
    def expectedEnds: Map[String, Long] = log.collect {
      case ((t, p), xs) if xs.nonEmpty => s"$t/$p" -> xs.size.toLong
    }.toMap

    def append(phase: String): Unit = {
      val slice = slices(appends)
      val seg = s"segment-a$appends"
      appends += 1
      val c0 = counters
      runner.run("append", "sources", phase, traced("append")) {
        val ends = runner.step("list_ends", "sources")(Glog.listEnds(store, conf))
        val recs = runner.step("build", "entry") {
          val endsDf = ends.toSeq.map { case (key, e) =>
            val Array(t, p) = key.split("/", 2)
            (t, p.toLong, e)
          }.toDF("topic", "part", "prev_end")
          val w = Window.partitionBy("topic", "part").orderBy("event_id")
          projected.filter(col("event_id").between(slice.head, slice.last))
            .withColumn("rank", row_number().over(w).cast("long"))
            .join(broadcast(endsDf), Seq("topic", "part"), "left")
            .withColumn("offs", coalesce(col("prev_end"), lit(0L)) + col("rank") - 1L)
            .select("topic", "part", "offs", "event_id", "tms", "k", "v")
            .as[Glog.Rec]
        }
        runner.step("write", "exec")(Glog.writeSegments(recs, store, seg))
      } { (r, _) =>
        glogCounters(r, c0)
        slice.foreach { id =>
          val e = model(id)
          log.getOrElseUpdate((e.topic, e.part), mutable.ArrayBuffer()) += id
          userBytes += utf8(e.k) + utf8(e.v)
        }
        val written = files(store, Some(seg))
        r.attrs("records") = slice.size.toLong
        r.attrs("segments_written") = written.count(_.toString.endsWith(".glog")).toLong
        r.attrs("bytes_written") = bytes(written)
      }
    }

    def fetch(phase: String): Unit = {
      val keys = log.keys.toVector.sorted
      val (t, p) = keys(rng.nextInt(keys.size))
      val o = rng.nextInt(log((t, p)).size)
      val c0 = counters
      runner.run("fetch", "sources", phase, traced("fetch")) {
        runner.query(spark.read.format("glog").load(store)
          .filter(col("topic") === t && col("part") === p &&
            col("offs") >= o && col("offs") < o + FetchMax))
      } { (r, rows) =>
        glogCounters(r, c0)
        val got = rows.map(x => (x.getAs[Long]("offs"), x.getAs[Long]("event_id"),
          x.getAs[Long]("tms"), x.getAs[String]("k"), x.getAs[String]("v")))
          .sortBy(_._1).toSeq
        val want = log((t, p)).slice(o, o + FetchMax).zipWithIndex.map {
          case (id, i) => val e = model(id); (o + i.toLong, id, e.tms, e.k, e.v)
        }.toSeq
        r.attrs("records") = rows.length.toLong
        if (got != want) r.fail(s"fetch $t/$p@$o: ${got.size} records, want ${want.size}")
      }
    }

    def listEnds(phase: String): Unit =
      runner.run("list_ends", "sources", phase, traced("list_ends")) {
        runner.step("list_ends", "sources")(Glog.listEnds(store, conf))
      } { (r, ends) =>
        if (ends != expectedEnds) r.fail("listEnds disagrees with the appended records")
      }

    def compact(phase: String): Unit = {
      val outPath = tmp.resolve(s"glog-compact-$compactions").toString
      compactions += 1
      val c0 = counters
      runner.run("compact", "sources", phase, traced("compact")) {
        runner.step("compact", "exec")(GlogOps.compactStore(spark, store, outPath))
      } { (r, _) =>
        glogCounters(r, c0)
        r.attrs("compact_bytes_rewritten") = bytes(files(outPath, None))
        // One survivor per (topic, part, key): the latest by (tms, event id),
        // at its original offset.
        val want = log.toSeq.flatMap { case ((t, p), xs) =>
          xs.zipWithIndex.map { case (id, i) => (t, p, i.toLong, id) }
        }.groupBy { case (t, p, _, id) => (t, p, model(id).k) }.values
          .map(_.maxBy { case (_, _, _, id) => (model(id).tms, id) }).toSet
        val got = spark.read.format("glog").load(outPath)
          .select("topic", "part", "offs", "event_id")
          .as[(String, Long, Long, Long)].collect()
        if (got.length != want.size || got.toSet != want)
          r.fail(s"compacted store holds ${got.length} records, want ${want.size}")
      }
    }

    append("cold")
    fetch("cold")
    listEnds("cold")
    compact("cold")
    def op(name: String, phase: String): Unit = name match {
      case "append" => if (appends < slices.size) append(phase)
      case "fetch" => fetch(phase)
      case "list_ends" => listEnds(phase)
      case "compact" => compact(phase)
    }
    val rounds = math.max(1L, seconds / RoundSeconds)
    for (_ <- 1L to rounds) Round.foreach(op(_, "warm"))

    // Every appended record reads back exactly once, at dense offsets
    // from 0 in its (topic, part).
    val stored = spark.read.format("glog").load(store)
      .select("topic", "part", "offs", "event_id")
      .as[(String, Long, Long, Long)].collect()
    val want = log.toSeq.flatMap { case ((t, p), xs) =>
      xs.zipWithIndex.map { case (id, i) => (t, p, i.toLong, id) }
    }
    val storeFiles = files(store, None)
    Map(
      "store_check_ok" -> (stored.length == want.size && stored.toSet == want.toSet),
      "store_records" -> stored.length.toLong,
      "appended_records" -> want.size.toLong,
      "store_bytes" -> bytes(storeFiles),
      "store_files" -> storeFiles.size.toLong,
      "user_bytes" -> userBytes,
      "slices" -> slices.size, "slice_len" -> sliceLen,
      "appends" -> appends, "compactions" -> compactions, "rounds" -> rounds)
  }
}
