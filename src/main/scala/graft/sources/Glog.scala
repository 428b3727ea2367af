package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.util.concurrent.atomic.AtomicLong

import graft.log.LogOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `glog` — the engine's own segment file format for the partitioned log,
  * the storage-engine analog of the reference's entry formats
  * (/root/reference/kafka-impl/.../format/EntryFormatter.java) and ledger
  * layout (storage/PartitionLog.java): one directory per (topic, part),
  * segment files of length-prefixed record batches (magic, count, base
  * offset, then per record offset-delta / timestamp / event id / framed
  * key / framed value).
  *
  * The layout IS the index: topic/part predicates prune whole directories
  * before a byte is read, and each batch's header carries enough (base
  * offset + count) to skip it on an offset lower bound without decoding
  * records — exactly how the reference's fetch path seeks by offset.
  * [[GlogSource]] exposes it to Spark as a DataSource V2 table.
  */
object Glog {

  /** v3 header: magic, count, base offset. Still readable. */
  val Magic: Byte = 3
  /** v4 header adds the batch's max timestamp — the segment-embedded
    * time index (Kafka's .timeindex analog): a reader with a `tms` lower
    * bound skips whole batches from the header without decoding records,
    * exactly like the offset skip.
    */
  val MagicT: Byte = 4
  val MaxBatch = 100

  final case class Rec(topic: String, part: Long, offs: Long,
      event_id: Long, tms: Long, k: String, v: String)

  /** Test/diagnostic counters (single-JVM): batches decoded vs skipped by
    * the offset lower bound across all readers since last reset, and the
    * payload (key/value) bytes actually DECODED into strings — a
    * projection that needs neither stays at zero while the fixed-width
    * record headers stream past.
    */
  val batchesRead = new AtomicLong(0)
  val batchesSkipped = new AtomicLong(0)
  val payloadBytesDecoded = new AtomicLong(0)

  private def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skipBytes(left)
      if (s <= 0) { in.readByte(); left -= 1 } else left -= s
    }
  }

  def encodeBatch(recs: Seq[Rec]): Array[Byte] = {
    require(recs.nonEmpty, "empty record batch")
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val first = recs.head.offs
    out.writeByte(MagicT)
    out.writeInt(recs.size)
    out.writeLong(first)
    out.writeLong(recs.iterator.map(_.tms).max)
    recs.foreach { r =>
      val delta = r.offs - first
      require(delta >= 0 && delta <= Int.MaxValue, s"bad offset delta $delta")
      out.writeInt(delta.toInt)
      out.writeLong(r.tms)
      out.writeLong(r.event_id)
      def frame(s: String): Unit =
        if (s == null) out.writeInt(-1)
        else {
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(b.length); out.write(b)
        }
      frame(r.k)
      frame(r.v)
    }
    out.flush()
    bos.toByteArray
  }

  /** Iterate a segment stream's records; batches entirely below `fromOffs`
    * or at/after `untilOffs` are skipped from their headers without
    * decoding (or even buffering) the records — the header is read off the
    * stream and the body is `skip`ped, so an offset/time seek never copies
    * payload bytes (the [from, until) window is how a micro-batch reads
    * its slice).
    *
    * `needK` / `needV` thread the scan's column pruning down to the codec:
    * a projection that reads neither key nor value (a count, an offset
    * rollup) hops over each record body via its length prefixes instead of
    * materializing strings that the scan would immediately drop — the
    * payload is the dominant byte volume, so a metadata-only query decodes
    * ~0% of the store (GlogSpec pins payloadBytesDecoded == 0 for it).
    */
  def readSegment(in: DataInputStream, topic: String, part: Long,
      fromOffs: Long, untilOffs: Long = Long.MaxValue,
      minTms: Long = Long.MinValue,
      needK: Boolean = true, needV: Boolean = true): Iterator[Rec] =
    new Iterator[Rec] {
    private var cur: Iterator[Rec] = Iterator.empty
    private def advance(): Unit = {
      while (!cur.hasNext) {
        val batchLen =
          try in.readInt()
          catch { case _: EOFException => return }
        val magic = in.readByte()
        require(magic == Magic || magic == MagicT, "bad magic")
        val n = in.readInt()
        val base = in.readLong()
        // v4 carries the batch's max timestamp; v3 batches cannot be
        // time-skipped (maxTms = MaxValue keeps them).
        val maxTms = if (magic == MagicT) in.readLong() else Long.MaxValue
        val headerLen = if (magic == MagicT) 21 else 13
        // Header-only skip: the whole batch sits below the requested
        // offset (max offset in a batch is base + n - 1 because deltas
        // are dense-ordered within <= MaxBatch records), or every record
        // in it predates the time lower bound. The body streams past
        // unbuffered.
        if (base + n <= fromOffs || base >= untilOffs || maxTms < minTms) {
          batchesSkipped.incrementAndGet()
          skipFully(in, batchLen - headerLen)
        } else {
          batchesRead.incrementAndGet()
          val body = new Array[Byte](batchLen - headerLen)
          in.readFully(body)
          val b = new DataInputStream(new java.io.ByteArrayInputStream(body))
          def str(need: Boolean): String = {
            val len = b.readInt()
            if (len < 0) null
            else if (!need) { b.skipBytes(len); null }
            else {
              val bs = new Array[Byte](len); b.readFully(bs)
              payloadBytesDecoded.addAndGet(len.toLong)
              new String(bs, java.nio.charset.StandardCharsets.UTF_8)
            }
          }
          cur = (0 until n).iterator.map { _ =>
            val delta = b.readInt()
            val tms = b.readLong()
            val eid = b.readLong()
            val kk = str(needK)
            val vv = str(needV)
            Rec(topic, part, base + delta, eid, tms, kk, vv)
          }.filter(r => r.offs >= fromOffs && r.offs < untilOffs).toArray.iterator
        }
      }
    }
    def hasNext: Boolean = { advance(); cur.hasNext }
    def next(): Rec = { advance(); cur.next() }
  }

  /** End offset (exclusive) of one (topic, part) directory: the max
    * base+count over its segment batch headers — a header-only scan that
    * skips every payload (the glog analog of a log-end-offset lookup).
    */
  def endOffset(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    var end = 0L
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".glog")).foreach { seg =>
      val in = new DataInputStream(fs.open(seg.getPath))
      try {
        var done = false
        while (!done) {
          val batchLen =
            try in.readInt()
            catch { case _: EOFException => done = true; -1 }
          if (!done) {
            val magic = in.readByte()
            require(magic == Magic || magic == MagicT, "bad magic")
            val n = in.readInt()
            val base = in.readLong()
            end = math.max(end, base + n)
            // magic/count/base = 13 bytes were read; the rest of the batch
            // (incl. the v4 maxTms field) is payload to skip.
            in.skipBytes(batchLen - 13)
          }
        }
      } finally in.close()
    }
    end
  }

  /** Segment-stats sidecar (`<segment>.glogx`, "v1 minOffs maxOffs
    * maxTms") — the segment-level index over the batch-level header
    * index: planInputPartitions drops a WHOLE segment from the scan when
    * a pushed offset/time lower bound clears its max, without opening
    * it. Strictly advisory: a missing or unreadable sidecar only
    * disables pruning for that segment (readers stay correct via the
    * batch-header skips), so the commit order — segment rename first,
    * sidecar best-effort after — can never lose data. Reference frame:
    * Kafka's .index/.timeindex sidecars next to each .log segment
    * (kafka-impl storage/PartitionLog offset/time lookups).
    */
  def statsPath(seg: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(seg.getParent,
      seg.getName.stripSuffix(".glog") + ".glogx")

  def writeStats(fs: org.apache.hadoop.fs.FileSystem,
      seg: org.apache.hadoop.fs.Path, minOffs: Long, maxOffs: Long,
      maxTms: Long, attempt: String): Unit = {
    val dest = statsPath(seg)
    val tmp = new org.apache.hadoop.fs.Path(seg.getParent,
      s".${dest.getName}.tmp-$attempt")
    try {
      val out = new DataOutputStream(fs.create(tmp, true))
      try out.writeBytes(s"v1 $minOffs $maxOffs $maxTms\n")
      finally out.close()
      // Replace, never keep, a pre-existing sidecar: rename-onto-existing
      // fails on HDFS-like filesystems, and a STALE .glogx paired with a
      // rewritten segment is trusted to drop whole segments from scans —
      // silent data loss, where a MISSING sidecar is safe by design (the
      // reader falls back to scanning the segment).
      fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
    } catch { case _: java.io.IOException => () } // advisory only
  }

  def readStats(fs: org.apache.hadoop.fs.FileSystem,
      seg: org.apache.hadoop.fs.Path): Option[(Long, Long, Long)] =
    try {
      val p = statsPath(seg)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val line =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .nextOption().getOrElse("")
          finally in.close()
        line.split(' ') match {
          case Array("v1", mn, mx, mt) =>
            Some((mn.toLong, mx.toLong, mt.toLong))
          case _ => None
        }
      }
    } catch { case _: Exception => None } // advisory only

  /** Topic names become directory names and "topic/part" offset-map keys;
    * reject names that cannot round-trip through either.
    */
  def validateTopic(topic: String): Unit =
    require(topic != null && topic.nonEmpty && !topic.exists(("/\\" + '\u0000').contains(_)),
      s"glog topic name not storable as a directory: '$topic'")

  /** Whether two files hold the same bytes: equal length, then equal
    * SHA-256 digests.
    */
  private def sameBytes(fs: org.apache.hadoop.fs.FileSystem,
      a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
    def sha256(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest()
    }
    fs.getFileStatus(a).getLen == fs.getFileStatus(b).getLen &&
      java.util.Arrays.equals(sha256(a), sha256(b))
  }

  /** Executor-side segment writer: one shuffle onto (topic, part),
    * offset-sorted batching, segments written through the Hadoop
    * FileSystem API (works on any FS; no driver involvement).
    *
    * Commit protocol: each task writes to a task-attempt-unique hidden temp
    * file and renames it into place on success, so a speculative or zombie
    * duplicate attempt can never interleave bytes with the winner — the
    * same staging+commit discipline Spark's file sources use. Readers only
    * see `*.glog`, never the in-flight `.*.tmp-*` files.
    */
  def writeSegments(ds: org.apache.spark.sql.Dataset[Rec], outPath: String,
      segName: String): Unit = {
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      ds.sparkSession.sparkContext.hadoopConfiguration)
    import org.apache.spark.sql.functions.col
    ds.repartition(col("topic"), col("part"))
      .sortWithinPartitions("topic", "part", "offs")
      .foreachPartition { (it: Iterator[Rec]) =>
        val conf = hconf.value
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.stageId()}-${tc.taskAttemptId()}")
          .getOrElse("driver")
        val in = it.buffered
        while (in.hasNext) {
          val head = in.head
          validateTopic(head.topic)
          val dir = new org.apache.hadoop.fs.Path(
            s"$outPath/topic=${head.topic}/part=${head.part}")
          val segPath = new org.apache.hadoop.fs.Path(dir, s"$segName.glog")
          val tmpPath = new org.apache.hadoop.fs.Path(dir,
            s".$segName.glog.tmp-$attempt")
          val pfs = segPath.getFileSystem(conf)
          val out = new DataOutputStream(pfs.create(tmpPath, true))
          // Segment stats for the .glogx sidecar: the stream is offset-
          // sorted within (topic, part), so min = first, max = last.
          var minOffs = Long.MaxValue
          var maxOffs = Long.MinValue
          var maxTms = Long.MinValue
          try {
            while (in.hasNext && in.head.topic == head.topic &&
              in.head.part == head.part) {
              val group = scala.collection.mutable.ArrayBuffer[Rec]()
              while (in.hasNext && group.size < MaxBatch &&
                in.head.topic == head.topic && in.head.part == head.part)
                group += in.next()
              minOffs = math.min(minOffs, group.head.offs)
              maxOffs = math.max(maxOffs, group.last.offs)
              maxTms = math.max(maxTms, group.iterator.map(_.tms).max)
              val bytes = encodeBatch(group.toSeq)
              out.writeInt(bytes.length)
              out.write(bytes)
            }
          } finally out.close()
          // Publish with a rename-ONLY commit: a delete-then-rename pair
          // would open a window in which a concurrent reader (listEnds in
          // the streaming source's latestOffset, the sink's offset
          // assignment) lists the directory, misses a committed segment,
          // and computes a shrunken end offset. Retried batches drop
          // their stale segments up front (dropBatchSegments), so a
          // segment already in place should be a concurrent duplicate
          // attempt with identical bytes: drop ours and let theirs (and
          // its own sidecar) stand. The existence check comes first
          // because a local-filesystem rename replaces its target. Any
          // other bytes under the name are a different record set, and
          // keeping either one would silently lose the other's records.
          if (!pfs.exists(segPath) && pfs.rename(tmpPath, segPath))
            writeStats(pfs, segPath, minOffs, maxOffs, maxTms, attempt)
          else {
            require(pfs.exists(segPath),
              s"glog segment commit failed for $segPath")
            val same = sameBytes(pfs, tmpPath, segPath)
            pfs.delete(tmpPath, false)
            if (!same) throw new IllegalStateException(
              s"glog segment $segPath already holds different records")
          }
        }
      }
  }

  /** Materialize the canonical log view as a glog store (`_SUCCESS`
    * marker makes it idempotent).
    */
  def materialize(spark: SparkSession, dir: String, outPath: String): Unit = {
    import spark.implicits._
    val success = new org.apache.hadoop.fs.Path(outPath, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(success)) return
    writeSegments(
      LogOps.log(spark, dir)
        .select(col("topic"), col("part"), col("offs"), col("event_id"),
          col("tms"), col("k"), col("v")).as[Rec],
      outPath, "segment-0")
    fs.create(success, true).close()
  }

  /** The `part=` directories of a store's `topic=` directories (empty for
    * a store that does not exist yet); other paths are ignored.
    */
  private def partDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(root)) Seq.empty
    else for {
      tDir <- fs.listStatus(root).toSeq
      if tDir.isDirectory && tDir.getPath.getName.startsWith("topic=")
      pDir <- fs.listStatus(tDir.getPath).toSeq
      if pDir.isDirectory && pDir.getPath.getName.startsWith("part=")
    } yield pDir.getPath

  private val BatchSegment = "segment-b(\\d+)\\.glogx?".r

  /** Delete `segment-b<id>.glog` files with id >= fromBatchId (and stale
    * temp files) across the store — the recovery step that makes the
    * streaming sink's foreachBatch idempotent: a retried or re-delivered
    * micro-batch first clears anything a previous attempt of the same (or
    * a later, rolled-back) batch wrote, so the end offsets it reads from
    * [[listEnds]] reflect only fully committed earlier batches.
    */
  def dropBatchSegments(path: String,
      conf: org.apache.hadoop.conf.Configuration, fromBatchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    for (pDir <- partDirs(fs, root); f <- fs.listStatus(pDir)) {
      val name = f.getPath.getName
      name match {
        case BatchSegment(id) if id.toLong >= fromBatchId =>
          fs.delete(f.getPath, false)
        case _ if name.startsWith(".") && name.contains(".tmp-") =>
          fs.delete(f.getPath, false)
        case _ => ()
      }
    }
  }

  /** One past the highest `segment-b<id>` batch id in a store (0 for a
    * store without batch segments): where a new streaming-sink run starts
    * numbering its batches, so it never reuses an earlier run's segment
    * names and its retry step never drops an earlier run's segments.
    */
  def nextBatchId(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val ids = for (pDir <- partDirs(fs, root); f <- fs.listStatus(pDir).toSeq)
      yield f.getPath.getName match {
        case BatchSegment(id) => id.toLong + 1
        case _ => 0L
      }
    (0L +: ids).max
  }

  /** Current end offsets per "topic/part" directory of a store (empty map
    * for a store that does not exist yet) — shared by the streaming
    * source (latestOffset) and the streaming sink (offset assignment).
    */
  def listEnds(path: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    partDirs(fs, root).map { pDir =>
      val topic = pDir.getParent.getName.stripPrefix("topic=")
      val part = pDir.getName.stripPrefix("part=")
      s"$topic/$part" -> endOffset(fs, pDir)
    }.toMap
  }
}
