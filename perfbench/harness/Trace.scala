package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Minimal JSON writer for the harness's result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** What one Spark job did, summed over its stages and tasks. */
final class JobAgg(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1
  var stages, tasks, failedTasks = 0L
  var taskMs, taskCpuNs, taskWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input, result = 0L
}

/** Collects jobs of traced requests (those run under a job group) and
  * counts frame-cache releases (`unpersist` of a cached RDD).
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, JobAgg]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val unpersisted = new AtomicLong

  def jobsOf(group: String): Seq[JobAgg] = synchronized {
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)
  }

  def forget(group: String): Unit = synchronized {
    jobs.values.removeIf(_.group == group)
    stageJob.values.removeIf(_.group == group)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val j = new JobAgg(e.jobId, g, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
      stageSubmit.remove(e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null) {
        if (e.taskInfo.failed) j.failedTasks += 1
        j.taskMs += e.taskInfo.duration
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          j.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
      val m = e.taskMetrics
      if (m != null) {
        j.taskCpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.result += m.resultSize
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    unpersisted.incrementAndGet()
}

/** One timed or harness step of a request. A step whose layer is `exec`
  * runs Spark jobs on the client's behalf: job time inside it is the exec
  * layer, the rest of it driver-side post-processing (`post`). Any other
  * step charges its whole duration to its layer, jobs included, so a job
  * a builder starts counts as build-time work.
  */
final case class Step(name: String, layer: String, startUs: Long, endUs: Long) {
  def us: Long = endUs - startUs
}

final class Req(val id: String, val name: String, val module: String,
    val phase: String, val traced: Boolean) {
  val steps = ArrayBuffer[Step]()
  /** When the timed window opened, in ms since the client started. */
  var startMs = 0.0
  var wallMs = 0.0
  /** Harness time after the window closed: checks and bookkeeping. */
  var checkMs = 0.0
  var ok = true
  var error: String = null
  var df: DataFrame = null
  val attrs = mutable.LinkedHashMap[String, Any]()
  def fail(msg: String): Unit = { ok = false; if (error == null) error = msg }
}

/** Runs requests as one closed-loop client: each request's timed window is
  * its `body`; `verify` runs after the window closes. A traced request
  * also gets a job group, a separate plan step, span records and the
  * listener's job data.
  */
final class Runner(val spark: SparkSession, trace: Boolean) {
  val sc = spark.sparkContext
  private val listener = if (trace) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)
  val reqs = ArrayBuffer[Req]()
  val spans = ArrayBuffer[Map[String, Any]]()
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private var current: Req = null

  def nowUs: Long = epochUs + (System.nanoTime() - nano0) / 1000L

  def step[T](name: String, layer: String)(f: => T): T = {
    val t0 = nowUs
    try f finally current.steps += Step(name, layer, t0, nowUs)
  }

  /** Build, (traced: plan,) execute: the client's view of one query. */
  def query(build: => DataFrame): Array[Row] = {
    val df = step("build", "entry")(build)
    current.df = df
    if (current.traced) step("plan", "catalyst")(df.queryExecution.executedPlan)
    step("execute", "exec")(df.collect())
  }

  def run[T](name: String, module: String, phase: String, traced: Boolean)
      (body: => T)(verify: (Req, T) => Unit): Req = {
    val r = new Req(f"r${reqs.size + 1}%05d", name, module, phase,
      trace && traced)
    current = r
    val persisted0 = sc.getPersistentRDDs.keySet
    val unpersisted0 = listener.map(_.unpersisted.get).getOrElse(0L)
    if (r.traced) sc.setJobGroup(r.id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    r.startMs = (t0 - nano0) / 1e6
    val out = try Some(body) catch {
      case e: Throwable => r.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
    val t1 = System.nanoTime()
    r.wallMs = (t1 - t0) / 1e6
    if (r.traced && r.df != null) recordPhases(r)
    try step("verify", "harness") {
      out.foreach(v => try verify(r, v) catch {
        case e: Throwable => r.fail(s"verify ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
      if (r.traced) org.apache.spark.PerfbenchBridge.drainListeners(sc)
    } finally if (r.traced) sc.clearJobGroup()
    r.attrs("frames_built") =
      (sc.getPersistentRDDs.keySet -- persisted0).size.toLong
    listener.foreach { l =>
      r.attrs("frames_evicted") = l.unpersisted.get - unpersisted0
      if (r.traced) account(r, l)
    }
    r.df = null
    current = null
    reqs += r
    r.checkMs = (System.nanoTime() - t1) / 1e6
    r
  }

  /** Attribute the request's jobs to the step they started in, derive
    * layer self times, and record the spans.
    */
  private def account(r: Req, l: JobListener): Unit = {
    val jobs = l.jobsOf(r.id)
    l.forget(r.id)
    // Job times are whole milliseconds: a job belongs to the last step
    // that had started by the end of its start millisecond.
    val inStep = jobs.groupBy { j =>
      val us = j.startMs * 1000L + 999L
      r.steps.filter(_.startUs <= us).lastOption.getOrElse(r.steps.head).name
    }
    val self = mutable.LinkedHashMap[String, Double]()
    def add(layer: String, us: Double): Unit =
      self(layer) = self.getOrElse(layer, 0.0) + us / 1000.0
    r.steps.foreach { s =>
      if (s.layer == "exec") {
        val covered = union(inStep.getOrElse(s.name, Nil).map(j =>
          (math.max(j.startMs * 1000L, s.startUs),
            math.min(math.max(j.endMs, j.startMs) * 1000L, s.endUs))))
        add("exec", covered.toDouble)
        add("post", (s.us - covered).toDouble)
      } else add(s.layer, s.us.toDouble)
    }
    val spanUs = r.steps.last.endUs - r.steps.head.startUs
    r.attrs("span_ms") = spanUs / 1000.0
    r.attrs("self_ms") = self
    val execJobs = r.steps.filter(_.layer == "exec")
      .flatMap(s => inStep.getOrElse(s.name, Nil))
    val buildJobs = inStep.getOrElse("build", Nil)
    r.attrs("exec") = Map(
      "jobs" -> execJobs.size.toLong,
      "stages" -> execJobs.map(_.stages).sum,
      "tasks" -> execJobs.map(_.tasks).sum,
      "job_wall_ms" -> self.getOrElse("exec", 0.0),
      "task_ms" -> execJobs.map(_.taskMs).sum,
      "task_cpu_ms" -> execJobs.map(_.taskCpuNs).sum / 1e6,
      "task_wait_ms" -> execJobs.map(_.taskWaitMs).sum,
      "shuffle_read_bytes" -> execJobs.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> execJobs.map(_.shuffleWrite).sum,
      "spill_bytes" -> execJobs.map(_.spill).sum,
      "input_bytes" -> execJobs.map(_.input).sum,
      "result_bytes" -> execJobs.map(_.result).sum,
      "post_ms" -> self.getOrElse("post", 0.0),
      "failed_tasks" -> jobs.map(_.failedTasks).sum)
    r.attrs("entry") = Map(
      "build_ms" -> r.steps.find(_.name == "build").map(_.us / 1000.0).getOrElse(0.0),
      "build_jobs" -> buildJobs.size.toLong,
      "build_result_bytes" -> buildJobs.map(_.result).sum)
    val reqSpan = s"${r.id}"
    spans += Map("id" -> reqSpan, "parent" -> null, "name" -> "request",
      "request" -> r.name, "phase" -> r.phase, "start_us" -> r.steps.head.startUs,
      "end_us" -> r.steps.last.endUs, "ok" -> r.ok)
    r.steps.foreach { s =>
      val sid = s"${r.id}/${s.name}"
      spans += Map("id" -> sid, "parent" -> reqSpan, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)
      inStep.getOrElse(s.name, Nil).foreach { j =>
        spans += Map("id" -> s"${r.id}/job${j.id}", "parent" -> sid,
          "name" -> "job", "start_us" -> j.startMs * 1000L,
          "end_us" -> math.max(j.endMs, j.startMs) * 1000L,
          "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs)
      }
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > reach) { total += b - a; reach = b; started = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  /** Catalyst phase times of the request's final plan; analysis ran
    * eagerly when the builder created the DataFrame.
    */
  private def recordPhases(r: Req): Unit = {
    val ph = r.df.queryExecution.tracker.phases
    r.attrs("catalyst") = Seq("analysis", "optimization", "planning")
      .map(p => p -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)).toMap
  }
}
