package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One interval of driver time: a whole pass (`parent == -1`) or one
  * layer call inside it. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
    traced: Boolean, startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** What one Spark job did, gathered on the listener bus. */
final class JobFacts(val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** Job and task metrics keyed by job; registered only for traced
  * passes. Events arrive on the listener-bus thread, reads happen on
  * the driver thread after [[Tracer]] has drained the bus. */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobFacts]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobFacts(g, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      j <- stageJob.get(e.stageId)
      f <- jobs.get(j)
      m <- Option(e.taskMetrics)
    } {
      f.cpuNs += m.executorCpuTime
      f.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      f.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      f.outBytes += m.outputMetrics.bytesWritten
      f.taskMs += e.taskInfo.duration
    }
  }

  def jobsSeen: Seq[JobFacts] = synchronized(jobs.values.toSeq)
}

/** Counters of one traced layer call. */
final case class CallStats(name: String, wallMs: Double, driverMs: Double,
    jobs: Int, execCpuMs: Double, shuffleBytes: Long, spillBytes: Long,
    bytesWritten: Long, taskSkew: Double)

/** Times layer calls from the benchmark's driver thread. Every pass
  * records its spans the same way; a traced pass also registers a
  * [[LayerListener]] and charges each Spark job to the span whose job
  * group it carries (or, for jobs Spark starts under its own group,
  * such as broadcasts, to the span it started in). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private var nextId = 0
  private var passSpan = -1
  private var passIdx = -1
  private var passTraced = false
  private var drains = 0
  val spans = mutable.ArrayBuffer[Span]()
  val calls = mutable.ArrayBuffer[CallStats]()
  /** Jobs a traced pass ran outside every named span. */
  var unattributedJobs = 0

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  /** One call into a layer, with the action on its output. */
  def step[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      sc.clearJobGroup()
      spans += Span(id, passSpan, name, passIdx, passTraced, t0, t1)
    }
  }

  /** Runs one pass; returns its wall seconds. */
  def pass(idx: Int, traced: Boolean)(body: => Unit): Double = {
    val listener = if (traced) {
      val l = new LayerListener
      sc.addSparkListener(l)
      Some(l)
    } else None
    val id = nextId; nextId += 1
    passSpan = id; passIdx = idx; passTraced = traced
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      spans += Span(id, -1, "pass", idx, traced, t0, t1)
      passSpan = -1
      listener.foreach { l =>
        drain(l)
        sc.removeSparkListener(l)
        attribute(l.jobsSeen, spans.filter(s => s.pass == idx && s.parent == id).toSeq)
      }
    }
    val s = spans.last
    s.wallMs / 1e3
  }

  /** Waits until the listener has seen every event posted so far: a
    * marker job in its own group is posted after all of them. */
  private def drain(l: LayerListener): Unit = {
    val g = s"pb-drain-$drains"
    drains += 1
    sc.setJobGroup(g, "drain", interruptOnCancel = false)
    sc.parallelize(Seq(0), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.jobsSeen.exists(j => j.group == g && j.endMs >= 0)) {
      require(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(1)
    }
  }

  private def attribute(jobs: Seq[JobFacts], leaves: Seq[Span]): Unit = {
    val byGroup = leaves.map(s => s"pb-${s.id}" -> s).toMap
    val real = jobs.filterNot(_.group.startsWith("pb-drain-"))
    val owned = real.groupBy { j =>
      byGroup.get(j.group).orElse(leaves.find(s =>
        j.startMs >= math.floor(s.startMs) && j.startMs <= math.ceil(s.endMs)))
    }
    unattributedJobs += owned.get(None).map(_.size).getOrElse(0)
    leaves.foreach { s =>
      val js = owned.getOrElse(Some(s), Nil)
      val covered = unionMs(js.map(j => (
        math.max(j.startMs.toDouble, s.startMs),
        math.min((if (j.endMs >= 0) j.endMs else j.startMs).toDouble, s.endMs))))
      val tasks = js.flatMap(_.taskMs).sorted
      val skew =
        if (tasks.isEmpty) 0.0
        else tasks.last.toDouble / math.max(1.0, tasks(tasks.length / 2).toDouble)
      calls += CallStats(s.name, s.wallMs, math.max(0.0, s.wallMs - covered),
        js.size, js.map(_.cpuNs).sum / 1e6, js.map(_.shuffleBytes).sum,
        js.map(_.spillBytes).sum, js.map(_.outBytes).sum, skew)
    }
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (curHi.isNaN || lo > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** Every span of the run as JSON lines. */
  def spanLines(runId: String): Seq[String] =
    spans.toSeq.map { s =>
      compact(render(JObject("run_id" -> JString(runId), "id" -> JInt(s.id),
        "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "pass" -> JInt(s.pass), "traced" -> JBool(s.traced),
        "start_ms" -> JDouble(s.startMs), "end_ms" -> JDouble(s.endMs))))
    }
}
