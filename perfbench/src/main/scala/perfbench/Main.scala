package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark driver. One JVM runs one workload on local[4] from a
  * single driver thread in a closed loop:
  *
  *  1. session start, the CPU canary, then set-up (input generation
  *     and fresh state, repeated; the median counts) and one untimed
  *     warm-up pass;
  *  2. at least two passes, until their summed time reaches
  *     `--seconds`; with `--trace 1` one more untimed pass first, then
  *     at least four timed passes, half of them traced, interleaved
  *     U T T U;
  *  3. output checks, outside every timed window.
  *
  * Prints one line `PERFBENCH_RESULT {json}` for run.py to turn into
  * metrics. Usage:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out DIR`. */
object Main {

  val SetupRepeats = 3
  val Layers: Seq[String] = Seq(
    "queries.exact_dedup", "queries.keep_best", "queries.cluster_split",
    "queries.kmeans_summary",
    "operators.minhash_signatures", "operators.minhash_pairs",
    "operators.cluster_labels", "operators.split_assign",
    "operators.ivf_topk", "operators.lsh_topk", "operators.pca_project",
    "operators.sem_dedup",
    "generators.substitution", "generators.vacancy", "generators.distortion",
    "generators.enumerate",
    "calculators.extract", "fit.cfg_export", "pipeline.active_step",
    "sources.commit", "sources.merge", "sources.delete", "sources.update",
    "sources.read", "sources.read_as_of", "sources.read_changes",
    "sources.optimize")
  val ShuffleSpans = Seq("operators.minhash_pairs", "operators.cluster_labels",
    "queries.keep_best", "operators.sem_dedup", "operators.ivf_topk",
    "sources.merge")
  val SpillSpans = Seq("operators.minhash_pairs", "operators.sem_dedup")
  val SkewSpans = Seq("operators.minhash_signatures", "operators.ivf_topk",
    "operators.sem_dedup", "queries.kmeans_summary")
  val WriteSpans = Seq("sources.commit", "sources.merge", "sources.delete",
    "sources.update", "sources.optimize")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val wlName = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val work = new File(opt("--work"))
    val out = new File(opt("--out"))
    require(Workload.Names.contains(wlName), s"unknown workload $wlName")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$wlName")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val calibMs = calibrate(spark)
    val wl = Workload(wlName, spark, seed, new File(work, "data"))
    val tracer = new Tracer(spark)

    val prepS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      wl.prepare()
      (System.nanoTime() - t0) / 1e9
    }
    var attempted = 0
    var failed = 0
    var error = ""
    var lastCpuS = 0.0
    def runPass(idx: Int, tr: Boolean): Double = {
      wl.beforePass(idx)
      val before = tracer.spans.size
      val c0 = threadCpuNs
      val s = try tracer.pass(idx, tr)(wl.pass(tracer, idx))
      catch { case e: Throwable =>
        failed += 1
        error = s"pass $idx: $e"
        e.printStackTrace()
        Double.NaN
      } finally {
        lastCpuS = cpuSince(c0)
        if (idx > 0) attempted += tracer.spans.size - before - 1
      }
      if (!s.isNaN) wl.afterPass(tracer, idx)
      s
    }
    val warmS = runPass(0, tr = false)
    val setupS = sessionS + Workload.median(prepS) + warmS
    // A traced run settles the JIT with one more untimed pass, so that
    // the overhead estimate compares passes past the steep part of the
    // warm-up curve.
    if (traced && error.isEmpty) { wl.release(); runPass(0, tr = false) }

    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val passCpu = mutable.ArrayBuffer[Double]()
    var idx = 1
    // the timed window is the passes themselves; per-pass state set-up
    // and bookkeeping between them does not count against it
    def elapsed = passes.map(_._3).sum
    var more = error.isEmpty
    while (more) {
      wl.release()
      // traced passes follow the pattern U T T U, so JIT warming over
      // the run biases neither side of the overhead estimate
      val tr = traced && Set(1, 2).contains((idx - 1) % 4)
      val s = runPass(idx, tr)
      passes += ((idx, tr, s))
      passCpu += lastCpuS
      idx += 1
      more = error.isEmpty && (elapsed < seconds ||
        passes.size < (if (traced) 4 else 2))
    }
    // the heap still reachable at the end of the last pass, its pins
    // held: a full collection leaves only live data. Blocks of RDDs the
    // first collection found unreachable are dropped by Spark's cleaner
    // thread shortly after, so collect again once it has run.
    System.gc()
    Thread.sleep(300)
    System.gc()
    val retainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val checks =
      if (error.nonEmpty) Seq(Check("all passes ran", ok = false, error))
      else try wl.checks(tracer)
      catch { case e: Throwable =>
        e.printStackTrace()
        Seq(Check("checks ran", ok = false, e.toString))
      }
    attempted += checks.size
    failed += checks.count(!_.ok)
    val info = if (error.isEmpty) wl.info(tracer) else Nil
    wl.release()

    def med(tr: Boolean): Double =
      Workload.median(passes.filter(_._2 == tr).map(_._3).toSeq)
    val untracedRunS = med(false)
    val itemsPerS = Workload.median(passes.filter(!_._2).map { case (i, _, _) =>
      val secs = tracer.spans.filter(sp => sp.pass == i &&
        wl.itemSteps.contains(sp.name)).map(_.wallMs).sum / 1e3
      wl.items / secs
    }.toSeq)

    val res = mutable.ArrayBuffer[JField](
      "workload" -> JString(wlName), "seed" -> JLong(seed),
      "trace" -> JBool(traced), "calib_ms" -> num(calibMs),
      "session_s" -> num(sessionS), "prep_s" -> nums(prepS),
      "warmup_s" -> num(warmS), "setup_s" -> num(setupS),
      "run_s" -> num(untracedRunS), "items_per_s" -> num(itemsPerS),
      "retained_heap_mb" -> num(retainedMb),
      "passes" -> JInt(passes.size), "pass_s" -> nums(passes.map(_._3).toSeq),
      "pass_cpu_s" -> nums(passCpu.toSeq),
      "run_cpu_s" -> num(Workload.median(
        passes.indices.filter(i => !passes(i)._2).map(passCpu).toSeq)),
      "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "checks" -> JArray(checks.map(c => JObject("name" -> JString(c.name),
        "ok" -> JBool(c.ok), "detail" -> JString(c.detail))).toList),
      "info" -> JArray(info.map(i => JObject("name" -> JString(i.name),
        "value" -> num(i.value), "unit" -> JString(i.unit),
        "note" -> JString(i.note))).toList),
      "inputs" -> JArray(wl.inputProps.map { case (k, v) =>
        JObject("name" -> JString(k), "value" -> JString(v)) }.toList))
    if (traced) {
      val runId = s"$wlName-seed$seed-${System.currentTimeMillis()}"
      val tracedRunS = med(true)
      val spansFile = new File(out, s"spans-$wlName-seed$seed.jsonl")
      writeSpans(spansFile, tracer.spanLines(runId))
      res ++= Seq("traced_run_s" -> num(tracedRunS),
        "trace_overhead_s" -> num(tracedRunS - untracedRunS),
        "unattributed_jobs" -> JInt(tracer.unattributedJobs),
        "spans_file" -> JString(spansFile.getPath),
        "spans" -> JArray(spanSummary(tracer).toList),
        "per_layer" -> perLayer(tracer, calibMs, wl.layerExtras))
    }
    spark.stop()
    println("PERFBENCH_RESULT " + compact(render(JObject(res.toList))))
  }

  /** A measured number; a run cut short by a failure reports null. */
  private def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def nums(xs: Seq[Double]): JValue = JArray(xs.map(num).toList)

  /** CPU time of every live Java thread (driver, executor tasks, Spark
    * services), keyed by thread id. JIT compiler and GC threads are not
    * Java threads, so compilation storms and collector sizing stay out of
    * it; time the machine gives to other guests is never charged to a
    * thread, unlike wall time. */
  private def threadCpuNs: Map[Long, Long] = {
    val tb = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val ids = tb.getAllThreadIds
    ids.zip(tb.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Seconds of Java-thread CPU between two [[threadCpuNs]] readings;
    * a thread that ended in between drops out. */
  private def cpuSince(start: Map[Long, Long]): Double =
    threadCpuNs.map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum / 1e9

  /** The fixed pure-CPU canary (the bit_xor(xxhash64) kernel of
    * graft.Bench.calibrate): median of three laps, in ms. It reads the
    * machine, not the code, and feeds no end-to-end metric. */
  def calibrate(spark: SparkSession): Double = {
    val laps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 24)
        .selectExpr("bit_xor(xxhash64(id * 2654435761))").collect()
      (System.nanoTime() - t0) / 1e6
    }
    laps.sorted.apply(1)
  }

  private def writeSpans(file: File, lines: Seq[String]): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file)
    try lines.foreach(w.println) finally w.close()
  }

  /** Self time per span name and the share of traced pass time that
    * named spans cover. Leaf spans have no children, so a leaf's self
    * time is its wall time and the pass's self time is what no named
    * span covers. */
  private def spanSummary(t: Tracer): Seq[JObject] = {
    val traced = t.spans.filter(_.traced).toSeq
    val passes = traced.filter(_.parent == -1)
    val passMs = passes.map(_.wallMs).sum
    val leaves = traced.filter(_.parent != -1)
    val leafMs = leaves.map(_.wallMs).sum
    def row(name: String, selfMs: Double, share: Double, calls: Int) =
      JObject("name" -> JString(name), "self_ms" -> num(selfMs),
        "share_of_run" -> num(share), "calls" -> JInt(calls))
    val byName = leaves.groupBy(_.name).toSeq.sortBy(-_._2.map(_.wallMs).sum)
    row("pass", passMs - leafMs, leafMs / passMs, passes.size) +:
      byName.map { case (n, ss) =>
        val self = ss.map(_.wallMs).sum
        row(n, self, self / passMs, ss.size)
      }
  }

  /** Median over traced calls of each span counter; spans this
    * workload does not run read 0. */
  private def perLayer(t: Tracer, calibMs: Double,
      extras: Seq[(String, Double)]): JObject = {
    def m(span: String, f: CallStats => Double): Double = {
      val xs = t.calls.filter(_.name == span).map(f).toSeq
      if (xs.isEmpty) 0.0 else Workload.median(xs)
    }
    val counters = Layers.flatMap(s => Seq(
      s"$s.wall_ms" -> m(s, _.wallMs), s"$s.driver_ms" -> m(s, _.driverMs),
      s"$s.jobs" -> m(s, _.jobs.toDouble),
      s"$s.exec_cpu_ms" -> m(s, _.execCpuMs))) ++
      ShuffleSpans.map(s => s"$s.shuffle_bytes" -> m(s, _.shuffleBytes.toDouble)) ++
      SpillSpans.map(s => s"$s.spill_bytes" -> m(s, _.spillBytes.toDouble)) ++
      SkewSpans.map(s => s"$s.task_skew" -> m(s, _.taskSkew)) ++
      WriteSpans.map(s => s"$s.bytes_written" -> m(s, _.bytesWritten.toDouble)) ++
      Seq("operators.minhash_pairs.true_pair_frac" ->
        extras.toMap.getOrElse("operators.minhash_pairs.true_pair_frac", 0.0),
        "env.calib_ms" -> calibMs)
    JObject(counters.map { case (k, v) => k -> num(v) }.toList)
  }
}
