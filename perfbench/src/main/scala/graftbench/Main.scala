package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.hmm.HmmSuffStats

/** One finished operation of the timed window. */
final case class Done(op: Op, cycle: Int, traced: Boolean, spanId: Int, startUs: Long, endUs: Long) {
  def secs: Double = (endUs - startUs) / 1e6
}

/** The benchmark's JVM side: sets up one workload, runs its operations
  * back to back from one driver thread (a closed loop) for `--seconds`,
  * checks every output, and prints one `GRAFTBENCH {...}` line that
  * `run.py` turns into the result.
  *
  *   --workload em_large_k|pipeline  --seed N  --seconds S
  *   --trace 0|1  --work DIR  [--record]
  *
  * With `--trace 1` the cycles alternate between traced (job group,
  * spans, listener attribution) and untraced; the per-layer metrics
  * come from the traced cycles and the gap between the two halves is
  * reported as the tracing overhead.
  */
object Main {
  /** Input builds in set-up; `setup_s` counts their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val mainUs = Spans.nowUs()
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val workload = opts.getOrElse("workload", "")
    require(Set("em_large_k", "pipeline")(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = opts("work")
    val out = new Run(workload, seed, seconds, trace, work, record, mainUs).run()
    println("GRAFTBENCH " + out)
    sys.exit(0)
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
    record: Boolean, mainUs: Long) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"graftbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext
  private val sessionUs = Spans.nowUs()

  private val listener = new JobListener
  if (trace) sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def nextId = spans.length + 1
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0


  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2 }

  private def gcTotals(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum / 1e3, beans.map(_.getCollectionCount).sum)
  }

  /** Runs one operation; an exception or a failed check is a failure. */
  private def attempt(op: Op, where: String): Option[String] = {
    attempted += 1
    val res = try op.body() catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    res.foreach { msg => failures += s"$where ${op.name}: $msg"; System.err.println(s"graftbench: FAILED $where ${op.name}: $msg") }
    res
  }

  def run(): String = {
    val oracleFailures = Oracle.tinyCases(seed)
    oracleFailures.foreach(f => System.err.println(s"graftbench: oracle: $f"))
    val w: Workload = workload match {
      case "em_large_k" => new EmWorkload(spark, work, seed)
      case "pipeline" => new PipelineWorkload(spark, work, seed, record)
    }
    val buildSecs = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime(); w.prepare(rep); since(t0)
    }
    val (obs, nSeqs) = w.sequenceCounts
    val tWarm = System.nanoTime()
    val warmFailures = w.warmUp()
    attempted += w.ops.length
    warmFailures.foreach { f => failures += s"warm-up: $f"; System.err.println(s"graftbench: FAILED warm-up: $f") }
    val warmSecs = since(tWarm)
    System.err.println(f"graftbench: setup: session ${(sessionUs - mainUs) / 1e6}%.2f s, " +
      s"input builds ${buildSecs.map(b => f"$b%.2f").mkString(" ")} s, warm-up ${f"$warmSecs%.2f"} s")
    val setupJvm = (sessionUs - mainUs) / 1e6 + median(buildSecs) + warmSecs

    // the timed window
    val (gc0, gcN0) = gcTotals()
    val done = mutable.ArrayBuffer.empty[Done]
    val window0 = System.nanoTime()
    var cycle = 0
    // a traced run needs a traced and an untraced cycle
    val MinCycles = if (trace) math.max(2, w.minCycles) else w.minCycles
    while (cycle < MinCycles || since(window0) < seconds) {
      val traced = trace && cycle % 2 == 1
      for (op <- w.ops if cycle < MinCycles || since(window0) < seconds) {
        val id = nextId
        if (traced) sc.setJobGroup(s"graftbench-op-$id", op.name)
        val s0 = Spans.nowUs()
        attempt(op, s"cycle $cycle")
        val s1 = Spans.nowUs()
        if (traced) {
          sc.clearJobGroup()
          spans += Span(id, 0, op.name, "op", s0, s1, Map("cycle" -> cycle))
        }
        done += Done(op, cycle, traced, id, s0, s1)
      }
      cycle += 1
    }
    val (gc1, gcN1) = gcTotals()

    val byName = done.groupBy(_.op.name).view.mapValues(ds => median(ds.map(_.secs).toSeq)).toMap
    def roleSum(role: String) = w.ops.filter(_.role == role).map(o => byName(o.name)).sum
    val trainSoft = roleSum("soft")
    val em = w.em
    val context = Seq(
      "master" -> Json.str(sc.master),
      "defaultParallelism" -> sc.defaultParallelism.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "sequences" -> nSeqs.toString,
      "observations" -> obs.toString,
      "K" -> em.k.toString, "M" -> em.m.toString,
      "restarts" -> em.restarts.toString, "iterations" -> em.iterations.toString,
      "cycles" -> cycle.toString)
    val opDetail = w.ops.map { o =>
      val ts = done.filter(_.op.name == o.name).map(_.secs).sorted
      o.name -> Json.obj(Seq("role" -> Json.str(o.role), "n" -> ts.length.toString,
        "median_s" -> Json.num(median(ts.toSeq)), "max_s" -> Json.num(ts.last),
        "samples_s" -> ts.map(Json.num).mkString("[", ",", "]")))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("cycle_s", w.ops.map(o => byName(o.name)).sum, "s"))
      else {
        val kModel = w.kernelModel
        val kSeqs = w.sequences.take(200)
        val kernels = Kernels.nsPerCell(kModel, kSeqs, budgetMs = 300)
        val mergeUs = timeMerge(em.k, em.m)
        val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1e6
        val slots = sc.defaultParallelism.toDouble
        sc.stop() // drains the listener queue
        val layer = attribute(done.toSeq, w, kernels("accumulate"), obs, em, slots)
        val traced = done.filter(_.traced)
        val untraced = done.filter(d => !d.traced)
        def cycleSum(ds: Seq[Done]) = w.ops.map(o => median(ds.filter(_.op.name == o.name).map(_.secs))).sum
        Seq(
          ("train_soft_s", trainSoft, "s"),
          ("train_hard_s", roleSum("hard"), "s"),
          ("hmm_decode_s", roleSum("decode"), "s"),
          ("estep_obs_per_s", obs.toDouble * em.restarts * em.iterations / trainSoft, "obs/s")) ++
        Kernels.Names.map(n => (s"kernel.${n}_ns_per_tk2", kernels(n), "ns")) ++ layer ++ Seq(
          ("suffstats.merge_us", mergeUs, "us"),
          ("sequences.build_s", median(buildSecs), "s"),
          ("sequences.obs", obs.toDouble, "count"),
          ("sequences.seqs", nSeqs.toDouble, "count"),
          ("jvm.gc_s", gc1 - gc0, "s"),
          ("jvm.gc_count", (gcN1 - gcN0).toDouble, "count"),
          ("jvm.heap_peak_mb", heapPeak, "MB"),
          ("trace.overhead_frac", cycleSum(traced.toSeq) / cycleSum(untraced.toSeq) - 1, "ratio"),
          ("failed_op_frac", failures.length.toDouble / attempted, "ratio"))
      }
    if (!sc.isStopped) spark.stop()

    if (trace) {
      val path = s"$work/trace-$workload-$seed.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Spans.toJson(spans.toSeq))
      System.err.println(s"graftbench: wrote ${spans.length} spans to $path")
    }
    val recordLines = w match {
      case p: PipelineWorkload if record =>
        p.recorded.map { case (n, (rows, d)) => s"$n\t$rows\t$d" }.toSeq
      case _ => Nil
    }
    Json.obj(Seq(
      "correct" -> (oracleFailures.isEmpty && failures.isEmpty && attributionOk).toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.length.toString,
      "setup_jvm_s" -> Json.num(setupJvm),
      "main_us" -> mainUs.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "context" -> Json.obj(context),
      "operations" -> Json.obj(opDetail),
      "queries" -> Json.obj(queryDetail),
      "kernels_computed" -> Json.obj(Kernels.computed(em.k).toSeq.sortBy(_._1).map { case (n, (ops, bytes)) =>
        n -> Json.obj(Seq("ops_per_obs" -> Json.num(ops), "bytes_per_obs" -> Json.num(bytes))) }),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "record" -> recordLines.map(Json.str).mkString("[", ",", "]")))
  }

  /** Median wall time of one `HmmSuffStats.merge` at K states, M symbols. */
  private def timeMerge(k: Int, m: Int): Double = {
    val a = new HmmSuffStats(k, m)
    val b = new HmmSuffStats(k, m)
    val reps = math.max(50, 2000000 / (k * (k + m) + 1))
    val samples = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { a.merge(b); i += 1 }
      (System.nanoTime() - t0) / 1e3 / reps
    }
    median(samples)
  }

  private var attributionOk = true
  private var queryDetail: Seq[(String, String)] = Nil

  /** Per-layer Spark and EM metrics from the listener's jobs, each job
    * attributed to the traced operation whose job group it carries or,
    * for jobs started under another group (streaming queries set
    * their own), to the traced operation running when it started. */
  private def attribute(done: Seq[Done], w: Workload, accNs: Double, obs: Long,
      em: EmShape, slots: Double): Seq[(String, Double, String)] = {
    val traced = done.filter(_.traced)
    val byId = traced.map(d => d.spanId -> d).toMap
    val jobsOf = mutable.Map.empty[Int, mutable.ArrayBuffer[listener.JobRec]]
    for (j <- listener.jobs) {
      val owner = Some(j.group).filter(_.startsWith("graftbench-op-"))
        .map(_.stripPrefix("graftbench-op-").toInt).filter(byId.contains)
        .orElse(traced.find(d => j.startMs * 1000 >= d.startUs && j.startMs * 1000 < d.endUs).map(_.spanId))
      owner.foreach { id =>
        jobsOf.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += j
        val jobId = nextId
        spans += Span(jobId, id, s"job ${j.id} ${j.callSite}", "job", j.startMs * 1000, j.endMs * 1000)
        for (s <- listener.stagesOf(j) if s.endMs > 0)
          spans += Span(nextId, jobId, s"stage ${s.id}", "stage", s.submitMs * 1000, s.endMs * 1000,
            Map("tasks" -> s.tasks, "executor_run_ms" -> s.runMs.toDouble))
      }
    }
    final case class Stat(jobs: Int, stages: Int, tasks: Int, runS: Double, cpuS: Double,
        resultB: Double, shufR: Double, shufW: Double, spill: Double, gapS: Double, jobMs: Seq[Double])
    def stat(d: Done, onlyTree: Boolean): Stat = {
      val js = jobsOf.getOrElse(d.spanId, Nil).toSeq
        .filter(j => !onlyTree || j.callSite.startsWith("treeAggregate"))
      val ss = js.flatMap(listener.stagesOf).filter(_.endMs > 0)
      val gapUs = Spans.selfUs(Span(d.spanId, 0, "", "op", d.startUs, d.endUs),
        js.map(j => Span(0, 0, "", "job", j.startMs * 1000, j.endMs * 1000)))
      Stat(js.length, ss.length, ss.map(_.tasks).sum, ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
        ss.map(_.resultBytes).sum.toDouble, ss.map(_.shuffleRead).sum.toDouble,
        ss.map(_.shuffleWrite).sum.toDouble, ss.map(_.spill).sum.toDouble, gapUs / 1e6,
        js.map(j => (j.endMs - j.startMs).toDouble))
    }
    def med(xs: Seq[Double]) = median(xs)

    // the EM training operations: exact job counts, then timings
    val emOut = mutable.ArrayBuffer.empty[(String, Double, String)]
    for ((role, want) <- Seq("soft" -> em.restarts * em.iterations,
        "hard" -> em.hardRestarts * em.hardIterations)) {
      traced.filter(_.op.role == role).foreach { d =>
        val n = stat(d, onlyTree = true).jobs
        if (n != want) {
          attributionOk = false
          System.err.println(s"graftbench: attribution: ${d.op.name} ran $n EM jobs, want $want")
        }
      }
    }
    val soft = traced.filter(_.op.role == "soft")
    val st = soft.map(d => d -> stat(d, onlyTree = true))
    val cellsPerFit = accNs * 1e-9 * obs * em.k * em.k * em.restarts * em.iterations
    emOut ++= Seq(
      ("em.iterations", em.iterations.toDouble, "count"),
      ("em.jobs_per_fit", med(st.map(_._2.jobs.toDouble)), "count"),
      ("em.stages_per_fit", med(st.map(_._2.stages.toDouble)), "count"),
      ("em.tasks_per_fit", med(st.map(_._2.tasks.toDouble)), "count"),
      ("em.iter_ms", med(soft.map(_.secs * 1e3 / em.iterations)), "ms"),
      ("em.job_ms_p50", med(st.flatMap(_._2.jobMs)), "ms"),
      ("em.driver_gap_ms_per_iter", med(st.map { case (d, s) =>
        stat(d, onlyTree = false).gapS * 1e3 / em.iterations }), "ms"),
      ("em.task_busy_frac", med(st.map { case (d, s) => s.runS / (d.secs * slots) }), "ratio"),
      ("em.kernel_share", med(st.map(_._2.runS).map(cellsPerFit / _)), "ratio"),
      ("em.executor_cpu_s", med(st.map(_._2.cpuS)), "s"),
      ("em.result_bytes", med(st.map(_._2.resultB)), "B"),
      ("em.shuffle_bytes", med(st.map(s => s._2.shufR + s._2.shufW)), "B"))

    // every operation of a traced cycle, summed per cycle
    val perCycle = traced.groupBy(_.cycle).values.map(_.map(d => stat(d, onlyTree = false))).toSeq
    def cyc(f: Stat => Double) = med(perCycle.map(_.map(f).sum))
    queryDetail = w.ops.map { o =>
      val ss = traced.filter(_.op.name == o.name).map(d => stat(d, onlyTree = false))
      o.name -> Json.obj(Seq(
        "jobs" -> Json.num(med(ss.map(_.jobs.toDouble))),
        "stages" -> Json.num(med(ss.map(_.stages.toDouble))),
        "executor_run_s" -> Json.num(med(ss.map(_.runS))),
        "shuffle_read_bytes" -> Json.num(med(ss.map(_.shufR))),
        "shuffle_write_bytes" -> Json.num(med(ss.map(_.shufW))),
        "spill_bytes" -> Json.num(med(ss.map(_.spill))),
        "driver_gap_s" -> Json.num(med(ss.map(_.gapS)))))
    }
    emOut.toSeq ++ Seq(
      ("spark.jobs_per_cycle", cyc(_.jobs.toDouble), "count"),
      ("spark.stages_per_cycle", cyc(_.stages.toDouble), "count"),
      ("spark.tasks_per_cycle", cyc(_.tasks.toDouble), "count"),
      ("spark.executor_run_s", cyc(_.runS), "s"),
      ("spark.shuffle_read_bytes", cyc(_.shufR), "B"),
      ("spark.shuffle_write_bytes", cyc(_.shufW), "B"),
      ("spark.spill_bytes", cyc(_.spill), "B"),
      ("spark.driver_gap_s", cyc(_.gapS), "s"))
  }
}
