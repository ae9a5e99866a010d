package perfbench

import scala.collection.mutable

import perfbench.Main.OpRec

/** Per-layer metrics of a traced run, named after the program module
  * each layer measures. Counts and times are means per timed op unless
  * the unit says otherwise.
  *
  * Each op's wall splits without overlap into `Q.run` construct
  * (`queries.construct_ms`: its jobs plus driver work), then, after
  * construct, job-covered time, codegen compiles the driver runs
  * outside jobs, Catalyst phases of the digest query outside both, and
  * the remainder, `driver.gap_ms`. Overlaps are removed by interval
  * union, so a compile inside a task counts as job time once.
  * `trace.sum_err_p90` is how far the parts miss the measured wall.
  */
object Layers {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  final case class Split(constructJobMs: Double, jobMs: Double, layersMs: Double,
      gapMs: Double, sumErr: Double)

  /** The wall split of one op given its jobs and the compiles the
    * driver ran. */
  def split(r: OpRec, jobs: Seq[Trace#Job], driverCompiles: Seq[(Long, Long)]): Split = {
    val j = jobs.map(x => (x.start, if (x.end < 0) r.t2 else x.end))
    val jc = j ++ driverCompiles
    def after(iv: Seq[(Long, Long)]) = Stats.coveredMs(iv, r.t1, r.t2).toDouble
    val constructJob = Stats.coveredMs(j, r.t0, r.t1).toDouble
    val layers = r.constructMs + after(jc ++ r.phases)
    val gap = (r.wallMs - layers).max(0.0)
    Split(constructJob, constructJob + after(j), layers, gap,
      math.abs(r.wallMs - layers - gap) / r.wallMs)
  }

  /** `firstPass` is the first untimed round, which compiles the pool's
    * codegen working set once; `codegen.recompile_ratio` compares the
    * timed ops' compiles with it. */
  def report(m: Metrics, trace: Trace, driverCompiles: Seq[(Long, Long)], firstPass: Seq[OpRec],
      ops: Seq[OpRec], windowS: Double, instrumentMs: Double, cores: Int): Unit = {
    val byDesc = trace.allJobs.groupBy(_.desc)
    def jobsOf(r: OpRec, phases: String*) =
      phases.flatMap(p => byDesc.getOrElse(s"op${r.i}:$p", Nil))
    val opJobs = ops.map(r => jobsOf(r, "c", "a", "s"))
    val splits = ops.zip(opJobs).map { case (r, js) => split(r, js, driverCompiles) }
    val queries = ops.zip(splits).filter(_._1.kind == "query")
    val n = ops.size.toDouble
    def perOp(f: OpRec => Double) = mean(ops.map(f))
    def perQuery(f: OpRec => Double) = mean(queries.map(x => f(x._1)))
    def jobSum(f: Trace#Job => Double) = opJobs.map(_.map(f).sum).sum / n

    val warmCompiles = mean(firstPass.map(_.compilesTotal.toDouble))
    m("codegen.compiles") = (perOp(_.compilesTotal.toDouble), "count/op")
    m("codegen.compile_ms") = (perOp(_.compileMsTotal), "ms/op")
    m("codegen.recompile_ratio") =
      (if (warmCompiles == 0) 0.0 else perOp(_.compilesTotal.toDouble) / warmCompiles, "ratio")

    val inferJobs = ops.map(r => jobsOf(r, "c").count(_.callSite.contains("Tables.scala")))
    // resolutions that ran: the footer schema-inference job each loader
    // call launches inside construct; timed directly by re-resolving the
    // plan's table references
    m("tables.resolves") = (inferJobs.sum / n, "count/op")
    m("tables.resolve_ms") = (perOp(_.tableMs), "ms/op")

    m("queries.construct_ms") = (perQuery(_.constructMs), "ms/op")
    m("queries.construct_jobs") = (perQuery(r => jobsOf(r, "c").size.toDouble), "count/op")
    m("queries.construct_job_ms") = (mean(queries.map(_._2.constructJobMs)), "ms/op")
    m("queries.construct_driver_ms") =
      (mean(queries.map { case (r, s) => (r.constructMs - s.constructJobMs).max(0.0) }), "ms/op")

    m("plan.analysis_ms") = (perQuery(_.analysisMs.toDouble), "ms/op")
    m("plan.optimizer_ms") = (perQuery(_.optimizerMs.toDouble), "ms/op")
    m("plan.physical_ms") = (perQuery(_.physicalMs.toDouble), "ms/op")

    val jobMs = splits.map(_.jobMs).sum
    m("exec.jobs") = (opJobs.map(_.size).sum / n, "count/op")
    m("exec.tasks") = (jobSum(_.tasks.toDouble), "count/op")
    m("exec.job_ms") = (jobMs / n, "ms/op")
    m("exec.task_run_ms") = (jobSum(_.runMs.toDouble), "ms/op")
    m("exec.task_cpu_ms") = (jobSum(_.cpuNs / 1e6), "ms/op")
    m("exec.task_gc_ms") = (jobSum(_.gcMs.toDouble), "ms/op")
    m("exec.task_wait_ms") = (jobSum(_.waitMs.toDouble), "ms/op")
    m("exec.core_busy_ratio") =
      (if (jobMs == 0) 0.0 else jobSum(_.runMs.toDouble) * n / (cores * jobMs), "ratio")
    m("exec.shuffle_read_bytes") = (jobSum(_.shuffleRead.toDouble), "B/op")
    m("exec.shuffle_write_bytes") = (jobSum(_.shuffleWrite.toDouble), "B/op")
    m("exec.spill_bytes") = (jobSum(_.spill.toDouble), "B/op")

    m("cache.peak_bytes") = (ops.map(_.cacheBytes.toDouble).max, "B")
    m("cache.blocks") = (ops.map(_.cacheBlocks.toDouble).max, "count")

    def kindMs(k: String) = mean(ops.filter(_.kind == k).map(_.wallMs))
    val ingests = ops.filter(_.kind == EtlStore.Ingest)
    val reads = ops.filter(_.filesPerRead >= 0)
    val ratios = ops.map(_.storeRatio).filter(_ >= 0)
    m("store.write_ms") = (kindMs(EtlStore.Ingest), "ms/op")
    m("store.compact_ms") = (kindMs(EtlStore.Compact), "ms/op")
    m("store.read_ms") = (kindMs(EtlStore.Read), "ms/op")
    m("store.bytes_written") = (mean(ingests.map(_.storeBytes.toDouble)), "B/op")
    m("store.files_written") = (mean(ingests.map(_.storeFiles.toDouble)), "count/op")
    m("store.files_per_read") = (mean(reads.map(_.filesPerRead.toDouble)), "count/op")
    m("store.bytes_per_user_byte") = (if (ratios.isEmpty) 0.0 else Stats.median(ratios), "ratio")

    m("driver.gc_ms") = (perOp(_.gcMs.toDouble), "ms/op")
    m("driver.gap_ms") = (mean(splits.map(_.gapMs)), "ms/op")

    m("trace.op_p50_ms") = (Stats.median(ops.map(_.wallMs)), "ms")
    m("trace.ops_per_s") = (n / (windowS - instrumentMs / 1e3), "1/s")
    m("trace.sum_err_p90") = (Stats.percentile(splits.map(_.sumErr), 90), "ratio")
    m("trace.unattributed_jobs") =
      (trace.allJobs.count(j => !Seq("op", "warm", "setup").exists(j.desc.startsWith)).toDouble, "count")
  }
}
