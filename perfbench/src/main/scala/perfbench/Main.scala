package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{GraftSession, Registry, Tables}

/** Benchmark client: one JVM, one client thread, a closed loop of ops.
  *
  * {{{
  * Main run    --workload W --seed N --seconds S --trace 0|1 --data D --work W --expected F
  * Main record --queries q1,q2 --data D --work W     (result parquet + digests for the oracle check)
  * }}}
  *
  * `run` prints one JSON line: the ops attempted and failed, the epoch
  * millisecond at which the timed window opened, and the metrics. An
  * untraced run reports end-to-end metrics; a traced run attributes each
  * op's wall time to the layers it called into and reports those.
  */
object Main {
  /** Cores of the local master; pinned so results and digests do not
    * depend on the host's core count. */
  val Cores = 4
  /** The nearest-rank tail percentile reported. */
  val TailPct = 90.0
  /** Untimed rounds before the window. The second lets the JIT finish
    * compiling the engine and the codegen compiler, whose speed otherwise
    * drifts through the window. */
  val WarmRounds = 2
  /** Upper bound on a window stretched to finish its last round. */
  val MaxWindowFactor = 4

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val code = args.headOption match {
      case Some("run") => run(opt)
      case Some("record") => record(opt); 0
      case other => System.err.println(s"unknown mode $other"); 2
    }
    sys.exit(code)
  }

  def session(work: String): SparkSession = {
    // keep Spark's scratch files and any warehouse table inside the run's work dir
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = GraftSession.local(Cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- counters read around each op (traced runs only) ----

  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs(): Long = CodeGenerator.compileTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after the most recent collection, summed over pools. */
  def liveHeapBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Per-op figures. Times are epoch milliseconds for alignment with
    * listener events, and nanosecond walls for the op itself. */
  final class OpRec(val i: Int, val name: String) {
    var kind = ""
    var wallMs = 0.0
    var ok = true
    var t0 = 0L; var t1 = 0L; var t2 = 0L
    var constructMs = 0.0
    var compilesTotal = 0L; var compilesConstruct = 0L; var compileNsConstruct = 0L
    var compileMsAction = 0.0; var compileMsTotal = 0.0
    var gcMs = 0L
    var analysisMs = 0L; var optimizerMs = 0L; var physicalMs = 0L
    var phases = Seq.empty[(Long, Long)]
    var tableRefs = 0; var tableMs = 0.0
    var cacheBytes = 0L; var cacheBlocks = 0L
    var storeBytes = 0L; var storeFiles = 0L; var filesPerRead = -1
    var storeRatio = -1.0
  }

  private val tableLoaders: Map[String, Tables => DataFrame] = Map(
    "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
    "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events),
    "documents" -> (_.documents), "embeddings" -> (_.embeddings))

  /** Names of the dataset tables the analyzed plan of `df` scans, one
    * per reference. */
  def tableRefs(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths
    }.flatten.map(_.getName.stripSuffix(".parquet")).filter(tableLoaders.contains)

  final class Client(spark: SparkSession, dataDir: String, expected: Map[String, Expected.Entry],
      store: Option[EtlStore], traced: Boolean) {
    private val sc = spark.sparkContext
    val failures = mutable.ArrayBuffer.empty[String]

    /** Run one op; `tag` prefixes the job descriptions of its jobs. The
      * op's wall ends when its result is checked; traced bookkeeping
      * after that point is outside it. */
    def op(i: Int, name: String, tag: String): OpRec = {
      val r = new OpRec(i, name)
      val storeBefore = store.filter(_ => traced && name == Workloads.StoreStep)
        .map(s => EtlStore.footprint(new File(s.storeDir)))
      val (cc0, cn0, g0) = if (traced) (compiles(), compileNs(), gcMs()) else (0L, 0L, 0L)
      val n0 = System.nanoTime()
      r.t0 = System.currentTimeMillis()
      def stop(): Unit = {
        r.wallMs = (System.nanoTime() - n0) / 1e6
        r.t2 = System.currentTimeMillis()
      }
      try {
        if (name == Workloads.StoreStep) storeOp(r, tag, store.get, stop _, storeBefore)
        else queryOp(r, tag, n0, cc0, cn0, stop _)
      } catch {
        case NonFatal(e) =>
          if (r.t2 == 0L) stop()
          r.ok = false
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      sc.setJobDescription(null)
      if (r.t1 == 0L) r.t1 = r.t0
      if (traced) {
        r.compileMsTotal = (compileNs() - cn0) / 1e6
        r.gcMs = gcMs() - g0
        r.compilesTotal = compiles() - cc0
        r.compileMsAction = r.compileMsTotal - r.compileNsConstruct / 1e6
        val infos = sc.getRDDStorageInfo
        r.cacheBytes = infos.map(x => x.memSize + x.diskSize).sum
        r.cacheBlocks = infos.map(_.numCachedPartitions.toLong).sum
      }
      spark.catalog.clearCache()
      r
    }

    private def queryOp(r: OpRec, tag: String, n0: Long, cc0: Long, cn0: Long,
        stop: () => Unit): Unit = {
      r.kind = "query"
      val q = Registry.byName(r.name)
      sc.setJobDescription(s"$tag:c")
      val df = q.run(spark, dataDir)
      r.constructMs = (System.nanoTime() - n0) / 1e6
      r.t1 = System.currentTimeMillis()
      if (traced) {
        r.compilesConstruct = compiles() - cc0
        r.compileNsConstruct = compileNs() - cn0
      }
      sc.setJobDescription(s"$tag:a")
      val dfr = Digest.frame(df)
      val got = Digest.collect(dfr)
      expected.get(r.name).foreach { e =>
        val good = if (e.check == "rows") got.rows == e.rows else got.toString == e.digest
        if (!good) {
          r.ok = false
          failures += s"${r.name}: digest $got, expected ${e.digest} (${e.check})"
        }
      }
      stop()
      if (traced) {
        val ph = dfr.queryExecution.tracker.phases
        def phase(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        r.analysisMs = phase("analysis"); r.optimizerMs = phase("optimization")
        r.physicalMs = phase("planning")
        r.phases = ph.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
        // direct loader timing: resolve each table reference of the plan
        // through the program's own loaders
        val refs = tableRefs(df)
        r.tableRefs = refs.size
        val t = Tables(spark, dataDir)
        val l0 = System.nanoTime()
        refs.foreach(n => tableLoaders(n)(t).schema)
        r.tableMs = (System.nanoTime() - l0) / 1e6
      }
    }

    private def storeOp(r: OpRec, tag: String, s: EtlStore, stop: () => Unit,
        before: Option[(Long, Long)]): Unit = {
      r.kind = s.nextKind
      sc.setJobDescription(s"$tag:s")
      val dir = s.storeDir
      val userBytes = s.committedUserBytes
      val res = s.step()
      res.foreach { m => r.ok = false; failures += m }
      stop()
      before.foreach { case (b0, f0) =>
        val (b1, f1) = EtlStore.footprint(new File(dir))
        r.kind match {
          case EtlStore.Ingest => r.storeBytes = b1 - b0; r.storeFiles = f1 - f0
          case EtlStore.Compact => r.storeRatio = b1 / math.max(1.0, userBytes)
          case _ =>
            if (new File(dir).exists) r.filesPerRead = s.committedFrame().inputFiles.length
        }
      }
    }
  }

  def run(opt: String => String): Int = {
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val dataDir = s"${opt("data")}/${w.sf}"
    val expected = Expected.load(opt("expected"), w.sf)
    val missing = w.pool.filter(n => n != Workloads.StoreStep && !expected.contains(n))
    require(missing.isEmpty, s"no expected result for ${missing.distinct.mkString(", ")}")

    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s: $msg")
    log("jvm up")
    val spark = session(work)
    log("session ready")
    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val codegen = if (traced) Some(new CodegenLog) else None
    codegen.foreach(_.install())
    spark.sparkContext.setJobDescription("setup")
    val store =
      if (w.pool.contains(Workloads.StoreStep)) Some(new EtlStore(spark, dataDir, s"$work/store", seed))
      else None
    val client = new Client(spark, dataDir, expected, store, traced)

    // warmup: the first WarmRounds rounds of the op sequence, untimed; the
    // timed window continues the same sequence, store cycle included
    val order = Workloads.opOrder(w.pool, seed)
    val warm = (0 until WarmRounds * w.pool.size).map(i => client.op(i, order.next(), s"warm$i"))
    log(s"warmup done (${warm.size} ops)")

    var instrumentMs = 0.0
    val sentinels = mutable.ArrayBuffer.empty[Double]
    // live heap is read after a full collection at each checkpoint: what
    // the driver retains between ops, independent of when young GCs run
    var heapPeak = 0L
    def checkpoint(): Unit = {
      val t0 = System.nanoTime()
      System.gc()
      heapPeak = math.max(heapPeak, liveHeapBytes())
      sentinels += Sentinel.timeMs()
      instrumentMs += (System.nanoTime() - t0) / 1e6
    }
    checkpoint()

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val firstOpEpochMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    var midDone = false
    // whole rounds only, so every run times the same mix of ops
    while ((elapsed < seconds || ops.size % w.pool.size != 0) && elapsed < seconds * MaxWindowFactor) {
      ops += client.op(ops.size, order.next(), s"op${ops.size}")
      if (!midDone && elapsed >= seconds / 2) { checkpoint(); midDone = true }
    }
    val windowS = elapsed
    checkpoint()
    log(f"window ${windowS}%.1f s, ${ops.size} ops; sentinel ms ${sentinels.map(x => f"$x%.1f").mkString(" ")}")

    val failed = ops.count(!_.ok) + warm.count(!_.ok)
    val walls = ops.map(_.wallMs).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("op_p50_ms") = (Stats.median(walls), "ms")
      metrics(f"op_p${TailPct}%.0f_ms") = (Stats.percentile(walls, TailPct), "ms")
      metrics("ops_per_s") = (ops.size / (windowS - instrumentMs / 1e3), "1/s")
      metrics("heap_live_peak_mb") = (heapPeak / 1048576.0, "MB")
    } else {
      spark.sparkContext.setJobDescription(null)
      trace.get.drain(spark.sparkContext)
      Layers.report(metrics, trace.get, codegen.get.driverSide,
        warm.take(w.pool.size), ops.toSeq, windowS, instrumentMs, Cores)
      metrics("host.sentinel_ms") = (Stats.median(sentinels.toSeq), "ms")
      metrics("host.sentinel_drift") = (Sentinel.drift(sentinels.toSeq), "ratio")
      metrics("trace.p90_samples_beyond") = (Stats.samplesBeyond(ops.size, TailPct).toDouble, "count")
    }

    spark.stop()
    val detail = client.failures.take(5).map(Json.str).mkString("[", ",", "]")
    val ms = metrics.map { case (k, (v, u)) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"attempted": ${ops.size + warm.size}, "failed": $failed, "timed_ops": ${ops.size}, """ +
      s""""window_s": ${Json.num(windowS)}, "first_op_epoch_ms": $firstOpEpochMs, "failures": $detail, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    if (failed > 0) 1 else 0
  }

  /** Result parquet, digests of three runs, and row counts per query,
    * for the oracle check that precedes recording expected values. */
  def record(opt: String => String): Unit = {
    val out = opt("work")
    val spark = session(out)
    val names = opt("queries").split(",").toSeq
    val lines = names.map { n =>
      val q = Registry.byName(n)
      val ds = (1 to 3).map { i =>
        spark.sparkContext.setJobDescription(s"record:$n:$i")
        val v = Digest.of(q.run(spark, opt("data")))
        spark.catalog.clearCache()
        v
      }
      q.run(spark, opt("data")).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      spark.catalog.clearCache()
      val oracle = q.oracle.map(Json.str).getOrElse("null")
      s"${Json.str(n)}: {\"digests\": ${ds.map(d => Json.str(d.toString)).mkString("[", ",", "]")}, \"oracle\": $oracle}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/record.json"),
      lines.mkString("{\n", ",\n", "\n}\n"))
    val oracles = names.flatMap(n => Registry.byName(n).oracle.map(o => s"${Json.str(n)}: ${Json.str(o)}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracles.mkString("{", ",", "}"))
    spark.stop()
  }
}
