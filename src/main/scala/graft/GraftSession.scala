package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory for the graft engine.
  *
  * Defaults encode the 100-TB design rules scaled to local mode:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions sized to cores (not the 200 default), UTC session
  * time zone for oracle parity. On a real cluster the same builder is
  * used with `master` unset and shuffle partitions derived from input
  * size (see Scaladoc on [[GraftSession.cluster]]).
  */
object GraftSession {
  /** Capacity of Spark's JVM-wide whole-stage codegen cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100).
    *
    * An analyst session re-runs the same star-schema analyses, and each
    * run must find its generated classes still cached. 100 entries are
    * far below graft's working set: nine reference queries compile ~190
    * classes a round, so the LRU evicted every class before its reuse
    * and each op paid ~20 Janino compiles (~230 ms).
    *
    * Sizing, measured at sf0.01 on a 4-core local[4] JVM with a 2 GB
    * heap: one pass over the first 52 registry queries (Relational …
    * Family, the star-schema and reference analyses) fills 1392
    * entries with no eviction; 2048 is the smallest power-of-two cap
    * that holds them. Post-GC live heap with the full set cached vs
    * after invalidating the cache gives ~27 KB retained per entry
    * (plus ~10 KB of metaspace for the generated class), so the worst
    * case at the cap is ~54 MB of heap and ~21 MB of metaspace.
    *
    * This is a STATIC SQL conf: Spark reads it once per JVM, when
    * `CodeGenerator` first initialises. It takes effect only when set
    * before the JVM's first codegen; a session built after that (or on
    * an existing SparkContext) records it but leaves the capacity as is.
    */
  val CodegenCacheEntries: Int = 2048

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    base(SparkSession.builder().master(s"local[$cores]"), math.max(cores, 8))
      .getOrCreate()

  /** Cluster form: shuffle partitions are a starting hint only — AQE
    * coalesces/splits at runtime from map-output sizes, which is the
    * mechanism that actually holds at 100 TB.
    */
  def cluster(shufflePartitions: Int): SparkSession =
    base(SparkSession.builder(), shufflePartitions).getOrCreate()

  private def base(b: SparkSession.Builder, shuffleParts: Int): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the cache key is the generated source, and by default the class
      // name embeds the whole-stage codegen stage id. AQE numbers stages
      // in the order they materialize, which races between concurrent
      // stages, so a re-run could name an identical pipeline
      // GeneratedIteratorForCodegenStage6 instead of …7 and miss
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan CACHED frames too (off by default): every
      // trackedCache materialization otherwise runs its shuffles at
      // the static partition count with no runtime coalescing — an
      // iterative query materializing ~10 tiny cached frames (q179)
      // pays tens of near-empty 32-task stages in pure scheduling
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Scan parallelism floor (guide §6). Split size is
      // min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)):
      // the 4 MB openCostInBytes default models object-store seek cost
      // and FLOORS the split size, so a small single-file table (one
      // ~10 MB parquet per table on the test SFs) scans as 1-3 tasks
      // and every scan-side projection — md5 fingerprint legs,
      // explodes, distance chains — runs on 1-3 of the session's
      // cores until the first exchange. 128 KB is the honest open
      // cost on local NVMe; at production scale totalBytes/parallelism
      // exceeds maxPartitionBytes and splits stay 128 MB+, so this
      // only raises parallelism where inputs are SMALL — exactly where
      // the floor was the bottleneck. minPartitionNum inherits
      // defaultParallelism (= cores here), which is the scale-adaptive
      // half of the formula.
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      // events.parquet carries TIMESTAMP(NANOS), which the vectorized
      // reader rejects; read as long + convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // plan STRINGS are for humans — cap them. An InMemoryRelation
      // prints its full child plan at every reference, so an iterative
      // query whose round-r cache references round r-1's four times
      // (q179) yields an exponentially long EXPLAIN even though
      // execution is linear; AQE stringifies the plan on every update
      // and an uncapped string OOMs the driver (seen: GraphMetricsSpec
      // heap death inside QueryExecution.explainString).
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
}
