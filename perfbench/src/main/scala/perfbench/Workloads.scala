package perfbench

/** One benchmark workload: a pool of ops drawn in a seeded order.
  *
  * Pool entries are registry query names, or [[Workloads.StoreStep]] for
  * the next step of the write-path cycle in [[EtlStore]].
  */
final case class Workload(name: String, sf: String, pool: Seq[String])

object Workloads {
  val StoreStep = "store"

  // Reference-analysis queries from the Relational ... Cohort modules. The
  // dashboard queries and one store cycle compile about 70 classes,
  // which the 100-entry codegen cache holds; the analyst set compiles
  // about 190 per round, so every round recompiles it.
  private val dashboardQueries = Seq(
    "q01_agg_pushdown", "q08_topk_per_group", "q12_rollup", "q16_anti_join")

  val all: Seq[Workload] = Seq(
    // the dashboard queries plus heavier analyses and one dedup resolve,
    // whose eager construct rounds and signature caches stand for
    // curation work; an odd pool size puts the median and p90 of a whole
    // number of rounds inside one query's samples, not between two
    // queries' latencies
    Workload("analyst_session", "sf0.01", dashboardQueries ++ Seq(
      "q05_window_rank", "q13_cube", "q20_funnel_cte", "q59_cohort_performance",
      "q45_dedup_resolve")),
    // the hot queries refreshed over a live store: each round also runs
    // four steps of the ingest, commit, compact and read cycle
    Workload("dashboard", "sf0.01", dashboardQueries ++ Seq.fill(4)(StoreStep)))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The op sequence for `seed`: one seeded permutation of the pool,
    * repeated. Every run times the same mix in whole rounds, and a pool
    * whose codegen working set exceeds the cache misses on every op
    * rather than on a seed-dependent share of them. */
  def opOrder(pool: Seq[String], seed: Long): Iterator[String] = {
    val round = new scala.util.Random(seed).shuffle(pool)
    Iterator.continually(round).flatten
  }
}
