package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session(work)
  private val dataDir = "data/sf0.01"

  override def afterAll(): Unit = {
    spark.stop()
    EtlStore.delete(new java.io.File(work))
  }

  test("the same seed gives the same op sequence; another seed another") {
    val pool = Workloads.byName("analyst_session").pool
    val a = Workloads.opOrder(pool, 7L).take(50).toList
    assert(a == Workloads.opOrder(pool, 7L).take(50).toList)
    assert(a != Workloads.opOrder(pool, 8L).take(50).toList)
    // every round is the same permutation of the pool
    val rounds = a.grouped(pool.size).filter(_.size == pool.size).toList
    assert(rounds.head.sorted == pool.sorted)
    assert(rounds.forall(_ == rounds.head))
  }

  test("the store batch split is seeded, ascending and inside the key range") {
    val c = EtlStore.cuts(3L, 1L, 60000L)
    assert(c == EtlStore.cuts(3L, 1L, 60000L))
    assert(c.size == EtlStore.Batches - 1)
    assert(c == c.sorted && c.distinct == c)
    assert(c.forall(x => x > 1L && x <= 60000L))
  }

  test("nearest-rank percentiles and the tail sample-count rule") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.samplesBeyond(99, 90) == 9)
    assert(Stats.samplesBeyond(30, 90) == 3)
  }

  test("covered time is the union of clipped intervals") {
    assert(Stats.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    assert(Stats.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8L, 35L) == 17L)
    assert(Stats.coveredMs(Nil, 0L, 10L) == 0L)
  }

  test("the digest ignores row order, counts duplicates and adds over unions") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "x", 2.5), (2L, "y", -0.5), (3L, null, 1e300)).toDF("k", "v", "d")
    val b = Seq((9L, "z", 0.0)).toDF("k", "v", "d")
    val d = Digest.of(a)
    assert(d == Digest.of(a.orderBy($"k".desc).repartition(3)))
    assert(d.rows == 3)
    assert(Digest.of(a.union(b)) == d + Digest.of(b))
    assert(Digest.of(a.union(a)) == d + d)
    assert(Digest.of(a.union(a)) != d)
    // repeated column names and an empty frame
    assert(Digest.of(a.select($"k", $"k")).rows == 3)
    assert(Digest.of(a.filter($"k" < 0)) == Digest.Zero)
  }

  test("the digest does not overflow under ANSI mode") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val d = Digest.of(spark.range(0L, 200000L, 1L, 4).toDF("id"))
      assert(d.rows == 200000L && d.lo > 0 && d.hi > 0)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("layer attribution on q01: one schema-inference job in construct, action jobs after") {
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    try {
      val client = new Main.Client(spark, dataDir, Map.empty, None, traced = true)
      client.op(0, "q01_agg_pushdown", "warm0")
      val r = client.op(1, "q01_agg_pushdown", "op1")
      trace.drain(spark.sparkContext)
      assert(r.ok, client.failures.mkString("; "))
      val construct = trace.jobsOf("op1:c")
      assert(construct.map(_.callSite.contains("Tables.scala")) == Seq(true),
        s"q01's one construct job infers lineitem's schema: ${construct.map(_.callSite)}")
      assert(trace.jobsOf("op1:a").nonEmpty)
      assert(r.constructMs < r.wallMs - r.constructMs)
      assert(r.tableRefs == 1, "q01 scans lineitem once")
      val s = Layers.split(r, construct ++ trace.jobsOf("op1:a"), Nil)
      assert(s.constructJobMs <= r.constructMs)
      assert(s.sumErr <= 0.05, s"layers overrun the wall by ${s.sumErr}")
      assert(math.abs(s.layersMs + s.gapMs - r.wallMs) <= 0.05 * r.wallMs)
      assert(r.compilesTotal == 0, "a repeated q01 hits the codegen cache")
    } finally spark.sparkContext.removeSparkListener(trace)
  }
}
