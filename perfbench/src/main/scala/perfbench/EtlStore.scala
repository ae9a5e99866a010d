package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min, when}

import graft.Tables
import graft.sources.PartitionedStore

/** The write path: cycles of `PartitionedStore` ingest, commit,
  * `compactCommitted` and `readCommitted` over the lineitem rows.
  *
  * The seed splits the rows into [[Batches]] batches of unequal size by
  * `l_orderkey` range. Every committed read is checked: its digest must
  * equal the sum of the digests of the source rows of the committed
  * batches, computed once before the timed window.
  *
  * Each cycle writes a fresh store under `root` and deletes it when the
  * cycle ends; the caller deletes `root`. Writes are plain local parquet
  * files with no fsync: the benchmark measures the write path, not
  * durability.
  */
final class EtlStore(spark: SparkSession, dataDir: String, root: String, seed: Long) {
  import EtlStore._

  private val source = Tables(spark, dataDir).lineitem
  val userFields = source.schema.fields.toSeq
  private val userCols = userFields.map(f => col(f.name))

  private val cuts: Seq[Long] = {
    val r = source.agg(min("l_orderkey"), max("l_orderkey")).head()
    EtlStore.cuts(seed, r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
  }
  private val batchOf: Column =
    cuts.foldLeft(lit(0L))((acc, c) => acc + when(col("l_orderkey") >= c, 1L).otherwise(0L))

  /** Digest of each batch's source rows, indexed by batch id. */
  val batchDigests: IndexedSeq[Digest.Value] = {
    val ps = Digest.parts(userFields)
    val got = source.withColumn("_batch", batchOf).groupBy("_batch")
      .agg(ps.head, ps.tail: _*).collect()
      .map(r => r.getLong(0).toInt -> Digest.Value(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    (0 until Batches).map(b => got.getOrElse(b, Digest.Zero))
  }

  // Each batch arrives as its own parquet directory, written before the
  // timed window, so an ingest reads new files as a user's load would.
  private val incoming = s"$root/incoming"
  source.withColumn("_batch", batchOf).write.partitionBy("_batch").parquet(incoming)

  /** Bytes of user data each batch carries: its share of the source file. */
  val batchUserBytes: IndexedSeq[Double] = {
    val total = batchDigests.map(_.rows).sum.toDouble
    val bytes = new File(s"$dataDir/lineitem.parquet").length.toDouble
    batchDigests.map(_.rows * bytes / total)
  }

  private var cycle = 0
  private var pos = 0
  private var committed = -1

  def storeDir: String = s"$root/cycle$cycle"

  /** The kind of step [[step]] runs next. */
  def nextKind: String = Schedule(pos)

  /** User bytes committed so far in the current cycle. */
  def committedUserBytes: Double = batchUserBytes.take(committed + 1).sum

  /** Run the next step of the cycle. Returns a failure message when a
    * committed read disagrees with the source, or None. */
  def step(): Option[String] = {
    val kind = Schedule(pos)
    val out = kind match {
      case Ingest =>
        val b = committed + 1
        PartitionedStore.writeBatch(
          spark.read.parquet(s"$incoming/_batch=$b"), storeDir, Seq(PartitionCol), b.toLong)
        PartitionedStore.commitBatchWatermark(spark, storeDir, b.toLong)
        committed = b
        None
      case Compact =>
        PartitionedStore.compactCommitted(spark, storeDir, Seq(PartitionCol))
        PartitionedStore.vacuumCommitted(spark, storeDir, keep = 1)
        None
      case Read =>
        val got = Digest.collect(committedDigestFrame())
        val want = batchDigests.take(committed + 1).reduce(_ + _)
        if (got == want) None
        else Some(s"store read after batch $committed: digest $got, source $want")
    }
    pos += 1
    if (pos == Schedule.size) reset()
    out
  }

  def committedFrame(): DataFrame =
    PartitionedStore.readCommitted(spark, storeDir).select(userCols: _*)

  private def committedDigestFrame(): DataFrame = {
    val ps = Digest.parts(userFields)
    committedFrame().agg(ps.head, ps.tail: _*)
  }

  /** Drop the current cycle's store and start a new cycle. */
  private def reset(): Unit = {
    delete(new File(storeDir))
    cycle += 1; pos = 0; committed = -1
  }
}

object EtlStore {
  val Batches = 6
  val PartitionCol = "l_returnflag"
  val Ingest = "ingest"
  val Compact = "compact"
  val Read = "read"

  /** Steps of one cycle: each batch is ingested and read back; every
    * second batch is followed by a compaction and another read. */
  val Schedule: IndexedSeq[String] = (0 until Batches).flatMap { b =>
    Seq(Ingest, Read) ++ (if (b % 2 == 1) Seq(Compact, Read) else Nil)
  }

  /** `Batches - 1` ascending cut points in `(lo, hi]`, seeded, with
    * batch widths in the ratio of random weights from 1 to 3. */
  def cuts(seed: Long, lo: Long, hi: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val w = Seq.fill(Batches)(1 + rnd.nextInt(3)).map(_.toDouble)
    val cum = w.scanLeft(0.0)(_ + _).slice(1, Batches)
    cum.map(c => lo + 1 + ((hi - lo) * c / w.sum).toLong)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes and file count of the data files under `dir`. */
  def footprint(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) {
      if (dir.getName.endsWith(".parquet")) (dir.length, 1L) else (dir.length, 0L)
    } else Option(dir.listFiles).toSeq.flatten.map(footprint)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
