package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Conformal

/** q210 split-conformal intervals: zero-noise collapse, a full
  * independent-reimplementation differential (md5 split + OLS +
  * quantized order statistic replicated in plain Scala), split
  * accounting, and the finite-sample coverage guarantee.
  */
class ConformalSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def df(rows: Seq[(String, Long, Double, Double)]) =
    spark.createDataFrame(
      rows.map { case (s, i, x, y) => Row(s, i, x, y) }.asJava,
      StructType.fromDDL("seg STRING, id BIGINT, x DOUBLE, y DOUBLE"))

  private def run(rows: Seq[(String, Long, Double, Double)]) =
    Conformal.conformal(df(rows), col("seg"), col("id"), col("x"), col("y"))
      .collect()
      .map(r => r.getAs[String]("seg") ->
        ((r.getAs[Long]("n_train"), r.getAs[Long]("n_cal"),
          r.getAs[Long]("n_test"), r.getAs[Double]("slope"),
          r.getAs[Double]("qhat"), r.getAs[Double]("coverage"))))
      .toMap

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def splitOf(id: Long): String = {
    val u = md5hex(id.toString)
    if (u < "55") "train" else if (u < "aa") "cal" else "test"
  }

  test("q210 zero-noise line: exact fit, qhat 0, coverage 1") {
    val rows = (1L to 200L).map(i => ("s", i, (i % 13).toDouble,
      2.0 * (i % 13) + 3.0))
    val out = run(rows)("s")
    assert(math.abs(out._4 - 2.0) < 1e-9)
    assert(out._5 == 0.0)
    assert(out._6 == 1.0)
  }

  test("q210 split accounting: train + cal + test covers every row once") {
    val rows = (1L to 300L).map(i => ("s", i, (i % 7).toDouble, i.toDouble))
    val out = run(rows)("s")
    assert(out._1 + out._2 + out._3 == 300L)
    val expect = (1L to 300L).groupBy(splitOf).view.mapValues(_.size).toMap
    assert(out._1 == expect("train").toLong)
    assert(out._2 == expect("cal").toLong)
    assert(out._3 == expect("test").toLong)
  }

  test("q210 full differential vs an independent Scala reimplementation") {
    val rows = (1L to 400L).map { i =>
      val x = (i % 17).toDouble
      val noise = ((i * 7) % 11).toDouble - 5.0
      ("s", i, x, 2.0 * x + 3.0 + 0.25 * noise)
    }
    val out = run(rows)("s")

    // reimplement: OLS on train via quantized decimal moments
    def q6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val byS = rows.groupBy(r => splitOf(r._2))
    val tr = byS("train")
    val n = tr.size.toDouble
    val sx = tr.map(r => q6(r._3)).sum.toDouble
    val sy = tr.map(r => q6(r._4)).sum.toDouble
    val sxx = tr.map(r => q6(r._3 * r._3)).sum.toDouble
    val sxy = tr.map(r => q6(r._3 * r._4)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(out._4 == slope)

    val calR = byS("cal").map(r => q6(math.abs(r._4 - (intercept + slope * r._3))))
      .sorted
    val k = math.min(math.ceil((calR.size + 1) * 0.9).toLong, calR.size.toLong)
    val qhat = calR((k - 1).toInt)
    assert(out._5 == qhat.toDouble)

    val tst = byS("test").map(r => q6(math.abs(r._4 - (intercept + slope * r._3))))
    val cov = tst.count(_ <= qhat).toDouble / tst.size
    assert(out._6 == cov)
  }

  test("q210 coverage guarantee holds on an exchangeable sample") {
    val rows = (1L to 1200L).map { i =>
      val x = (i % 23).toDouble
      val noise = ((i * 13) % 29).toDouble - 14.0
      ("s", i, x, x + 0.5 * noise)
    }
    val out = run(rows)("s")
    assert(out._6 >= 0.85, s"coverage ${out._6}")
  }

  // a healthy segment "ok" plus a segment "bad" whose rows `bad`
  // builds so that its train fit is degenerate
  private def degenerate(bad: Long => Row): Seq[Row] =
    (1L to 120L).map(i => Row("ok", i, (i % 7).toDouble, 2.0 * i)) ++
      (121L to 240L).map(bad)

  private def fitError(rows: Seq[Row]): IllegalArgumentException =
    intercept[IllegalArgumentException] {
      Conformal.conformal(
        spark.createDataFrame(rows.asJava,
          StructType.fromDDL("seg STRING, id BIGINT, x DOUBLE, y DOUBLE")),
        col("seg"), col("id"), col("x"), col("y")).collect()
    }

  test("q210 NULL-slope segment (all train x or all y NULL) fails loud, naming it") {
    for (bad <- Seq[Long => Row](
        i => Row("bad", i, null, i.toDouble),
        i => Row("bad", i, (i % 5).toDouble, null))) {
      val e = fitError(degenerate(bad))
      assert(e.getMessage.contains("segment 'bad'"), e.getMessage)
      assert(!e.getMessage.contains("'ok'"))
    }
  }

  test("q210 constant-x segment (ANSI off: NULL slope) fails loud") {
    val e = withConf("spark.sql.ansi.enabled", "false") {
      fitError(degenerate(i => Row("bad", i, 3.0, i.toDouble)))
    }
    assert(e.getMessage.contains("segment 'bad'"), e.getMessage)
  }
}
