package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.SparkTestBase
import graft.model.HeaderRecord
import graft.ops.CalibrationScan

/** The spectrum reduction has one path, [[Spectrum.runAll]]: N files in one
  * job chain must equal each file reduced alone (a one-file night), and each
  * file must equal the ON−OFF channel sums split at the scalar ST1 scan's
  * off index — including the no-off-transition fallback.
  */
class SpectrumAllSpec extends SparkTestBase {
  import spark.implicits._

  private val header = HeaderRecord.Header(
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "onoff", 1400.0, 80.0,
    HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES", "START,STOP channels 0_3", "HIRES bands  1355, 1435")))

  /** Science-only rows, integer-valued DATA (exact sums); the off transition
    * lands at a different row per file, and file 2 never transitions —
    * exercising the falsy-off fallback (total sum, no diff).
    */
  private def obs(nFiles: Int, rowsPerFile: Int = 30): DataFrame = {
    val rows = for (f <- 0 until nFiles; i <- 0 until rowsPerFile) yield {
      val off = 10 + 5 * f
      (f.toString, i.toLong,
        java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${"%02d".format(i % 60)}"),
        Seq(1.0 * (f + 1), 2.0 * (i % 3), 3.0, 1.0 * ((f + i) % 5)),
        0, 1, 0, 0,
        if (f == 2) "onoff:on" else if (i >= off) "onoff:off" else "onoff:on")
    }
    rows.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM",
      "CALSTATE", "SWPVALID", "OBSMODE")
  }

  private def perFile(out: DataFrame): Map[String, Seq[(Int, Double, Double)]] =
    out.as[(String, Int, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).toSeq).toMap

  test("runAll of N files equals each file alone, with the no-off fallback") {
    val df = obs(4)
    val all = perFile(Spectrum.runAll(df, header, Spectrum.Params(0, 1)))
    for (f <- 0 until 4) {
      val alone = perFile(Spectrum.runAll(df.filter($"FILE_ID" === f.toString), header,
        Spectrum.Params(0, 1)))
      assert(alone.keySet == Set(f.toString))
      assert(all(f.toString) == alone(f.toString), s"file $f diverged")
    }
    assert(all.keySet == Set("0", "1", "2", "3"))
  }

  test("each file equals ON−OFF channel sums split at the scalar scan's off index") {
    val df = obs(4)
    val all = perFile(Spectrum.runAll(df, header, Spectrum.Params(0, 1)))
    val axis = Seq(1395.0, 1395.0 - 80.0 / 3, 1395.0 - 2 * 80.0 / 3, 1315.0)
    for (f <- 0 until 4) {
      val rows = df.filter($"FILE_ID" === f.toString).orderBy($"ROWIDX")
        .select($"CALSTATE", $"SWPVALID", $"OBSMODE", $"DATA")
        .as[(Int, Int, String, Seq[Double])].collect().toIndexedSeq
      val off = CalibrationScan.scan(
        rows.map(r => CalibrationScan.Flags(r._1, r._2, r._3)), 1L, header.obsmode).offStart
      def sums(rs: Seq[Seq[Double]]) = rs.transpose.map(_.sum)
      // Python truthiness (ref spectrum.py:62): off index 0 or absent → no split.
      val spectrum = off.filter(_ != 0) match {
        case Some(o) =>
          sums(rows.take(o).map(_._4)).zip(sums(rows.drop(o).map(_._4))).map { case (a, b) => a - b }
        case None => sums(rows.map(_._4))
      }
      assert(off.isDefined == (f != 2), s"fixture: file $f off index $off")
      val expected = spectrum.zipWithIndex.map { case (v, i) => (i, axis(i), v) }
      assert(all(f.toString) == expected, s"file $f diverged")
    }
  }
}
