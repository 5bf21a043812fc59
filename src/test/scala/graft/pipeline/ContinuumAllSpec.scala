package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.ArrayOps
import graft.model.HeaderRecord
import graft.ops.{CalibrationScan, GainCal, RangeFilters}

/** The continuum reduction has one path, [[Continuum.runAll]]: N files in
  * one job chain must equal each file reduced alone (a one-file night), and
  * each file must equal the scalar operator references composed by hand
  * (ST1 scan → A8 heights → A9 gain).
  */
class ContinuumAllSpec extends SparkTestBase {
  import spark.implicits._

  private val header = HeaderRecord.Header(
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "onoff", 1400.0, 80.0,
    HeaderRecord.parseHistory(Seq(
      "DATAMODE HIRES", "START,STOP channels 0_3", "HIRES bands  1355, 1435")))

  /** nFiles observations with per-file varying science levels and drifting
    * calibration spikes (pre level differs from post → exercises the z-test
    * branches; file index varies the data so files are not identical).
    */
  private def obs(nFiles: Int, rowsPerFile: Int = 64): DataFrame = {
    val rows = for (f <- 0 until nFiles; i <- 0 until rowsPerFile) yield {
      val (cal, swp, level) =
        if (i < 8) (1, 0, 2.0 + f)
        else if (i < 16) (0, 0, 0.5)
        else if (i < rowsPerFile - 16) (0, 1, 1.0 + 0.1 * f + 0.001 * i)
        else if (i < rowsPerFile - 8) (0, 0, 0.5)
        else (1, 0, 2.5 + f)
      (f.toString, i.toLong,
        java.sql.Timestamp.valueOf(s"2024-01-01 00:${"%02d".format(i / 60)}:${"%02d".format(i % 60)}"),
        Seq.fill(4)(level), 0, 1, cal, swp, "onoff:on")
    }
    rows.toDF("FILE_ID", "ROWIDX", "DATE_OBS", "DATA", "IFNUM", "PLNUM",
      "CALSTATE", "SWPVALID", "OBSMODE")
  }

  private def perFile(out: DataFrame): Map[String, Seq[(Double, Double)]] =
    out.as[(String, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap

  test("runAll of N files equals each file alone (with the drift branch)") {
    val df = obs(3)
    val all = perFile(Continuum.runAll(df, header, Continuum.Params(0, 1)))
    assert(all.keySet == Set("0", "1", "2"))
    for (f <- 0 until 3) {
      val alone = perFile(Continuum.runAll(df.filter($"FILE_ID" === f.toString), header,
        Continuum.Params(0, 1)))
      assert(alone.keySet == Set(f.toString))
      assert(all(f.toString) == alone(f.toString), s"file $f diverged")
    }
  }

  test("each file equals the scalar references: CalibrationScan.scan → calibrationHeightLocal → applyGain") {
    val df = obs(3)
    for (strict <- Seq(false, true)) {
      val all = perFile(Continuum.runAll(df, header, Continuum.Params(0, 1, strictCompat = strict)))
      for (f <- 0 until 3) {
        // A1 per row, in ROWIDX order (every row passes F1 here, so the
        // row position is the index into this array).
        val rows = df.filter($"FILE_ID" === f.toString).orderBy($"ROWIDX")
          .select($"CALSTATE", $"SWPVALID", $"OBSMODE",
            RangeFilters.relSeconds($"DATE_OBS", lit(header.date)).as("t"),
            ArrayOps.arraySum($"DATA").as("intensity"))
          .as[(Int, Int, String, Double, Double)].collect().toIndexedSeq
        val cc = df.filter($"FILE_ID" === f.toString)
          .select($"IFNUM", $"PLNUM").distinct().count() // A3: |IFNUM x PLNUM|
        val idx = CalibrationScan.scan(
          rows.map(r => CalibrationScan.Flags(r._1, r._2, r._3)), cc, header.obsmode)
        val dataStart = idx.dataStart.getOrElse(0)
        def height(window: Seq[(Int, Int, String, Double, Double)]) = {
          val on = window.filter(r => r._1 == 1 && r._2 == 0)
          val off = window.filter(r => r._1 == 0 && r._2 == 0)
          GainCal.calibrationHeightLocal(
            on.map(_._4).toArray, on.map(_._5).toArray,
            off.map(_._4).toArray, off.map(_._5).toArray)
        }
        val pre = height(rows.take(dataStart))
        val post = height(rows.drop(idx.postCalStart))
        assert(pre.isDefined && post.isDefined && pre != post, s"fixture: file $f heights")
        val window = rows.slice(dataStart, idx.postCalStart).map(r => (r._4, r._5)).toDF("t", "intensity")
        val expected = GainCal.applyGain(window, pre, post, strict)
          .orderBy($"t").as[(Double, Double)].collect().toSeq
        assert(all(f.toString) == expected, s"file $f (strictCompat=$strict) diverged")
      }
    }
  }

  test("runAll handles many files in one plan (driver issues O(1) jobs)") {
    val df = obs(100, rowsPerFile = 40)
    val out = Continuum.runAll(df, header, Continuum.Params(0, 1))
    assert(out.groupBy($"FILE_ID").count().count() == 100)
    assert(out.count() == 100L * (40 - 32)) // data window = rows 16..23 per file
  }
}
