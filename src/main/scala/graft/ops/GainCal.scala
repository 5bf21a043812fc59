package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F3/A8/A9 — diode split, calibration height, gain calibration
  * (ref continuum.py:46-61, 111-138, 174-187).
  *
  * These are the scalar references: [[calibrationHeight]] collects one
  * spike window's (t, intensity) pairs and fits on the driver, and
  * [[applyGain]] applies per-file height scalars as literals in a single
  * `withColumn`. The reduction itself ([[graft.pipeline.Continuum.runAll]])
  * fits every file's windows executor-side through [[calibrationHeightLocal]]
  * and mirrors [[applyGain]]'s branches as one codegen'd expression.
  */
object GainCal {

  /** F3 — diode on/off split predicates (ref continuum.py:46-61). */
  val diodeOn: Column = col("CALSTATE") === 1 && col("SWPVALID") === 0
  val diodeOff: Column = col("CALSTATE") === 0 && col("SWPVALID") === 0

  final case class Height(delta: Double, sd: Double)

  /** A8 — calibration height of one spike window (ref continuum.py:111-138):
    * split into diode-on/off, require ≥4 points each, A1-integrate both,
    * RCR-fit both on mean-centered times, evaluate both fits at the midpoint
    * of the two mean times, Δ = on(t)−off(t), σ by quadrature propagation.
    * Returns None when either half has <4 points (ref continuum.py:137-138).
    *
    * `window` must already be the calibration slice with `t` (relative
    * seconds) and `intensity` (A1 row sums) columns plus the flag columns.
    */
  def calibrationHeight(window: DataFrame): Option[Height] = {
    def collectTI(pred: Column): (Array[Double], Array[Double]) = {
      val rows = window.filter(pred).select(col("t"), col("intensity")).collect()
      (rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
    }
    val (tOn, yOn) = collectTI(diodeOn)
    val (tOff, yOff) = collectTI(diodeOff)
    calibrationHeightLocal(tOn, yOn, tOff, yOff)
  }

  /** A8 core on local arrays — shared by [[calibrationHeight]] (driver
    * collect) and [[graft.pipeline.Continuum.runAll]] (executor-side
    * mapGroups).
    */
  def calibrationHeightLocal(
      tOn: Array[Double], yOn: Array[Double],
      tOff: Array[Double], yOff: Array[Double]): Option[Height] = {
    if (tOn.length >= 4 && tOff.length >= 4) {
      val meanOn = tOn.sum / tOn.length
      val meanOff = tOff.sum / tOff.length
      // Reference centers x by its mean before the RCR fit (continuum.py:78).
      val fitOn = RobustFit.rcrLinearFit(tOn.map(_ - meanOn), yOn)
      val fitOff = RobustFit.rcrLinearFit(tOff.map(_ - meanOff), yOff)
      val evalT = (meanOn + meanOff) / 2
      val evalOn = evalT - meanOn
      val evalOff = evalT - meanOff
      val yOnAt = evalOn * fitOn.fit.slope + fitOn.fit.intercept
      val yOffAt = evalOff * fitOff.fit.slope + fitOff.fit.intercept
      val delta = yOnAt - yOffAt
      val sd = math.sqrt(
        math.pow(fitOn.err.interceptSd, 2) + math.pow(fitOff.err.interceptSd, 2) +
        math.pow(fitOn.err.slopeSd * evalOn, 2) + math.pow(fitOff.err.slopeSd * evalOff, 2))
      Some(Height(delta, sd))
    } else None
  }

  /** A9 — gain calibration (ref continuum.py:174-187) over a continuum frame
    * with columns (t, intensity). Heights are per-file scalars.
    *
    * Semantics notes, pinned by tests:
    *  - Python truthiness: a height of exactly 0.0 counts as "absent"
    *    (ref continuum.py:174 `if pre and post`), ported literally.
    *  - The z ≥ 1.96 drift branch in the reference rebinds a loop scalar and
    *    so never modifies the data (ref continuum.py:178-181 — a no-op as
    *    written). `strictCompat = true` reproduces the no-op;
    *    `strictCompat = false` (default) implements the evident intent:
    *    divide by the height linearly interpolated between the first and last
    *    sample times (SURVEY §7.5.2).
    */
  def applyGain(
      continuum: DataFrame,
      pre: Option[Height],
      post: Option[Height],
      strictCompat: Boolean = false): DataFrame = {
    val truthyPre = pre.filter(_.delta != 0.0)
    val truthyPost = post.filter(_.delta != 0.0)
    (truthyPre, truthyPost) match {
      case (Some(p), Some(q)) =>
        val z = math.abs(p.delta - q.delta) / math.sqrt(p.sd * p.sd + q.sd * q.sd)
        if (z >= 1.96) {
          if (strictCompat) continuum // reference's no-op drift branch
          else {
            // Interpolated height between first and last times (input is
            // time-ordered, so first/last = min/max; one cheap agg).
            val Array(t1, t2) = continuum.agg(min(col("t")), max(col("t")))
              .head().toSeq.map(_.asInstanceOf[Double]).toArray
            val h =
              if (t2 == t1) lit((p.delta + q.delta) / 2)
              else lit(p.delta) + lit(q.delta - p.delta) * ((col("t") - lit(t1)) / lit(t2 - t1))
            continuum.withColumn("intensity", col("intensity") / h)
          }
        } else
          continuum.withColumn("intensity", col("intensity") / lit((p.delta + q.delta) / 2))
      case (Some(p), None) =>
        continuum.withColumn("intensity", col("intensity") / lit(p.delta))
      case (None, Some(q)) =>
        continuum.withColumn("intensity", col("intensity") / lit(q.delta))
      case (None, None) => continuum
    }
  }
}
