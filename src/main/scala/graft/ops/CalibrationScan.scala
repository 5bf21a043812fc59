package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.Breaks.{break, breakable}

/** ST1 — calibration-spike locator (ref utils.py:126-214), the one operator
  * whose semantics are inherently order-dependent.
  *
  * Design for scale: the state machine is sequential *within one file* (a few
  * thousand rows) but embarrassingly parallel *across files*. [[scanPerFileCc]]
  * therefore partitions by FILE_ID and runs the exact streaming scan per file —
  * only the three flag columns + row index are shuffled (the wide `DATA`
  * array is pruned away by Catalyst), so at 100 TB the shuffle carries a few
  * bytes per row. A global window/sort formulation would serialize the whole
  * table through one ordering for no benefit.
  *
  * [[scan]] is a literal port of the reference's quirks, pinned by tests:
  *  - `data_start_ind` truthiness (index 0 never triggers the counter reset,
  *    ref utils.py:171);
  *  - the valid-row counter never resets across abandoned starts
  *    (ref utils.py:165-173);
  *  - post-cal candidate resets on every non-matching row so mid-observation
  *    blips don't count (ref utils.py:160-163);
  *  - `if not post_cal_start_ind` truthiness: a post-cal start at index 0 is
  *    replaced by `len−1` (ref utils.py:200-201);
  *  - fallback rescan when no pre-cal spike exists (ref utils.py:180-198).
  */
object CalibrationScan {

  /** Flag triple per row, in time order. */
  final case class Flags(calstate: Int, swpvalid: Int, obsmode: String)

  /** The three indices the reference returns (ref utils.py:214). */
  final case class CalIndices(dataStart: Option[Int], postCalStart: Int, offStart: Option[Int])

  /** Exact scalar port of `find_calibrations` (ref utils.py:126-214). */
  def scan(rows: IndexedSeq[Flags], channelCount: Long, headerObsmode: String): CalIndices = {
    var dataStart: Option[Int] = None
    var postCal: Option[Int] = None
    var counter = 0L
    var calStarted = false
    var preCalComplete = false

    breakable {
      var ind = 0
      while (ind < rows.length) {
        val r = rows(ind)
        if (r.calstate == 1) calStarted = true
        if (calStarted && r.calstate == 0 && r.swpvalid == 1 && !preCalComplete) {
          dataStart = Some(ind); preCalComplete = true
        }
        if (ind > 0 && preCalComplete && r.swpvalid == 0 && rows(ind - 1).swpvalid == 0) {
          if (postCal.isEmpty) postCal = Some(ind - 1)
        } else postCal = None
        if (preCalComplete && r.calstate == 0 && r.swpvalid == 1) counter += 1
        // Literal truthiness port: Python `and data_start_ind` is false for
        // both None and 0 (ref utils.py:171).
        if (counter <= 3 * channelCount && r.swpvalid == 0 && dataStart.exists(_ != 0)) {
          dataStart = None; preCalComplete = false
        }
        if (preCalComplete && r.swpvalid == 0 && r.calstate == 1) break()
        ind += 1
      }
    }

    // Fallback: no pre-cal spike found — data starts at row 0, rescan for the
    // post-cal run only (ref utils.py:180-198). postCal is already None here:
    // the first pass's else-reset fired on every row while preCalComplete was
    // false.
    if (!preCalComplete) {
      dataStart = Some(0)
      breakable {
        var ind = 0
        while (ind < rows.length) {
          val r = rows(ind)
          if (ind > 0 && r.swpvalid == 0 && rows(ind - 1).swpvalid == 0) {
            if (postCal.isEmpty) postCal = Some(ind - 1)
          } else postCal = None
          if (r.swpvalid == 0 && r.calstate == 1) break()
          ind += 1
        }
      }
    }

    // `if not post_cal_start_ind` — None OR 0 both fall back to len−1
    // (ref utils.py:200-201).
    val postCalFinal = postCal.filter(_ != 0).getOrElse(rows.length - 1)

    // off_start_index: first row whose OBSMODE contains 'onoff:off', only for
    // onoff-mode files (ref utils.py:203-212).
    val offStart =
      if (headerObsmode == "onoff") {
        val j = indexWhereContains(rows)
        if (j < 0) None else Some(j)
      } else None

    CalIndices(dataStart, postCalFinal, offStart)
  }

  private def indexWhereContains(rows: IndexedSeq[Flags]): Int = {
    var i = 0
    while (i < rows.length) {
      val m = rows(i).obsmode
      if (m != null && m.contains("onoff:off")) return i
      i += 1
    }
    -1
  }

  /** One-pass streaming form of [[scan]] — same CalIndices for any input
    * (CalibrationScanSpec pins equivalence on the quirk fixtures and
    * random sequences), with O(1) state instead of a materialized row
    * array: the main machine and the fallback-rescan machine run
    * SIMULTANEOUSLY (the fallback's result is simply discarded when the
    * main machine completes pre-cal), `rows(ind−1)` becomes a
    * previous-value register, and the reference's `break` becomes a freeze
    * flag (the iterator is still drained for the row count and off-start
    * scan, which the reference reads after its loop anyway).
    */
  def scanStreaming(
      rows: Iterator[Flags],
      channelCount: Long,
      headerObsmode: String): CalIndices = {
    // main machine (ref utils.py:126-178)
    var dataStart: Option[Int] = None
    var postCal: Option[Int] = None
    var counter = 0L
    var calStarted = false
    var preCalComplete = false
    var frozen = false
    var prevSwp = -1
    // fallback machine (ref utils.py:180-198), used only if pre-cal never
    // completes
    var fbPostCal: Option[Int] = None
    var fbFrozen = false
    var fbPrevSwp = -1
    var offStart = -1
    var ind = 0
    while (rows.hasNext) {
      val r = rows.next()
      if (!frozen) {
        if (r.calstate == 1) calStarted = true
        if (calStarted && r.calstate == 0 && r.swpvalid == 1 && !preCalComplete) {
          dataStart = Some(ind); preCalComplete = true
        }
        if (ind > 0 && preCalComplete && r.swpvalid == 0 && prevSwp == 0) {
          if (postCal.isEmpty) postCal = Some(ind - 1)
        } else postCal = None
        if (preCalComplete && r.calstate == 0 && r.swpvalid == 1) counter += 1
        if (counter <= 3 * channelCount && r.swpvalid == 0 && dataStart.exists(_ != 0)) {
          dataStart = None; preCalComplete = false
        }
        if (preCalComplete && r.swpvalid == 0 && r.calstate == 1) frozen = true
        prevSwp = r.swpvalid
      }
      if (!fbFrozen) {
        if (ind > 0 && r.swpvalid == 0 && fbPrevSwp == 0) {
          if (fbPostCal.isEmpty) fbPostCal = Some(ind - 1)
        } else fbPostCal = None
        if (r.swpvalid == 0 && r.calstate == 1) fbFrozen = true
        fbPrevSwp = r.swpvalid
      }
      if (offStart < 0 && r.obsmode != null && r.obsmode.contains("onoff:off")) offStart = ind
      ind += 1
    }
    if (!preCalComplete) { dataStart = Some(0); postCal = fbPostCal }
    val postCalFinal = postCal.filter(_ != 0).getOrElse(ind - 1)
    val off =
      if (headerObsmode == "onoff" && offStart >= 0) Some(offStart) else None
    CalIndices(dataStart, postCalFinal, off)
  }

  /** Scale path: one scan per file, parallel across files. Input needs
    * FILE_ID, `__pos` (the row order to scan by — the continuum reduction's
    * post-filter positional index, or ROWIDX for a raw flag table), the
    * three flag columns and `__cc`, the file's A3 interleave factor
    * (constant within a file; read off its first row). Everything else is
    * pruned before the shuffle. Returns one row per file with the three
    * indices.
    *
    * Mechanics: secondary sort — `repartition(FILE_ID)` +
    * `sortWithinPartitions(FILE_ID, __pos)` puts each file's rows
    * consecutive and ordered (Spark's spillable external sort), then one
    * `mapPartitions` runs [[scanStreaming]] per file, cutting on key
    * change — the same shape as `SdfitsWriter.writeObservations`. No
    * per-file row array is ever materialized.
    */
  def scanPerFileCc(df: DataFrame, headerObsmode: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col("FILE_ID").cast("string"),
        col("__pos").cast("long"),
        col("CALSTATE").cast("int"),
        col("SWPVALID").cast("int"),
        col("OBSMODE").cast("string"),
        col("__cc").cast("long"))
      .repartition(col("FILE_ID"))
      .sortWithinPartitions(col("FILE_ID"), col("__pos"))
      .as[(String, Long, Int, Int, String, Long)]
      .mapPartitions { it =>
        val rows = it.buffered
        def box(o: Option[Int]): java.lang.Long =
          o.map(i => java.lang.Long.valueOf(i.toLong)).orNull
        new Iterator[(String, java.lang.Long, Long, java.lang.Long)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (String, java.lang.Long, Long, java.lang.Long) = {
            val file = rows.head._1
            val cc = rows.head._6
            val fileRows = new Iterator[Flags] {
              def hasNext: Boolean = rows.hasNext && rows.head._1 == file
              def next(): Flags = { val t = rows.next(); Flags(t._3, t._4, t._5) }
            }
            val r = scanStreaming(fileRows, cc, headerObsmode)
            (file, box(r.dataStart), r.postCalStart.toLong, box(r.offStart))
          }
        }
      }
      .toDF("FILE_ID", "data_start", "post_cal_start", "off_start")
  }
}
