package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{ArrayOps, VectorSum}
import graft.model.HeaderRecord
import graft.model.HeaderRecord.Header
import graft.ops._

/** Entry point 3 — the spectrum reduction (ref spectrum.py:46-71):
  * F1+F2 filter → optional F6/F7 → ST1 off-transition index → A2 time-axis
  * integration (ON and OFF halves for onoff files) → A10 difference.
  * Returns one row per (file, channel): (FILE_ID, pos, frequency, intensity).
  *
  * There is one reduction path, [[runAll]]: a single observation is a
  * one-file night, reduced by the same job chain as N files; drop FILE_ID
  * for the reference's (pos, frequency, intensity) product.
  */
object Spectrum {

  final case class Params(
      ifnum: Int,
      plnum: Int,
      includeFreq: Seq[(Double, Double)] = Nil,
      excludeFreq: Seq[(Double, Double)] = Nil,
      includeTime: Seq[(Double, Double)] = Nil,
      excludeTime: Seq[(Double, Double)] = Nil)

  /** Spectra for N files (N ≥ 1) in ONE job chain (the
    * [[graft.pipeline.Continuum.runAll]] analog). The per-file
    * off-transition threshold is a parallel groupBy aggregate over slim flag
    * columns, broadcast-joined back, and the ON/OFF vector sums aggregate in
    * a single groupBy(FILE_ID, half) pass with map-side partial whole-array
    * sums (the shuffle carries one array per group and partition, not
    * n_rows × n_channels exploded rows). Output: one row per
    * (FILE_ID, channel).
    */
  def runAll(df: DataFrame, header: Header, p: Params): DataFrame = {
    var d = df.filter(
      col("IFNUM") === p.ifnum && col("PLNUM") === p.plnum &&
      col("CALSTATE") === 0 && col("SWPVALID") === 0)
    d = RangeFilters.filterTimeRanges(d, lit(header.date), p.includeTime, p.excludeTime)
    val fr = HeaderRecord.frequencyRange(header, p.ifnum)
    val axis = ArrayOps.freqAxis(fr.high, fr.low, fr.channelCount)
    val (freqs, d2) = RangeFilters.filterFrequencyRanges(d, axis, p.includeFreq, p.excludeFreq)

    // The spectrum path needs no row POSITIONS at all (r14, the sf10
    // certificate's lesson): the per-file off index was only ever compared
    // — `off_start === 0` and `__pos < off_start` — and positions are
    // ranks of the unique per-file ROWIDX, so every comparison rewrites to
    // a ROWIDX threshold: "off index exists" = min off-ROWIDX non-null,
    // "off index is 0" = min off-ROWIDX equals the file's first ROWIDX,
    // "row before the off transition" = ROWIDX < min off-ROWIDX. That
    // removes the per-file window (whose parallelism scaled with file
    // COUNT — 20× for 10× data on the 4-file fixture) AND the wide
    // checkpoint (93 s materializing 60M DATA arrays at sf10): the frame
    // is evaluated twice, but the offs side prunes to three slim columns
    // and every aggregate is evaluation-order-independent, so no
    // materialization is needed for determinism.
    val slim = d2.withColumn("FILE_ID", col("FILE_ID").cast("string"))
      .select(col("FILE_ID"), col("ROWIDX").cast("long").as("ROWIDX"),
        col("DATA"), col("OBSMODE"))

    // Per-file thresholds (the spectrum form of ST1's off index, which is
    // the first row whose OBSMODE contains 'onoff:off'): a parallel
    // groupBy aggregate, not the sequential per-file state
    // machine (which only dataStart/postCal need, and the spectrum path
    // reads neither). Null off threshold when the header isn't onoff or
    // the file has no off rows, like CalIndices.off.
    val offs =
      if (header.obsmode == "onoff")
        slim.groupBy(col("FILE_ID"))
          .agg(min(col("ROWIDX")).as("__first_row"),
            min(when(col("OBSMODE").contains("onoff:off"), col("ROWIDX")))
              .as("__off_row"))
      else
        slim.groupBy(col("FILE_ID"))
          .agg(min(col("ROWIDX")).as("__first_row"),
            first(lit(null).cast("long")).as("__off_row"))

    // Python truthiness (ref spectrum.py:62): off index 0 or absent → no split.
    val halves = slim
      .join(broadcast(offs), "FILE_ID")
      .withColumn("__split",
        !(col("__off_row").isNull || col("__off_row") === col("__first_row")))
      .withColumn("__on", !col("__split") || col("ROWIDX") < col("__off_row"))
      .groupBy(col("FILE_ID"), col("__on"))
      .agg(VectorSum.vecSum(ArrayOps.fillNulls(col("DATA"))).as("s"),
        first(col("__split")).as("__split"))

    // A file WITHOUT a real off index returns its plain sum; a file WITH
    // one returns on−off — null (→ no rows after the posexplode) when either
    // half is empty.
    val spec = halves.groupBy(col("FILE_ID"))
      .agg(
        first(when(col("__on"), col("s")), ignoreNulls = true).as("s_on"),
        first(when(!col("__on"), col("s")), ignoreNulls = true).as("s_off"),
        first(col("__split")).as("__split"))
      .select(col("FILE_ID"),
        when(!col("__split"), col("s_on"))
          .otherwise(ArrayOps.vecDiff(col("s_on"), col("s_off"))).as("spectrum"))

    val freqLit = array(freqs.map(lit(_)).toIndexedSeq: _*)
    spec.select(col("FILE_ID"), posexplode(col("spectrum")).as(Seq("pos", "intensity")))
      .withColumn("frequency", element_at(freqLit, col("pos") + 1))
      .select(col("FILE_ID"), col("pos"), col("frequency"), col("intensity"))
      .orderBy(col("FILE_ID"), col("pos"))
  }
}
