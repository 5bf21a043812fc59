package org.apache.spark.perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.sdfits.SdfitsFormat
import graft.sources.sdfits.SdfitsFormat.ColSpec

/** A seeded synthetic night of on/off SDFITS observations and the check
  * that the reduction recovers what was planted in it.
  *
  * Every file holds one IF and one polarization with `channels` float32
  * channels per row, in this row order:
  *
  *   - pre-calibration spike: `spike` rows with the noise diode on, then
  *     `spike` rows with it off (SWPVALID = 0, OBSMODE `onoff:on`);
  *   - the data window (SWPVALID = 1): first half `onoff:on` with a
  *     Gaussian source drifting through the beam and `blips` one-row
  *     SWPVALID = 0 blips, second half `onoff:off`; a few NaN channels and
  *     rows with a negative TSYS;
  *   - post-calibration spike: `spike + blips` diode-off rows, then `spike`
  *     diode-on rows (OBSMODE `onoff:off`).
  *
  * A spectral line sits in every `onoff:on` row. The spectrum reduction
  * sums the diode-off SWPVALID = 0 rows on each side of the first
  * `onoff:off` row, which is `spike + blips` rows on each side, so the sky
  * cancels in ON−OFF and the line remains, scaled by that row count and
  * the file's gain, over a flat offset from the source in the blip rows.
  * The continuum reduction divides by the noise-diode height (gain × cal ×
  * channels kept), so its data window reads
  * (sky + line area / channels kept + source) / cal.
  */
object Night {

  final case class Shape(files: Int, rows: Int, channels: Int = 1024, spike: Int = 16,
      blips: Int = 3) {
    require(rows >= 4 * spike + 400, s"rows=$rows is too short for the row layout")
    def dataStart: Int = 2 * spike
    def dataEnd: Int = rows - 2 * spike - blips // exclusive
    def onEnd: Int = dataStart + (dataEnd - dataStart) / 2
  }

  /** Planted parameters of one file. */
  final case class Planted(fileId: String, gain: Double, sky: Double, source: Double,
      line: Double, lineChannel: Int, lineWidth: Double)

  val cal = 2.0
  val noise = 0.125
  val cadenceS = 0.5
  val cropStart = 16
  def cropStop(sh: Shape): Int = sh.channels - 17
  val nightStart = "2024-03-01T00:00:00"

  private val cols = Seq(
    ColSpec("FILE_ID", 8, 'A'), ColSpec("ROWIDX", 1, 'K'), ColSpec("DATE_OBS", 23, 'A'),
    ColSpec("IFNUM", 1, 'J'), ColSpec("PLNUM", 1, 'J'), ColSpec("CALSTATE", 1, 'J'),
    ColSpec("SWPVALID", 1, 'J'), ColSpec("OBSMODE", 9, 'A'), ColSpec("TSYS", 1, 'D'),
    ColSpec("EXPOSURE", 1, 'D'), ColSpec("ELEVATIO", 1, 'D'))

  private def dataCol(sh: Shape) = ColSpec("DATA", sh.channels, 'E')

  def lineProfile(p: Planted, channel: Int): Double = {
    val d = (channel - p.lineChannel) / p.lineWidth
    math.exp(-0.5 * d * d)
  }

  /** Write the night's files into `dir` (created fresh); returns what was
    * planted, one entry per file, in file order.
    */
  def write(dir: File, seed: Long, sh: Shape): Seq[Planted] = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")
    val t0 = java.time.LocalDateTime.parse(nightStart)
    (0 until sh.files).map { f =>
      val p = Planted(f"scan$f%04d", gain = 0.8 + 0.45 * r.nextDouble(),
        sky = 15.0 + 10.0 * r.nextDouble(), source = 3.0 + 3.0 * r.nextDouble(),
        line = 2.0 + 2.0 * r.nextDouble(),
        lineChannel = cropStart + 100 + r.nextInt(sh.channels - 2 * cropStart - 200),
        lineWidth = 4.0 + 6.0 * r.nextDouble())
      val fileStartS = f * (sh.rows * cadenceS + 60.0)
      val srcCenter = (sh.dataStart + sh.onEnd) / 2.0
      val srcWidth = (sh.dataEnd - sh.dataStart) / 12.0
      val onLen = sh.onEnd - sh.dataStart
      val blipRows = (1 to sh.blips).map(b => sh.dataStart + b * onLen / (sh.blips + 1)).toSet
      val nanRows = Seq.fill(3)(sh.onEnd + 1 + r.nextInt(sh.dataEnd - sh.onEnd - 1))
      val negRows = Seq.fill(2)(sh.onEnd + 1 + r.nextInt(sh.dataEnd - sh.onEnd - 1)).toSet
      val profile = Array.tabulate(sh.channels)(c => p.line * lineProfile(p, c))
      val rows = Iterator.range(0, sh.rows).map { i =>
        val postOff = sh.dataEnd
        val postOn = sh.rows - sh.spike
        val calOn = i < sh.spike || i >= postOn
        val swp = if ((i >= sh.dataStart && i < sh.dataEnd) && !blipRows(i)) 1 else 0
        val on = i < sh.onEnd
        val src = if (i >= sh.dataStart && i < postOff) {
          val d = (i - srcCenter) / srcWidth
          p.source * math.exp(-0.5 * d * d)
        } else 0.0
        val base = p.sky + src + (if (calOn) cal else 0.0)
        val data = new Array[Float](sh.channels)
        var c = 0
        while (c < sh.channels) {
          val v = base + (if (on) profile(c) else 0.0) + noise * gaussian(r)
          data(c) = (p.gain * v).toFloat
          c += 1
        }
        nanRows.filter(_ == i).foreach(_ => data(r.nextInt(sh.channels)) = Float.NaN)
        val ts = t0.plusNanos(((fileStartS + i * cadenceS) * 1e9).toLong).format(fmt)
        Seq[Any](p.fileId, i.toLong, ts, 0, 1, if (calOn) 1 else 0, swp,
          if (on) "onoff:on" else "onoff:off", if (negRows(i)) -1.0 else 30.0 + r.nextDouble(),
          cadenceS, 40.0 + 0.01 * i, data)
      }
      val os = new BufferedOutputStream(new FileOutputStream(new File(dir, s"${p.fileId}.fits")), 1 << 20)
      try SdfitsFormat.write(os,
        headerValues = Seq("OBSFREQ" -> "1395.0", "OBSBW" -> "80.0"),
        stringHeaderValues = Seq("DATE" -> nightStart, "OBSMODE" -> "onoff"),
        history = Seq("DATAMODE HIRES / data resolution mode",
          s"START,STOP channels  ${cropStart}_${cropStop(sh)}", "HIRES bands  1355, 1435"),
        cols = cols.take(3) ++ Seq(dataCol(sh)) ++ cols.drop(3),
        rows = rows.map(row => row.take(3) ++ Seq(row.last) ++ row.slice(3, row.length - 1)),
        nRows = sh.rows)
      finally os.close()
      p
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Marsaglia polar method, one value per call (the pair's twin is
    // dropped so the stream stays a pure function of the call count).
    var u, v, s = 0.0
    while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v
             s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  /** SHA-256 over every file of the night, in name order. */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def bytesOnDisk(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).map(_.length).sum

  /** Per-file recovered values next to the planted ones. */
  final case class Recovered(fileId: String, level: Double, wantLevel: Double,
      peak: Double, wantPeak: Double, line: Double, wantLine: Double)

  /** The calibrated continuum is only as good as the noise-diode height
    * fitted from the spike rows, about 0.3 % here; the line is fitted from
    * the spectrum alone.
    */
  val levelTolerance = 0.015
  val lineTolerance = 0.05

  /** What `check` found: per-file results, the failures as messages, an
    * order-insensitive checksum over every product row, and the seconds of
    * each product lookup.
    */
  final case class Checked(recovered: Seq[Recovered], failures: Seq[String], checksum: String,
      lookupSeconds: Seq[Double])

  /** Compare the written continuum and spectrum products with the planted
    * parameters. Each file's two products are opened one at a time through
    * `format("sdfits")`, as a user looking at one file's results would.
    */
  def check(spark: SparkSession, continuumDir: String, spectrumDir: String, sh: Shape,
      planted: Seq[Planted], perturb: Boolean): Checked = {
    val failures = Seq.newBuilder[String]
    val lookups = Seq.newBuilder[Double]
    def lookup(dir: String, p: Planted, cols: Seq[String]): Array[Row] = {
      val f = new File(dir, s"obs_${p.fileId}.fits")
      val t0 = System.nanoTime()
      val rows =
        if (f.isFile) spark.read.format("sdfits").load(f.getPath).select(cols.map(col): _*).collect()
        else { failures += s"${p.fileId}: no product ${f.getName} in $dir"; Array.empty[Row] }
      lookups += (System.nanoTime() - t0) / 1e9
      rows
    }
    val cont = planted.flatMap(lookup(continuumDir, _, Seq("FILE_ID", "t", "intensity")))
    val spec = planted.flatMap(lookup(spectrumDir, _, Seq("FILE_ID", "pos", "intensity")))
    val contRows = if (!perturb) cont else cont.map { r =>
      if (r.getString(0) == planted.head.fileId) Row(r.get(0), r.get(1), r.getDouble(2) * 1.03)
      else r
    }
    val kept = cropStop(sh) - cropStart + 1
    val onRows = sh.spike + sh.blips
    val results = planted.map { p =>
      val c = contRows.filter(_.getString(0) == p.fileId).map(r => (r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val s = spec.filter(_.getString(0) == p.fileId).map(r => (r.getInt(1), r.getDouble(2)))
      val lineArea = (cropStart to cropStop(sh)).map(ch => p.line * lineProfile(p, ch)).sum
      val onBase = (p.sky + lineArea / kept) / cal
      val fileStartS = planted.indexOf(p) * (sh.rows * cadenceS + 60.0)
      def t(i: Int) = fileStartS + i * cadenceS
      // Level: the median of the last quarter of the data window (off
      // source, off line); peak: the source's transit in the on half.
      val quarter = t(sh.dataEnd - (sh.dataEnd - sh.dataStart) / 4)
      val tail = c.filter(_._1 >= quarter).map(_._2).sorted
      val level = if (tail.isEmpty) Double.NaN else tail(tail.length / 2)
      val onHalf = c.filter(_._1 < t(sh.onEnd)).map(_._2)
      val peak = if (onHalf.isEmpty) Double.NaN else onHalf.max
      // Line: least-squares fit of ON−OFF to a constant (the source's
      // continuum, which the blips carry into the ON sum) plus the planted
      // line profile.
      val prof = s.map { case (pos, _) => lineProfile(p, pos + cropStart) }
      val y = s.map(_._2)
      val n = y.length.toDouble
      val (sp, sy) = (prof.sum, y.sum)
      val spp = prof.map(w => w * w).sum
      val spy = prof.zip(y).map { case (w, v) => w * v }.sum
      val den = n * spp - sp * sp
      val line = if (den == 0) Double.NaN else (n * spy - sp * sy) / den / (onRows * p.gain)
      val rec = Recovered(p.fileId, level, p.sky / cal, peak, onBase + p.source / cal, line, p.line)
      def bad(what: String, got: Double, want: Double, tol: Double): Unit =
        if (!(math.abs(got - want) <= tol * math.abs(want)))
          failures += f"${p.fileId}: $what $got%.5f vs planted $want%.5f (tolerance ${tol * 100}%.1f%%)"
      bad("continuum level", rec.level, rec.wantLevel, levelTolerance)
      bad("source peak", rec.peak, rec.wantPeak, levelTolerance)
      bad("line amplitude", rec.line, rec.wantLine, lineTolerance)
      if (s.length != kept) failures += s"${p.fileId}: spectrum has ${s.length} channels, want $kept"
      rec
    }
    val checksum = RowHash.ofRows(contRows.iterator.map(_.toSeq) ++ spec.iterator.map(_.toSeq))
    Checked(results, failures.result(), checksum, lookups.result())
  }
}

/** Order-insensitive 128-bit checksum: the sum and the xor of a 64-bit
  * hash of each row.
  */
object RowHash {
  def ofRows(rows: Iterator[Seq[Any]]): String = {
    var sum, xor = 0L
    var n = 0L
    rows.foreach { r =>
      val h = mix(r.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case f: Float => java.lang.Float.floatToIntBits(f).toLong
        case null => 0x9e3779b97f4a7c15L
        case x => x.hashCode.toLong
      })
      sum += h; xor ^= h; n += 1
    }
    f"$n%d:$sum%016x$xor%016x"
  }

  def mix(xs: Seq[Long]): Long = xs.foldLeft(0x51af3bL)((h, x) => fmix(h * 31 + x))

  def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }
}
