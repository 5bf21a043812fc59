package org.apache.spark.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Continuum, Spectrum, Validate}
import graft.sources.sdfits.{Sdfits, SdfitsWriter}
import Main.{Pass, cpuSeconds, wipe}

/** Drop cached frames and checkpoint blocks a pass left behind. */
object Cleanup {
  def apply(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** `radio_survey`: read a seeded night of SDFITS files, reduce it to the
  * continuum and spectrum products, write both back as SDFITS, and check
  * them against what the generator planted.
  */
final class RadioSurvey(a: Main.Args) extends Main.Workload {
  val shape = Night.Shape(files = 8, rows = 1200)
  private val warmShape = Night.Shape(files = 2, rows = 600)
  private val root = new File(a.work, "radio")
  private val night = new File(root, "night")
  private val warmNight = new File(root, "warm")
  private var planted: Seq[Night.Planted] = Nil
  private var firstDigest: Option[String] = None
  private var firstChecksum: Option[String] = None
  private var lastWriteBytes = 0L
  private val continuumParams = Continuum.Params(ifnum = 0, plnum = 1)
  private val spectrumParams = Spectrum.Params(ifnum = 0, plnum = 1)

  def opName = "product lookup"
  def describe: String = f"night=${shape.files} files x ${shape.rows} rows x ${shape.channels}" +
    f" channels (${Night.bytesOnDisk(night) / 1048576.0}%.1f MB); items are SDFITS rows"

  def setup(spark: SparkSession, rep: Int): Seq[String] = {
    wipe(root)
    planted = Night.write(night, a.seed, shape)
    val failures = mutable.ArrayBuffer.empty[String]
    val digest = Night.digest(night)
    if (rep == 0) println(s"perfbench: night digest $digest")
    if (firstDigest.exists(_ != digest))
      failures += s"setup: night for seed ${a.seed} differs between two generations"
    firstDigest = Some(digest)
    // Warm up on a smaller night from another seed.
    val warmPlanted = Night.write(warmNight, a.seed ^ 0x5deece66dL, warmShape)
    failures ++= reduce(spark, warmNight, warmShape, warmPlanted, new Tracer(
      spark.sparkContext, false), perturb = false).failures.map("warm-up: " + _)
    failures.toSeq
  }

  def pass(spark: SparkSession, tracer: Tracer): Pass =
    reduce(spark, night, shape, planted, tracer, a.perturb)

  private def reduce(spark: SparkSession, in: File, sh: Night.Shape, pl: Seq[Night.Planted],
      tracer: Tracer, perturb: Boolean): Pass = {
    val out = new File(root, "out")
    wipe(out)
    val contDir = new File(out, "continuum").getPath
    val specDir = new File(out, "spectrum").getPath
    def materialize(df: DataFrame): DataFrame = {
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      df.localCheckpoint(eager = true)
    }
    // Traced passes first decode every cell of the night once, outside the
    // timed region: the pipeline never scans on its own, so this is the only
    // way to time the reader apart from the operators it feeds.
    if (tracer.enabled) tracer.span("sdfits.read")(
      spark.read.format("sdfits").load(in.getPath).queryExecution.toRdd.foreach(_ => ()))
    System.gc()
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    tracer.span("pass") {
      val (raw, header) = tracer.span("sdfits.open")((spark.read.format("sdfits").load(in.getPath),
        Sdfits.readHeader(new File(in, s"${pl.head.fileId}.fits").getPath)))
      val validated = tracer.span("pipeline.validate")(Validate.run(raw, header))
      val cont = tracer.span("pipeline.continuum_build")(Continuum.runAll(validated, header, continuumParams))
      val spec = tracer.span("pipeline.spectrum_build")(Spectrum.runAll(validated, header, spectrumParams))
      val contDone = tracer.span("pipeline.continuum_exec")(materialize(cont))
      val specDone = tracer.span("pipeline.spectrum_exec")(materialize(spec))
      val hdr = SdfitsWriter.Header(
        values = Seq("OBSFREQ" -> "1395.0", "OBSBW" -> "80.0"),
        stringValues = Seq("DATE" -> Night.nightStart, "OBSMODE" -> "onoff"))
      tracer.span("sdfits.write")(
        SdfitsWriter.writeObservations(contDone, "FILE_ID", Seq("t"), contDir, hdr))
      tracer.span("sdfits.write")(
        SdfitsWriter.writeObservations(specDone, "FILE_ID", Seq("pos"), specDir, hdr))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - cpu0
    Cleanup(spark)
    lastWriteBytes = Night.bytesOnDisk(new File(contDir)) + Night.bytesOnDisk(new File(specDir))
    val Night.Checked(rec, failures, checksum, lookups) =
      Night.check(spark, contDir, specDir, sh, pl, perturb)
    if (sh == shape && firstChecksum.isEmpty) {
      def dev(f: Night.Recovered => (Double, Double)) =
        rec.map(f).map { case (got, want) => math.abs(got / want - 1) }.max * 100
      println(f"perfbench: largest deviation from planted: level ${dev(r => (r.level, r.wantLevel))}%.2f%%," +
        f" source peak ${dev(r => (r.peak, r.wantPeak))}%.2f%% (tolerance ${Night.levelTolerance * 100}%.1f%%)," +
        f" line ${dev(r => (r.line, r.wantLine))}%.2f%% (${Night.lineTolerance * 100}%.0f%%)")
    }
    val drift =
      if (sh != shape || perturb) Nil
      else if (firstChecksum.exists(_ != checksum))
        Seq(s"product checksum $checksum differs from the first pass's ${firstChecksum.get}")
      else { if (firstChecksum.isEmpty) println(s"perfbench: product checksum $checksum"); Nil }
    if (sh == shape && !perturb) firstChecksum = firstChecksum.orElse(Some(checksum))
    // One check per file, and one that the products repeat across passes.
    val failedFiles = pl.count(p => failures.exists(_.startsWith(p.fileId + ":")))
    Pass(wall, cpu, sh.files.toLong * sh.rows, lookups, attempted = sh.files + 1,
      failed = failedFiles + drift.length, failures ++ drift, traced = None)
  }

  override def layers(t: Tracer, p: Pass, cores: Int): Map[String, Double] = {
    val base = Layers.common(t, p, cores)
    val readS = t.tree("sdfits.read").map(_.seconds).sum
    // The connector reads whole files, so bytes the pass reads over bytes
    // on disk counts how many times the pipeline decodes each file.
    val passBytes = t.tree("pass").map(_.fsBytesRead).headOption.getOrElse(0L)
    val nightBytes = Night.bytesOnDisk(night)
    base ++ Map(
      "sdfits.read_s" -> readS,
      "sdfits.read_mb_s" -> nightBytes / 1048576.0 / readS,
      "sdfits.read_amplification" -> passBytes.toDouble / nightBytes,
      "sdfits.write_mb" -> lastWriteBytes / 1048576.0)
  }
}

/** `registry_sweep`: one short registry query per family, in an order the
  * seed permutes, on the generated corpus, through a sink that hashes every
  * row and compares the hash with the one recorded for the corpus.
  */
final class RegistrySweep(a: Main.Args) extends Main.Workload {
  private val corpus = new File(a.work, "registry/corpus")
  val corpusSeed = 20240301L
  private lazy val expected: Map[String, Registry.Expected] = Registry.loadExpected(
    new File(sys.props.getOrElse("perfbench.expected",
      sys.error("set -Dperfbench.expected to the recorded hash file"))))
  lazy val queries: Seq[String] = Registry.shuffle(expected.keys.toSeq.sorted, a.seed)

  def opName = "query"
  def describe: String = s"corpus=${Corpus.small} queries=${queries.mkString(",")}; items are queries"

  /** Program state that outlives a JVM: staged artifacts under
    * `target/staging` and published tables in the warehouse, both relative
    * to the working directory.
    */
  private def resetState(): Unit = {
    Seq("target/staging", "spark-warehouse", "metastore_db").foreach(p => wipe(new File(p)))
    new File("target").mkdirs()
  }

  /** Reset state and write the corpus; then, except when recording, one
    * untimed pass warms the JIT (pass times otherwise fall for about four
    * passes). Timed passes still compile every plan: each clears the
    * codegen cache first.
    */
  def setup(spark: SparkSession, rep: Int): Seq[String] = {
    resetState()
    wipe(corpus)
    Corpus.write(spark, corpus.getPath, corpusSeed)
    if (a.record.isDefined) Nil
    else pass(spark, new Tracer(spark.sparkContext, false)).failures.map("warm-up: " + _)
  }

  def pass(spark: SparkSession, tracer: Tracer): Pass = {
    // Every pass compiles its plans again, as each batch run of a fresh
    // JVM does; only the JIT and class loading stay warm.
    Codegen.clearCache()
    System.gc()
    val lat = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    tracer.span("pass") {
      queries.foreach { q =>
        val q0 = System.nanoTime()
        tracer.span("query") {
          try {
            val df = tracer.span("queries.build")(Registry.query(q)(spark, corpus.getPath))
            tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
            val got = tracer.span("exec.sink")(Registry.sink(df, a.perturb && q == queries.head))
            expected.get(q).filter(_ != got).foreach { want =>
              failures += s"$q: rows ${got.rows} hash ${got.hash}, recorded rows ${want.rows} hash ${want.hash}"
            }
          } catch { case e: Exception => failures += s"$q: ${e.toString.take(300)}" }
        }
        lat += (System.nanoTime() - q0) / 1e9
        Cleanup(spark)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(wall, cpuSeconds - cpu0, queries.length, lat.toSeq, queries.length, failures.length,
      failures.toSeq, None)
  }

  /** Run every registry query once on the corpus and write its row count
    * and hash, one line per query, plus its seconds to standard output.
    */
  def record(spark: SparkSession, out: File): Int = {
    setup(spark, 0)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println(s"# query\trows\thash  (corpus seed $corpusSeed, ${Corpus.small})")
      names.foreach { q =>
        val t0 = System.nanoTime()
        try {
          val got = Registry.sink(Registry.query(q)(spark, corpus.getPath), perturb = false)
          w.println(s"$q\t${got.rows}\t${got.hash}")
          println(f"perfbench: record $q%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s rows ${got.rows}")
        } catch { case e: Exception =>
          println(s"perfbench: record $q FAILED ${e.toString.take(200)}") }
        Cleanup(spark)
        w.flush()
      }
    } finally w.close()
    0
  }
}
