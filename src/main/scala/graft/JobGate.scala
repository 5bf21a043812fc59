package graft

/** Plan-regression gate on per-query Spark JOB COUNTS (VERDICT r8 item 5).
  *
  * Wall-clock is hostage to ambient load (same-code runs spread 152–224 s
  * on a noisy host), but the number of driver actions a query issues is a
  * pure function of its plan: an unhinted broadcast that falls back to a
  * shuffle join, a loop that stops converging, a localCheckpoint that
  * starts recomputing — each shows up as job-count growth long before it
  * is attributable in seconds. Bench already records per-query job counts
  * (`target/bench_detail.json`); this gate compares a run against the
  * recorded baseline (`JOBS_BASELINE.json`) and fails on growth.
  *
  * Comparison rules: growth = violation; shrinkage = improvement (never a
  * failure — re-record the baseline to tighten the gate); queries missing
  * from the baseline are new and pass (they tighten on the next record).
  * Activate in Bench with SPARK_GRAFT_ASSERT_JOBS=<baseline path>; the
  * driver never sets it, so driver runs are unaffected.
  */
object JobGate {

  /** Violations: queries whose actual job count exceeds the recorded one. */
  def compare(recorded: Map[String, Int], actual: Map[String, Int]): Seq[String] =
    actual.toSeq.sortBy(_._1).flatMap { case (q, j) =>
      recorded.get(q) match {
        case Some(r) if j > r => Some(s"$q: $j jobs > recorded $r")
        case _                => None
      }
    }

  /** Parse a bench_detail-format artifact ({"queries":{"q":{"sec":…,
    * "jobs":N},…}}) into the per-query job-count map. Regex-based on
    * purpose: the artifact is machine-written JSON and the gate must not
    * grow a parser dependency. Whitespace-tolerant — the recorded
    * baseline has been pretty-printed in some rounds, and the original
    * compact-only regex parsed ZERO entries from it, silently turning
    * the gate into a no-op (every query "new", every run "ok").
    */
  def parseJobs(json: String): Map[String, Int] =
    """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"sec"\s*:\s*[^,]+,\s*"jobs"\s*:\s*(\d+)\s*\}""".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toInt)
      .toMap

  /** Poll `read` until it returns the same value for `quietMs` (or 15 s
    * pass) and return that value. Spark's status store and any added
    * SparkListener are fed by the asynchronous listener bus, so a job count
    * read right after an action can still be short: every count the gate
    * compares is read through this settle.
    */
  def settle(read: () => Int, quietMs: Int = 100): Int = {
    val pollMs = 50
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var last = read()
    var quiet = 0
    while (quiet < quietMs && System.nanoTime() < deadline) {
      Thread.sleep(pollMs)
      val cur = read()
      if (cur == last) quiet += pollMs else { quiet = 0; last = cur }
    }
    last
  }

  /** Loud on an empty parse: a baseline the regex cannot read would
    * otherwise vacuously pass every run — the exact failure mode the
    * whitespace fix above closed.
    */
  def loadBaseline(path: String): Map[String, Int] = {
    val parsed = parseJobs(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    require(parsed.nonEmpty,
      s"job baseline at $path parsed to zero queries — format drift would " +
        "silently disable the gate")
    parsed
  }
}
