package graft

/** Validated reads of the integer environment knobs the mains take
  * (SPARK_GRAFT_CPUS, SPARK_GRAFT_GC_EVERY). A malformed or non-positive
  * value fails before any Spark work starts, with a message that names the
  * variable — never a bare NumberFormatException, and never a `local[0]`
  * master or a silently-every-query GC cadence.
  */
object Env {

  /** `name`'s value as an integer ≥ 1, or `default` when it is unset. */
  def positiveInt(name: String, default: Int,
      env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default) { raw =>
      raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be a whole number >= 1, got '$raw'"))
    }
}
