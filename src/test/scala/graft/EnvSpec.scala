package graft

import org.scalatest.funsuite.AnyFunSuite

/** The integer environment knobs fail loudly and by name on bad input. */
class EnvSpec extends AnyFunSuite {

  test("positiveInt: unset gives the default, a valid value parses") {
    assert(Env.positiveInt("SPARK_GRAFT_CPUS", 4, env = Map.empty) == 4)
    assert(Env.positiveInt("SPARK_GRAFT_CPUS", 4, env = Map("SPARK_GRAFT_CPUS" -> "8")) == 8)
    assert(Env.positiveInt("SPARK_GRAFT_GC_EVERY", 4, env = Map("SPARK_GRAFT_GC_EVERY" -> " 1 ")) == 1)
  }

  test("positiveInt: non-integers and values <= 0 are rejected, naming the variable") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_GC_EVERY");
         bad <- Seq("", "four", "2.5", "8x", "0", "-3", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Env.positiveInt(name, 4, env = Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
