package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The scale-artifact table, without Spark: the shared every-rep
  * agreement check the published medians rely on, the scenario names,
  * and the usage exit.
  */
class ScaleBenchSpec extends AnyFunSuite {

  /** Two shapes through [[ScaleBench.agreedReps]] answering 0, except
    * call number `bad` (1-based, over every call) answers 1. Calls 1-2
    * are the warm-ups, 3-5 the first shape's reps, 6-8 the second's. */
  private def reps(bad: Int): Seq[Seq[Int]] = {
    var calls = 0
    def shape(): Int = { calls += 1; if (calls == bad) 1 else 0 }
    ScaleBench.agreedReps("shapes", Seq(shape _, shape _))(f => f())(identity)
  }

  test("agreedReps throws when any single rep disagrees, not only the first") {
    assert(reps(bad = 0) === Seq(Seq(0, 0, 0), Seq(0, 0, 0)))
    (3 to 8).foreach { bad =>
      val e = intercept[IllegalArgumentException](reps(bad))
      assert(e.getMessage.contains("shapes must agree on every rep"), s"call $bad")
    }
    // warm-up answers are never published, so they are not compared
    assert(reps(bad = 1) === Seq(Seq(0, 0, 0), Seq(0, 0, 0)))
  }

  test("scenario names are unique") {
    val names = ScaleBench.scenarios.map(_._1)
    assert(names.size === 14)
    assert(names.distinct === names)
  }

  test("an unknown scenario exits non-zero and lists the names, without Spark") {
    val out = new StringBuilder
    val err = new StringBuilder
    val java = s"${System.getProperty("java.home")}/bin/java"
    val rc = Seq(java, "-cp", System.getProperty("java.class.path"),
        "graft.ScaleBench", "no_such_scenario")
      .!(ProcessLogger(l => out ++= l + "\n", l => err ++= l + "\n"))
    assert(rc !== 0)
    assert(out.toString.split("\n").toSeq === ScaleBench.scenarios.map(_._1))
    assert(err.toString.startsWith("usage: ScaleBench <scenario>"))
    assert(!err.toString.contains("SparkContext"), err.toString)
  }
}
