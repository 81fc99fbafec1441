package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.spark.TestSpark

/** Keeps the scale soak runnable: every scenario's rounds execute at a
  * tiny corpus and scale 2, and the record parses. Guard verdicts are not
  * asserted — at this size they are host noise. */
class SoakSpec extends AnyFunSuite with Matchers {

  private val spark = TestSpark.session

  test("every scenario measures at 1x and 2x, evaluates its guards and prints parseable JSON") {
    val out = new java.io.ByteArrayOutputStream
    val results = Console.withOut(out) {
      Soak.run(spark, "/root/testdata/sf0.001", scale = 2, names = Nil, warmUp = false)
    }
    results.map(_.scenario) shouldBe Soak.scenarios.map(_.name)
    results.zip(Soak.scenarios).foreach { case (r, s) =>
      withClue(s"${r.scenario}: ") {
        r.base should not be empty
        r.scaled.keySet shouldBe r.base.keySet
        (r.base.values ++ r.scaled.values).foreach { v =>
          v.isNaN shouldBe false
          v should be >= 0.0
        }
        r.checks.map(_.guard) shouldBe s.guards.map(_.name)
      }
    }

    val json = new ObjectMapper
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toList
    lines.size shouldBe results.map(2 + _.checks.size).sum
    lines.foreach(l => withClue(l)(json.readTree(l).isObject shouldBe true))

    val summary = json.readTree(Soak.summary(results, 2))
    summary.get("scale").asInt shouldBe 2
    summary.get("scenarios").asInt shouldBe Soak.scenarios.size
    summary.get("guards").asInt shouldBe Soak.scenarios.map(_.guards.size).sum
    summary.get("failed").size shouldBe results.map(_.checks.count(!_.ok)).sum
  }

  test("an unknown scenario name is refused before anything runs") {
    val e = intercept[IllegalArgumentException](
      Soak.run(spark, "/root/testdata/sf0.001", scale = 2, names = Seq("no_such")))
    e.getMessage should include("no_such")
  }
}
