package graft

import org.scalatest.funsuite.AnyFunSuite

/** A bench row that throws records no time and no number. */
class BenchSpec extends AnyFunSuite {

  test("a failed row has a status, no time, and reads null in the queries map") {
    val rows = Seq(
      "q_ok" -> Bench.timed("q_ok")(()),
      "q_bad" -> Bench.timed("q_bad")(throw new IllegalStateException("boom")),
      "e2e" -> Bench.timing("e2e")(2.5))
    assert(rows(0)._2.isRight && rows(2)._2 == Right(2.5))
    assert(rows(1)._2.left.toOption.exists(_.contains("boom")))
    val json = Bench.queriesJson(rows)
    assert(json.contains("\"q_bad\":null") && json.contains("\"e2e\":2.500"))
    assert("\"q_ok\":\\d+\\.\\d{3}".r.findFirstIn(json).isDefined)
  }
}
