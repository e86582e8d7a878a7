package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Explain`'s id renumbering: plans that match print the same text
  * whatever the JVM planned before them. */
class ExplainSpec extends AnyFunSuite {

  test("expression and plan ids are renumbered by first appearance") {
    val plan = "Project [a#812L, b#77]\nInput [2]: [a#812L, b#77]\n" +
      "Exchange hashpartitioning(b#77, 4), [plan_id=4410]\nReusedExchange [plan_id=4410]"
    assert(Explain.renumberIds(plan) ==
      "Project [a#0L, b#1]\nInput [2]: [a#0L, b#1]\n" +
        "Exchange hashpartitioning(b#1, 4), [plan_id=0]\nReusedExchange [plan_id=0]")
  }
}
