package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {

  test("normalize renumbers codegen ids by first appearance, nothing else") {
    // two runs of one plan whose concurrently materialized stages took
    // their codegen ids in opposite orders
    def plan(a: Int, b: Int) =
      s"""(10) HashAggregate [codegen id : $a]
         |Input [2]: [id#12L, w#31]
         |(11) Project [codegen id : $a]
         |(12) HashAggregate [codegen id : $b]
         |Keys [1]: [id#12L]
         |(13) Filter [codegen id : 1]
         |""".stripMargin
    val (run1, run2) = (plan(3, 4), plan(4, 3))
    assert(run1 != run2)
    assert(Plans.normalize(run1) == Plans.normalize(run2))
    assert(Plans.normalize(run1) ==
      """(10) HashAggregate [codegen id : 1]
         |Input [2]: [id#12L, w#31]
         |(11) Project [codegen id : 1]
         |(12) HashAggregate [codegen id : 2]
         |Keys [1]: [id#12L]
         |(13) Filter [codegen id : 3]
         |""".stripMargin)
  }
}
