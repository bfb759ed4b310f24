package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("PlanDump with fewer than three args fails with its usage, before any session") {
    Seq(Array.empty[String], Array("out"), Array("out", "before")).foreach { a =>
      val e = intercept[IllegalArgumentException](Plans.dump(a))
      assert(e.getMessage.contains("usage: PlanDump"))
    }
  }
}
