package graft

import org.scalatest.funsuite.AnyFunSuite

class AbSpec extends AnyFunSuite {

  test("summary: true median averages the two middle readings; quartiles interpolate") {
    val s = Ab.summary(Seq(4.0, 1.0, 3.0, 2.0))
    assert(s.min == 1.0)
    assert(s.median == 2.5)
    assert(s.q1 == 1.75)
    assert(s.q3 == 3.25)
    assert(Ab.summary(Seq(5.0, 1.0, 3.0)) == Ab.Summary(1.0, 2.0, 3.0, 4.0))
    assert(Ab.summary(Seq(7.0)) == Ab.Summary(7.0, 7.0, 7.0, 7.0))
  }

  test("arm parsing: k=v[;k=v], malformed arms rejected") {
    assert(Ab.parseArm("a.b=1; c=x=y") == Right(Seq("a.b" -> "1", "c" -> "x=y")))
    assert(Ab.parseArm("novalue").isLeft)
    assert(Ab.parseArm("=1").isLeft)
    assert(Ab.parseArm(";").isLeft)
  }
}
