package graft

import org.scalatest.funsuite.AnyFunSuite

/** `GRAFT_EXPLAIN_CONF` parsing: `k=v` pairs split on the first `=`, and a
  * malformed entry fails with its own text, not a MatchError. */
class ExplainConfSpec extends AnyFunSuite {

  test("conf entries parse, and an entry without '=' fails naming it") {
    assert(Explain.confEntries("a.b=1,c=x=y") == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](
      Explain.confEntries("a.b=1,graft.oops"))
    assert(e.getMessage == "bad GRAFT_EXPLAIN_CONF entry: graft.oops")
    assert(intercept[IllegalArgumentException](Explain.confEntries(""))
      .getMessage == "bad GRAFT_EXPLAIN_CONF entry: ")
  }
}
