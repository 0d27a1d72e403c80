package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset takes the main's default, a positive integer parses") {
    assert(Graft.parseCpus(None, 4) === 4)
    assert(Graft.parseCpus(Some("32"), 4) === 32)
    assert(Graft.parseCpus(Some(" 8 "), 4) === 8)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer is rejected with a clear message") {
    Seq("", "0", "-2", "4x", "2.5", "all").foreach { raw =>
      val ex = intercept[IllegalArgumentException](Graft.parseCpus(Some(raw), 4))
      assert(ex.getMessage.contains("SPARK_GRAFT_CPUS must be a positive integer"), raw)
    }
  }

  test("SPARK_GRAFT_CONF: key=value pairs parse, blanks are skipped, malformed entries fail") {
    assert(Graft.parseConfs("") === Seq.empty)
    assert(Graft.parseConfs("graft.pack.shardSpan=64, a.b = x=y ,") ===
      Seq("graft.pack.shardSpan" -> "64", "a.b" -> "x=y"))
    val ex = intercept[IllegalArgumentException](Graft.parseConfs("graft.x=1,oops"))
    assert(ex.getMessage.contains("'oops'"))
  }
}
