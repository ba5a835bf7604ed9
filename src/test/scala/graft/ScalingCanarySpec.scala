package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** Runs the scaling canary's self-test (tools/test_scaling_canary.py)
  * with the suite, so a change to the flag rule fails here and not
  * only in an exclusive bench window.
  */
class ScalingCanarySpec extends AnyFunSuite {
  test("the scaling canary's self-test passes") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val rc = Process(Seq("python3", "tools/test_scaling_canary.py")).!(log)
    assert(rc == 0, out.toString)
    val checks = "OK\\W+(\\d+) checks".r.findFirstMatchIn(out.toString).map(_.group(1).toInt)
    assert(checks.exists(_ >= 19), out.toString)
  }
}
