package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The operator inventory the docs state (README, SURVEY) is generated
  * from the code by `tools/inventory.py`; its check mode fails when a
  * count in the docs has drifted from the code.
  */
class InventorySpec extends AnyFunSuite {

  test("tools/inventory.py --check: the docs' counts match the code") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val rc = Process(Seq("python3", "tools/inventory.py", "--check"),
      new java.io.File(sys.props("user.dir"))).!(log)
    assert(rc == 0, out.toString)
  }
}
