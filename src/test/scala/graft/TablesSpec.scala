package graft

import org.scalatest.funsuite.AnyFunSuite

/** The table memo's temp-path rule. */
class TablesSpec extends AnyFunSuite {
  test("the table memo skips only paths under java.io.tmpdir, on a path boundary") {
    assert(Tables.under("/dev/shm", "/dev/shm/graft-ivf/rows"))
    assert(Tables.under("/tmp", "/tmp"))
    assert(!Tables.under("/dev/shm", "/dev/shm2/store/rows"))
    assert(!Tables.under("/tmp", "/tmpdata/store/rows"))
  }
}
