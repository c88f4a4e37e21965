package graft

/** The table memo's temp-path rule and its one-entry-per-path bound. */
class TablesSpec extends SparkSpec {
  test("the table memo skips only paths under java.io.tmpdir, on a path boundary") {
    assert(Tables.under("/dev/shm", "/dev/shm/graft-ivf/rows"))
    assert(Tables.under("/tmp", "/tmp"))
    assert(!Tables.under("/dev/shm", "/dev/shm2/store/rows"))
    assert(!Tables.under("/tmp", "/tmpdata/store/rows"))
  }

  test("reads of one table from 4 child sessions leave 1 memo entry, pinning 1 session") {
    val path = s"$sfDir/embeddings.parquet"
    val sessions = Seq.fill(4)(spark.newSession())
    sessions.foreach(s => Tables.embeddings(s, sfDir))
    assert(Tables.tableMemo.count { case (k, _) => k == path } == 1)
    val pinned = Tables.tableMemo.values.count { case (s, _, _) => sessions.exists(_ eq s) }
    assert(pinned == 1, s"$pinned child sessions held by the memo")
    // the entry still serves its own session without a re-read
    val again = Tables.embeddings(sessions.last, sfDir)
    assert(again eq Tables.embeddings(sessions.last, sfDir))
  }
}
