package graft

/** [[GraftSession.local]] on a live session hands it back as it is. */
class GraftSessionSpec extends SparkSpec {

  test("local on a live session returns it and creates no warehouse dir") {
    val live = spark
    def warehouses = new java.io.File(System.getProperty("java.io.tmpdir"))
      .list().count(_.startsWith("graft_warehouse"))
    val before = warehouses
    val again = GraftSession.local(4)
    assert(again eq live)
    assert(warehouses === before)
  }
}
