package graft

/** Guards on the driver contract itself: `queries` is built from the
  * registry via toMap, so a duplicate name would silently swallow a query
  * (one fewer CORRECTNESS row, no error anywhere). */
class SparkEntrySpec extends SparkSpec {

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
