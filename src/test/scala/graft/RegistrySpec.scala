package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: SparkEntry merges one `all` map per domain
  * module. `query_inventory.txt` (test resources, one name a line)
  * is the committed inventory, so moving queries between modules
  * cannot drop, duplicate or rename one without failing here — not
  * only in Verify's oracle run. A new or retired query edits that
  * file in the same change. No SparkSession: the registry is built
  * without running a query.
  */
class RegistrySpec extends AnyFunSuite {

  private lazy val inventory: Set[String] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/graft/query_inventory.txt"), "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
    finally src.close()
  }

  private def diff(names: Set[String]): String =
    s"missing: ${(inventory -- names).toSeq.sorted.mkString(", ")}; " +
      s"not in inventory: ${(names -- inventory).toSeq.sorted.mkString(", ")}"

  test("query group maps have no name collisions") {
    // Sum the SAME group list SparkEntry merges, so adding a group
    // can never desync this expectation (round-4 regression).
    val total = graft.SparkEntry.groups.map(_.size).sum
    assert(graft.SparkEntry.queries.size == total,
      s"collision: merged ${graft.SparkEntry.queries.size} != sum $total")
  }

  test("query names equal the committed inventory") {
    assert(inventory.size == 328)
    val names = SparkEntry.queries.keySet
    assert(names == inventory, diff(names))
  }

  test("every inventory query carries oracle SQL") {
    val names = SparkEntry.oracleSql.keySet
    assert(names == inventory, diff(names))
  }
}
