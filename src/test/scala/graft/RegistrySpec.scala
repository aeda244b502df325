package graft

import scala.io.Source
import scala.jdk.CollectionConverters._

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

  test("no query module names another query module") {
    // a query module is a file under operators/ that registers an
    // `all` map; shared helpers live in Kernels, not in a query module
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val sources = java.nio.file.Files.list(dir).iterator().asScala
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8") -> p)
      .collect { case (src, p) if src.contains("val all: Map[String, QueryDef]") =>
        p.getFileName.toString.stripSuffix(".scala") -> src }
      .toMap
    assert(sources.size == SparkEntry.groups.size, sources.keySet)
    // comments and string literals may name other modules; code may
    // not. One left-to-right alternation, so a quote inside a comment
    // or a `/*` inside a string (a parquet glob) starts nothing.
    val noise =
      "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|/\\*.*?\\*/|//[^\\n]*".r
    def code(src: String): String = noise.replaceAllIn(src, "")
    val borrowed = for {
      (module, src) <- sources.toSeq.sortBy(_._1)
      other <- sources.keySet.toSeq.sorted if other != module
      if s"\\b$other\\b".r.findFirstIn(code(src)).nonEmpty
    } yield s"$module -> $other"
    assert(borrowed.isEmpty, borrowed.mkString(", "))
  }
}
