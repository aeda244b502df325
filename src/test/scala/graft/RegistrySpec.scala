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

  // Source text without comments and string literals. One
  // left-to-right alternation, so a quote inside a comment or a `/*`
  // inside a string (a parquet glob) starts nothing.
  private val noise =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|/\\*.*?\\*/|//[^\\n]*".r
  private def code(src: String): String = noise.replaceAllIn(src, "")

  /** What a query module's source declares: its `all` map. */
  private val queryMap = "val all: Map[String, QueryDef]"

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

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
      .map(p => read(p) -> p)
      .collect { case (src, p) if src.contains(queryMap) =>
        p.getFileName.toString.stripSuffix(".scala") -> src }
      .toMap
    assert(sources.size == SparkEntry.groups.size, sources.keySet)
    // comments and string literals may name other modules; code may
    // not
    val borrowed = for {
      (module, src) <- sources.toSeq.sortBy(_._1)
      other <- sources.keySet.toSeq.sorted if other != module
      if s"\\b$other\\b".r.findFirstIn(code(src)).nonEmpty
    } yield s"$module -> $other"
    assert(borrowed.isEmpty, borrowed.mkString(", "))
  }

  /** Unreached on purpose, each with its reason. An entry leaves this
    * map once a main or a query reaches the declaration. */
  private val unreachedOnPurpose: Map[String, String] = {
    val streamingPath =
      "the paper's ST1–ST3/ST7 streaming path; perfbench's " +
        "pipeline_incremental calls it; ROADMAP item 3's live main will root it"
    Seq("BronzeIngest", "LakeTail", "SilverRefinery", "GoldRefinery")
      .map(_ -> streamingPath).toMap
  }

  test("every top-level declaration in src/main is reached from a main or a query module") {
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).map(p => code(read(p))).toSeq
    // A top-level object, class or trait starts in column 0; its text
    // is the file's imports plus its own lines, up to the next one in
    // the file. A companion pair is one node.
    val decl = ("(?m)^(?:private\\[\\w+\\]\\s+)?(?:(?:final|sealed|abstract|case)\\s+)*" +
      "(?:object|class|trait)\\s+(\\w+)").r
    val bodies: Map[String, String] = sources.flatMap { src =>
      val found = decl.findAllMatchIn(src).toSeq
      val imports = src.substring(0, found.headOption.fold(src.length)(_.start))
      found.zip(found.drop(1).map(_.start) :+ src.length)
        .map { case (m, end) => m.group(1) -> (imports + src.substring(m.end, end)) }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val refs: Map[String, Set[String]] = bodies.map { case (name, body) =>
      name -> ("\\b\\w+\\b".r.findAllIn(body).toSet.intersect(bodies.keySet) - name)
    }
    // roots: the query modules SparkEntry.groups merges, and every
    // object with a `def main`
    val modules = bodies.collect { case (n, body) if body.contains(queryMap) => n }.toSet
    assert(modules.size == SparkEntry.groups.size, modules)
    val roots = modules ++ bodies.collect { case (n, body) if body.contains("def main(") => n }
    @annotation.tailrec
    def walk(seen: Set[String], frontier: Set[String]): Set[String] =
      if (frontier.isEmpty) seen
      else {
        val next = frontier.flatMap(refs) -- seen
        walk(seen ++ next, next)
      }
    val reached = walk(roots, roots)
    val unreached = bodies.keySet -- reached
    val unexplained = (unreached -- unreachedOnPurpose.keySet).toSeq.sorted
    assert(unexplained.isEmpty, s"reached from no main or query module: ${unexplained.mkString(", ")}")
    val stale = (unreachedOnPurpose.keySet -- unreached).toSeq.sorted
    assert(stale.isEmpty, s"allowlisted but reached (or gone): ${stale.mkString(", ")}")
  }
}
