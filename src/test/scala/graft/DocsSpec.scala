package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI-style doc-drift gate: the generated/maintained docs must agree
  * with the live registry size. When a registry change lands, run
  * `sbt "runMain graft.Close"` to regenerate — these tests stay red
  * until the docs are current (the recurring staleness class every
  * round-close used to fix by hand). */
class DocsSpec extends AnyFunSuite {

  private val n = SparkEntry.queries.size
  private def read(p: String) =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      "UTF-8")

  test("QUERIES.md carries one row per registered query") {
    val rows = read("QUERIES.md").linesIterator.count(_.matches("\\| q\\d.*"))
    assert(rows === n,
      s"QUERIES.md has $rows rows for $n queries - run `sbt \"runMain graft.Close\"`")
  }

  test("SCALE.md mechanical inventory covers the whole registry") {
    val md = read("SCALE.md")
    val sec = md.substring(md.indexOf("## Mechanical plan inventory"))
    val rows = sec.linesIterator.count(_.matches("\\| q\\d.*"))
    assert(rows === n,
      s"SCALE.md inventory has $rows rows for $n queries - run graft.Close")
  }

  test("README suite-file count matches src/test (round-11 verdict: stale '751 specs')") {
    // the runtime test count grows dynamically (parameterized suites),
    // so the README cites the spec-FILE count — statically derivable,
    // regenerated by Close, pinned here
    val k = Close.specFileCount
    assert(read("README.md").contains(s"$k spec files"),
      s"README must cite '$k spec files' - run `sbt \"runMain graft.Close\"`")
  }

  test("README/SCALE registry-count references match the registry") {
    val readme = read("README.md")
    assert(readme.contains(s"all $n queries"), "README 'all N queries'")
    assert(readme.contains(s"$n-query"), "README 'N-query'")
    // the hash-match numerator cites the LATEST DRIVER correctness
    // gate (CORRECTNESS_r*.json) — mid-round registry additions run
    // behind the local check_oracle compare until the next driver
    // pass, so the numerator may lag n by the additions; Close and
    // this pin read the same artifact, staying in lockstep
    val passes = math.min(Close.latestPassCount(n), n)
    assert(readme.contains(s"$passes/$n hash-match"),
      s"README '$passes/$n hash-match'")
    assert(read("SCALE.md").contains(s"for all $n registered quer"),
      "SCALE.md 'for all N registered queries'")
  }

  test("README's Layout names every main, and README names no graft object that is gone") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sources = try walk.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".scala")).map(read).toList finally walk.close()
    val Decl = """\b(?:object|class|trait)\s+(\w+)""".r
    val mains = sources.flatMap { src =>
      var owner = ""
      src.linesIterator.flatMap { l =>
        // mains live on top-level objects (column 0)
        """^(?:private\S*\s+)?object\s+(\w+)""".r
          .findFirstMatchIn(l).foreach(m => owner = m.group(1))
        if (l.contains("def main(args: Array[String])")) Some(owner) else None
      }.toList
    }
    assert(mains.contains("Bench") && mains.contains("ConfOptionsCmd"), mains)
    val readme = read("README.md")
    val start = readme.indexOf("## Layout")
    val layout = readme.substring(start, readme.indexOf("\n## ", start))
    val missing = mains.filterNot(m => s"\\b$m\\b".r.findFirstIn(layout).isDefined)
    assert(missing.isEmpty, s"README Layout must name every main: missing $missing")
    val declared = sources.flatMap(Decl.findAllMatchIn(_).map(_.group(1))).toSet
    val stale = """graft\.(?:[a-z]\w*\.)*([A-Z]\w*)""".r.findAllMatchIn(readme)
      .map(_.group(1)).filterNot(declared).toList
    assert(stale.isEmpty, s"README names graft objects that no longer exist: $stale")
  }
}
