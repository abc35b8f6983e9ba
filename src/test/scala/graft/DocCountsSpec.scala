package graft

import org.scalatest.funsuite.AnyFunSuite

/** Documentation counts must track reality: every "the N registered
  * queries" claim in README.md is compared against
  * `SparkEntry.queries.size`, so a round that adds queries cannot leave
  * stale totals behind (rounds 7 and 8 both shipped drifted counts).
  * The same holds for the suite count and the configuration-key list.
  */
class DocCountsSpec extends AnyFunSuite {

  test("README 'N registered queries' claims match SparkEntry.queries.size") {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      "UTF-8")
    val claims = raw"the (\d+) registered queries".r
      .findAllMatchIn(readme)
      .map(_.group(1).toInt)
      .toSeq
    assert(claims.nonEmpty, "README must state the registered-query count")
    val actual = SparkEntry.queries.size
    claims.foreach { c =>
      assert(c == actual,
        s"README claims $c registered queries; SparkEntry has $actual — update README.md")
    }
  }

  test("README 'N spec suites' claim matches the *Spec.scala file count") {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      "UTF-8")
    val claims = raw"(\d+) spec suites".r
      .findAllMatchIn(readme)
      .map(_.group(1).toInt)
      .toSeq
    assert(claims.nonEmpty, "README must state the spec-suite count")
    val actual = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get("src/test/scala/graft"))
      try s.filter(_.getFileName.toString.endsWith("Spec.scala")).count().toInt
      finally s.close()
    }
    claims.foreach { c =>
      assert(c == actual,
        s"README claims $c spec suites; src/test/scala/graft has $actual *Spec.scala files — update README.md")
    }
  }

  test("README 'Configuration' lists exactly the spark.graft.* keys src/main reads") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val section = read(Paths.get("README.md"))
      .split("\n## ").find(_.startsWith("Configuration")).getOrElse("")
    val listed = raw"(?m)^- `(spark\.graft\.[\w.]+)`".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    val named = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.flatMap(p => raw""""(spark\.graft\.[\w.]+)"""".r.findAllMatchIn(read(p)).map(_.group(1)))
      .toSet
    assert(listed.nonEmpty, "README must have a Configuration list of spark.graft.* keys")
    assert(listed === named,
      s"README lists ${listed -- named} that src/main does not read; " +
        s"src/main reads ${named -- listed} that README does not list")
  }

  test("every registered query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }
}
