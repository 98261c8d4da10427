package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the set-similarity family's materialization policy in the source
  * text (no Spark session): `Postings.shared` holds the family's one
  * persist → count → checkpoint → unpersist bracket, and only the two
  * iterative loops cut their own lineage. */
class MaterializationPolicySpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src/main/scala/graft")
  private val Owner = """^(?:private\[\w+\] )?(?:final )?(?:object|class|trait) (\w+).*""".r
  private val Member = """^  (?:override )?(?:private(?:\[\w+\])? )?def (\w+).*""".r

  /** `<top-level object>.<member def>` enclosing each code line of
    * `file` (relative to `root`) that matches `call`; comments are
    * skipped. */
  private def owners(file: java.nio.file.Path, call: scala.util.matching.Regex): Seq[String] = {
    var (obj, member) = ("", "")
    java.nio.file.Files.readAllLines(root.resolve(file)).asScala.toSeq.flatMap { line =>
      line match {
        case Owner(o) => obj = o; member = ""
        case Member(d) => member = d
        case _ =>
      }
      val code = line.replaceAll("""\s//.*""", "")
      val t = code.trim
      if (t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")) None
      else call.findFirstIn(code).map(_ => s"$obj.$member")
    }
  }

  test("MatchOps and DedupOps cache or checkpoint only in the two iterative loops") {
    val bracket = """\.(persist|cache|localCheckpoint|checkpoint|unpersist)\(""".r
    val iterative = Set("ConnectedComponents", "CosineKnn.kmeansCentroids")
    for (f <- Seq("MatchOps.scala", "DedupOps.scala"); o <- owners(
        java.nio.file.Paths.get("operators", f), bracket))
      assert(iterative.exists(i => o == i || o.startsWith(i + ".")), s"$f: $o")
  }

  test("PlanTrace.dump is called from Postings.shared and ConnectedComponents only") {
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(root.relativize).toList
    finally walk.close()
    val sites = files.flatMap(owners(_, """PlanTrace\.dump\(""".r)).sorted
    assert(sites === Seq("ConnectedComponents.components", "Postings.shared"))
  }
}
