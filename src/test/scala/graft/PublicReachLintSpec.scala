package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: no public `def` in `src/main/scala` is dead. With `//` and
  * `/* */` comments stripped (a scaladoc `[[link]]` is not a caller), each
  * public def's name must occur in `src/main/scala` or the benchmark
  * harness on some line other than its own definition. Specs do not count:
  * a method that only its own spec calls is dead code. It is a name census,
  * so a def that shares its name with any other identifier passes.
  */
class PublicReachLintSpec extends AnyFunSuite {
  import PublicReachLintSpec._

  private val main = Paths.get("src/main/scala")
  private val roots = Seq(main, Paths.get("graftbench/harness/src"))

  /** Public defs that no code calls but stay, each for its reason. */
  private val kept = Map(
    "cmsEstimate" -> "SketchSpec checks q137's count-min table only through it",
    "readTable" -> "DiffSpec, IndexSpec and BucketedJoinSpec pin q90's exchange-free plans through it",
    "writeBucketed" -> "writes the bucketed tables those specs read back with readTable",
    "vacuum" -> "ManifestWarehouse's retention policy",
    "charEntropyExploded" -> "reference twin a spec checks the char_dist_entropy kernel against",
    "int8ProfileHof" -> "reference twin a spec checks the int8_stats kernel against",
    "mergePair" -> "reference twin a spec checks the BPE merge kernel against")

  test("every public def in src/main/scala is reached by code outside its definition") {
    roots.foreach(r => assert(Files.isDirectory(r), s"$r is missing; run from the repository root"))
    val sources = roots.flatMap { r =>
      scala.util.Using.resource(Files.walk(r)) { s =>
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      }
    }.map(f => f.toString -> new String(Files.readAllBytes(f), UTF_8))
    val hits = unreached(sources).filter(_.path.startsWith(main.toString))
    val dead = hits.filterNot(h => kept.contains(h.name))
    assert(dead.isEmpty,
      "public defs no code reaches (delete them, or keep one in `kept` with its reason):\n" +
        dead.mkString("\n"))
    val stale = kept.keySet -- hits.map(_.name)
    assert(stale.isEmpty, s"code now reaches these kept names; drop them from `kept`: $stale")
  }

  test("the scan flags a planted dead def and nothing a comment hides") {
    val fixture =
      """object Fixture {
        |  def live(x: Int): Int = x + 1
        |  def dead(y: Int): Int = y // dead(1) in a line comment is no caller
        |  /* nor is dead(2) in a block comment */
        |  /** nor a scaladoc link: [[dead]] */
        |  def afterUrl: Int = 2
        |  val url = "http://host/" + afterUrl + live(1) + '"'
        |  private def hidden = 0
        |  override def toString = "Fixture"
        |  def main(args: Array[String]): Unit = ()
        |}
        |""".stripMargin
    assert(unreached(Seq("Fixture.scala" -> fixture)) === Seq(Hit("Fixture.scala", 3, "dead")))
  }
}

object PublicReachLintSpec {

  final case class Hit(path: String, line: Int, name: String) {
    override def toString: String = s"$path:$line: $name"
  }

  private val Def = """^\s*(?:(?:final|implicit|inline|@\w+)\s+)*def\s+([A-Za-z_]\w*)""".r
  private val Word = """[A-Za-z_]\w*""".r
  private val Exempt = Set("main", "apply")

  /** Each public def whose name, comments stripped, occurs on no line of
    * `sources` (path, text) but its own definition.
    */
  def unreached(sources: Seq[(String, String)]): Seq[Hit] = {
    val lines = sources.map { case (p, src) => p -> stripComments(src).split("\n", -1).toSeq }
    val linesWith = lines.flatMap(_._2).flatMap(l => Word.findAllIn(l).toSet)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      (p, ls) <- lines
      (l, i) <- ls.zipWithIndex
      m <- Def.findPrefixMatchOf(l)
      name = m.group(1)
      if !Exempt(name) && linesWith(name) == 1
    } yield Hit(p, i + 1, name)
  }

  /** `src` with `//` and (nested) `/* */` comments removed; string and
    * char literals are kept whole, and a block comment keeps its line
    * breaks so line numbers do not move.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4)
        i += 4
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3)
        i += 3
      } else if (src.startsWith("//", i)) {
        val eol = src.indexOf('\n', i)
        i = if (eol < 0) n else eol
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
      } else {
        out.append(src(i))
        i += 1
      }
    }
    out.toString
  }
}
