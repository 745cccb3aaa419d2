package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every parquet read in `src/main/scala` goes through
  * `graft.sources.Parquet`, so a read that infers its footer on every call
  * cannot come back.
  */
class ParquetReadLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val reader = root.resolve("graft/sources/Parquet.scala")
  /** `.read.parquet(`, also with options or a schema in between. */
  private val directRead = """\.read(\s*\.\s*\w+\([^)]*\))*\s*\.\s*parquet\(""".r

  test("no direct parquet read in src/main/scala outside graft.sources.Parquet") {
    assert(Files.isRegularFile(reader), s"$reader is missing; run from the repository root")
    val files = scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val hits = for {
      f: Path <- files if f != reader
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if directRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "read parquet through graft.sources.Parquet.read:\n" + hits.mkString("\n"))
  }

  test("the pattern catches the forms it is meant to") {
    Seq("spark.read.parquet(p)", "spark.read.schema(s).parquet(p)",
      """spark.read.option("mergeSchema", "true").parquet(p)""").foreach { l =>
      assert(directRead.findFirstIn(l).isDefined, l)
    }
    Seq("df.write.parquet(p)", "w.partitionBy(c: _*).parquet(p)", "Parquet.read(spark, p)").foreach { l =>
      assert(directRead.findFirstIn(l).isEmpty, l)
    }
  }
}
