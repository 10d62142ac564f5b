package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The conf census: README's "Configuration keys" table lists exactly
  * the `spark.graft.*` string literals of `src/main/scala`, so a key
  * added or deleted without its row (or a row left behind) fails. */
class ConfKeysSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val TableRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r

  test("README's configuration table lists exactly the spark.graft.* keys the program reads") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "no sources under src/main/scala")
    val inCode = sources.flatMap((p: Path) =>
      KeyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    val rows = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .flatMap(TableRow.findFirstMatchIn(_).map(_.group(1)))
    assert(rows.distinct.size == rows.size,
      s"duplicate rows: ${rows.diff(rows.distinct).mkString(", ")}")
    assert((inCode -- rows).isEmpty,
      s"keys read in src/main/scala but missing from README: ${(inCode -- rows).toSeq.sorted.mkString(", ")}")
    assert((rows.toSet -- inCode).isEmpty,
      s"README rows for keys no code reads: ${(rows.toSet -- inCode).toSeq.sorted.mkString(", ")}")
  }
}
