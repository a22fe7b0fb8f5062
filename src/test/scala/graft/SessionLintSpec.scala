package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in one place: `GraftSession` sets cores from the
  * host, UTC, the extensions and the UI switch. A second copy drifts
  * from it (each copy once had its own cores, extensions and time zone),
  * and a hard-coded 32-core default asks a small host for 32 threads.
  * Source scan only, no Spark job.
  */
class SessionLintSpec extends AnyFunSuite {

  private val rules = Seq(
    "SparkSession builder outside GraftSession" -> """SparkSession\.builder\(""".r,
    "hard-coded local[32] master" -> """"local\[32\]"""".r,
    "hard-coded 32-core default" -> """getOrElse\("SPARK_GRAFT_CPUS",\s*"32"\)""".r)

  // the factory itself, and this spec, whose second test plants violations
  private val exempt = Set("GraftSession.scala", "SessionLintSpec.scala")

  private def violations(file: String, text: String): Seq[String] =
    if (exempt.contains(Paths.get(file).getFileName.toString)) Nil
    else for {
      (line, n) <- text.linesIterator.toSeq.zipWithIndex
      (what, re) <- rules if re.findFirstIn(line).nonEmpty
    } yield s"$file:${n + 1}: $what"

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("no session is built outside GraftSession, no 32-core default") {
    val found = Seq("src/main/scala", "src/test/scala").flatMap(sources)
      .flatMap(p => violations(p.toString, Files.readString(p)))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the lint itself fires on each planted violation") {
    val planted = Seq(
      """val s = SparkSession.builder().getOrCreate()""",
      """.master("local[32]")""",
      """val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")""").mkString("\n")
    assert(violations("src/main/scala/graft/X.scala", planted).size === 3)
    assert(violations("src/main/scala/graft/GraftSession.scala",
      "SparkSession.builder()").isEmpty)
  }
}
