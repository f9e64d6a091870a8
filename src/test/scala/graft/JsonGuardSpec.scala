package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every JSON the engine and its mains write is a tree serialized by
  * `graft.Json.mapper`. A hand-built JSON string literal, a hand
  * escaper or a brace/comma `mkString` would bring back a second
  * writer, with its own escaping and its own decimals. Pure file scan,
  * no SparkSession needed. */
class JsonGuardSpec extends AnyFunSuite {

  test("src/main/scala builds no JSON by hand") {
    val banned = Seq("\"\"\"{\"", "Json.str(", "mkString(\"{\"", "mkString(\"[\", \",\", \"]\")")
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        banned.filter(text.contains).map(b => s"${root.relativize(p)}: $b")
      }
    assert(hits.isEmpty, s"hand-built JSON: $hits")
  }
}
