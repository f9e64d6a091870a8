package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The playback engine splits CSV lines in one place: the byte line
  * reader of the `csvplayback` source, which the stream and the batch
  * read share. A `textFile` scan or a `BufferedReader.readLine` in the
  * engine's sources would bring back a second splitter, and with it a
  * second line rule (`readLine` also ends a line at a lone `\r`). Likewise
  * a CSV timestamp is parsed in one place, `TimestampStyles.csvTimestamp`,
  * so no style parses without the byte kernel or its fallback rule. Pure
  * file scan, no SparkSession needed. */
class ReaderGuardSpec extends AnyFunSuite {

  private def sources(dirs: String*): Seq[(java.nio.file.Path, String)] =
    dirs.flatMap(d => java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p))

  test("graft.sources and graft.streaming hold no second line splitter") {
    val banned = Seq("textFile(", "BufferedReader", "readLine(")
    val hits = sources("src/main/scala/graft/sources", "src/main/scala/graft/streaming")
      .flatMap { case (p, text) => banned.filter(text.contains).map(b => s"$p: $b") }
    assert(hits.isEmpty, s"second line splitter: $hits")
  }

  test("to_timestamp( appears in the engine only inside TimestampStyles.csvTimestamp") {
    val call = "to_timestamp("
    def count(text: String): Int = text.sliding(call.length).count(_ == call)
    val files = sources("src/main/scala/graft/sources", "src/main/scala/graft/streaming",
      "src/main/scala/graft/operators")
    val helper = files.collect { case (p, text) if p.endsWith("TimestampStyles.scala") =>
      val start = text.indexOf("def csvTimestamp(")
      assert(start >= 0, "TimestampStyles.csvTimestamp is gone")
      text.substring(start, text.indexOf("\n  }\n", start))
    }
    assert(helper.map(count) == Seq(1), "csvTimestamp must hold the one to_timestamp call")
    val elsewhere = files.map { case (p, text) => p -> count(text) }
      .filter { case (p, n) => n > (if (p.endsWith("TimestampStyles.scala")) 1 else 0) }
    assert(elsewhere.isEmpty, s"a second CSV-timestamp parse: $elsewhere")
  }
}
