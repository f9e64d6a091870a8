package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The playback engine splits CSV lines in one place: the byte line
  * reader of the `csvplayback` source, which the stream and the batch
  * read share. A `textFile` scan or a `BufferedReader.readLine` in the
  * engine's sources would bring back a second splitter, and with it a
  * second line rule (`readLine` also ends a line at a lone `\r`). Pure
  * file scan, no SparkSession needed. */
class ReaderGuardSpec extends AnyFunSuite {

  test("graft.sources and graft.streaming hold no second line splitter") {
    val banned = Seq("textFile(", "BufferedReader", "readLine(")
    val hits = Seq("src/main/scala/graft/sources", "src/main/scala/graft/streaming")
      .flatMap(d => java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        banned.filter(text.contains).map(b => s"$p: $b")
      }
    assert(hits.isEmpty, s"second line splitter: $hits")
  }
}
