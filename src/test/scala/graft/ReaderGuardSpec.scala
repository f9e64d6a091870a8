package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The playback engine splits CSV lines in one place: the byte line
  * reader of the `csvplayback` source, which the stream and the batch
  * read share. A `textFile` scan or a `BufferedReader.readLine` in the
  * engine's sources would bring back a second splitter, and with it a
  * second line rule (`readLine` also ends a line at a lone `\r`). Likewise
  * a CSV timestamp is parsed in one place, `TimestampStyles.csvTimestamp`,
  * so no style parses without the byte kernel or its fallback rule, and a
  * line's fields in one place: the one-pass kernel in
  * `PlaybackStream.parse`, in front of `PlaybackStream.parseLine`. Only
  * `Playback` names the checkpoint file manager conf, which it sets
  * around its own starts. The DSv2 stream class reads no clock and no
  * file system itself: pacing is the `Pacer`'s and the file queue the
  * `FileQueue`'s, whose finder is the one pick of the file that plays.
  * The keyed-state operators of `StatefulOps` share one idle-eviction
  * loop, `perKey`. Pure file scan, no SparkSession needed. */
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

  /** `text` with the body of `def name(` cut out (up to the next blank
    * line or member), and the body; fails if the def is gone. */
  private def cutDef(text: String, name: String): (String, String) = {
    val start = text.indexOf(s"def $name(")
    assert(start >= 0, s"$name is gone")
    val end = text.indexOf("\n\n", start)
    (text.take(start) + text.drop(end), text.substring(start, end))
  }

  /** Calls of `call` in `text`'s code lines, its own definition not
    * counted. */
  private def calls(text: String, call: String): Int =
    code(text).sliding(call.length).count(_ == call) - code(text).sliding(call.length + 4)
      .count(_ == s"def $call")

  /** `text` without its comment lines. */
  private def code(text: String): String = text.linesIterator.map(_.trim)
    .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//")).mkString("\n")

  test("split_quote_free is built only in PlaybackStream.parse and parseLine, from_csv only in parseLine") {
    val banned = Seq("split_quote_free(", "from_csv(")
    val hits = sources("src/main/scala").flatMap { case (p, text) =>
      val rest =
        if (p.endsWith("streaming/PlaybackStream.scala")) {
          val (others, body) = cutDef(text, "parseLine")
          assert(banned.forall(b => calls(body, b) == 1), s"parseLine must build both: $body")
          val (outside, parse) = cutDef(others, "parse")
          assert(calls(parse, banned.head) == 1, s"parse must build the typed kernel once: $parse")
          outside
        } else text
      banned.filter(b => calls(rest, b) > 0).map(b => s"$p: $b")
    }
    assert(hits.isEmpty, s"a second line parse: $hits")
  }

  test("only Playback names the checkpoint file manager conf") {
    val key = "checkpointFileManagerClass"
    val hits = sources("src/main/scala").collect {
      case (p, text) if code(text).contains(key) && !p.endsWith("streaming/Playback.scala") => p
    }
    assert(hits.isEmpty, s"the manager conf named outside Playback: $hits")
  }

  test("the DSv2 stream class names neither the clock nor java.nio.file") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/CsvPlaybackStream.scala"))
    val start = text.indexOf("class CsvPlaybackMicroBatchStream(")
    assert(start >= 0, "CsvPlaybackMicroBatchStream is gone")
    val body = code(text.substring(start, text.indexOf("\n}\n", start)))
    val hits = Seq("System.nanoTime", "java.nio.file.Files").filter(body.contains)
    assert(hits.isEmpty, s"the adapter reads $hits itself")
    assert(!code(text).contains("import java.nio"), "java.nio imported into the stream file")
  }

  test("StatefulOps names the keyed-state protocol only inside perKey, once each") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/StatefulOps.scala"))
    val start = text.indexOf("def perKey[")
    assert(start >= 0, "StatefulOps.perKey is gone")
    val end = text.indexOf("\n\n", start)
    val (body, rest) = (text.substring(start, end), text.take(start) + text.drop(end))
    val protocol = Seq("flatMapGroupsWithState", "hasTimedOut",
      "GroupStateTimeout.EventTimeTimeout", "withEventTimeWatermark(", "armIdleTimeout(")
    assert(protocol.forall(n => calls(body, n) == 1), s"perKey must name each once: $body")
    val outside = protocol.filter(n => calls(rest, n) > 0)
    assert(outside.isEmpty, s"a second keyed-state loop names $outside")
  }

  test("PlaybackConfig.matchingFiles has exactly one caller in src/main") {
    val callers = sources("src/main/scala").flatMap { case (p, text) =>
      Seq.fill(calls(text, "matchingFiles("))(p.getFileName.toString)
    }
    assert(callers == Seq("PlaybackCore.scala"), s"callers of matchingFiles: $callers")
  }
}
