package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main runs under one session conf: `graft.Session` is the only
  * place in the main sources that builds a SparkSession. A second
  * builder site would bring back a conf that disagrees with the one the
  * oracle dump, the bench and the plan audit share. Likewise one place
  * reads the dataset directory. Pure file scan, no SparkSession
  * needed. */
class SessionGuardSpec extends AnyFunSuite {

  /** One entry per occurrence of `pattern` in the main sources, named
    * by the file's path under `src/main/scala`. */
  private def sites(pattern: String): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = pattern.r.findAllIn(java.nio.file.Files.readString(p)).length
        Seq.fill(n)(root.relativize(p).toString)
      }
  }

  test("src/main/scala holds exactly one SparkSession.builder, in graft.Session") {
    val builders = sites("SparkSession\\.builder")
    assert(builders == Seq("graft/Session.scala"), s"builder sites: $builders")
  }

  test("SPARK_GRAFT_SF_DIR is read only in graft.Session") {
    // one dataset default: a main with its own default reads another
    // dataset than the plan audit and oracle dump it is compared with
    val readers = sites("SPARK_GRAFT_SF_DIR").distinct
    assert(readers == Seq("graft/Session.scala"), s"SPARK_GRAFT_SF_DIR sites: $readers")
  }
}
