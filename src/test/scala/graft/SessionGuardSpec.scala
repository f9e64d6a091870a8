package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main runs under one session conf: `graft.Session` is the only
  * place in the main sources that builds a SparkSession. A second
  * builder site would bring back a conf that disagrees with the one the
  * oracle dump, the bench and the plan audit share. Pure file scan, no
  * SparkSession needed. */
class SessionGuardSpec extends AnyFunSuite {

  test("src/main/scala holds exactly one SparkSession.builder, in graft.Session") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val sites = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = "SparkSession\\.builder".r
          .findAllIn(java.nio.file.Files.readString(p)).length
        Seq.fill(n)(root.relativize(p).toString)
      }
    assert(sites == Seq("graft/Session.scala"), s"builder sites: $sites")
  }
}
