package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard on the one session factory: every SparkSession in src/main and
  * src/test is built by `GraftCli.session`, so main, tool, bench and test
  * configs cannot drift apart again. A second builder call site fails
  * this test; route it through the factory (its `cpus` and `conf`
  * parameters) instead. Paths are relative to the project root, the
  * forked test JVM's working directory. */
class SessionAuditSpec extends AnyFunSuite {

  test("GraftCli.session is the only place a SparkSession is built") {
    // split so this file's own pattern is not counted as a site
    val pattern = ("SparkSession" + ".builder").r
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = Paths.get(dir)
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString.replace('\\', '/') ->
          pattern.findAllIn(Files.readString(p)).length)
        .filter(_._2 > 0)
    }.toMap
    assert(sites == Map("graft/cli/GraftCli.scala" -> 1),
      s"session builder call sites: $sites")
  }
}
