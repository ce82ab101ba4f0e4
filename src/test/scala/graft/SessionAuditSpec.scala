package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the one session factory and the one Spark-work meter, over
  * src/main and src/test. Every SparkSession is built by
  * `GraftCli.session`, so main, tool, bench and test configs cannot
  * drift apart again: a second builder call site fails, route it through
  * the factory (its `cpus` and `conf` parameters) instead. Every count of
  * Spark work goes through `graft.util.SparkMeter`: a second
  * `SparkListener` fails, measure through the meter's window instead.
  * Paths are relative to the project root, the forked test JVM's
  * working directory. */
class SessionAuditSpec extends AnyFunSuite {

  /** Per source file (relative to src/), the matches of `pattern`. */
  private def sites(pattern: Regex): Map[String, Int] =
    Seq("main/scala", "test/scala").flatMap { dir =>
      val root = Paths.get("src", dir)
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => s"$dir/${root.relativize(p).toString.replace('\\', '/')}" ->
          pattern.findAllIn(Files.readString(p)).length)
        .filter(_._2 > 0)
    }.toMap

  test("GraftCli.session is the only place a SparkSession is built") {
    // split so this file's own pattern is not counted as a site
    val found = sites(("SparkSession" + ".builder").r)
    assert(found == Map("main/scala/graft/cli/GraftCli.scala" -> 1),
      s"session builder call sites: $found")
  }

  test("SparkMeter is the only SparkListener") {
    // a declared listener (subclass or anonymous instance) and a
    // registration each count; split as above
    val found = sites(("(?:(?:new|extends|with)\\s+[\\w.]*Spark" +
      "(?:Firehose)?Listener(?:Interface)?\\b|add" + "SparkListener\\()").r)
    // HttpTextService's application-end hook counts no work: it stops
    // the shared text server when the session that owns it ends
    assert(found == Map("main/scala/graft/util/SparkMeter.scala" -> 2,
      "main/scala/graft/server/HttpTextService.scala" -> 2),
      s"listener sites: $found")
  }
}
