package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins one serving recipe per family in the source: a single query is a
  * batch of one on every path, and the realtime tail merges in one place
  * (`SearchApi.searchAuto`'s legs through `RealtimeTail.mergeTail`).
  */
class ServingRecipeSpec extends AnyFunSuite {

  private def source(rel: String): String =
    Files.readString(Paths.get("src/main/scala/graft", rel))

  test("RealtimeTail defines no search method") {
    val defs = "def search\\w*".r.findAllIn(source("streaming/RealtimeTail.scala")).toList
    assert(defs.isEmpty, defs)
  }

  test("in src/main only SearchApi calls mergeTail") {
    val sites = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(".mergeTail("))
        .map(_.getFileName.toString).toList
    }
    assert(sites == Seq("SearchApi.scala"))
  }

  test("legFor has no single-query operator fork") {
    val api = source("api/SearchApi.scala")
    val start = api.indexOf("def legFor(")
    assert(start >= 0)
    val end = api.indexOf("multi-field conjunctive ROUTING", start)
    assert(end > start)
    val body = api.substring(start, end)
    assert(!body.matches("(?s).*nq\\s*(==|<=)\\s*1.*"),
      "legFor forks on a single query")
  }
}
