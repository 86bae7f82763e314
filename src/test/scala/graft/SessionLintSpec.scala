package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder: every session comes from [[GraftSession]], so
  * settings cannot drift apart between mains and suites again. */
class SessionLintSpec extends AnyFunSuite {

  private val builderCall = """SparkSession\s*\.\s*builder""".r
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  test("only GraftSession.scala builds a session") {
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val callers = sources.filter { p =>
      val code = comments.replaceAllIn(Files.readString(p), "")
      builderCall.findFirstIn(code).isDefined
    }.map(_.toString).sorted
    assert(callers == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
