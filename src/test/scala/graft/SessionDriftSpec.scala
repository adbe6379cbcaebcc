package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guard for the one session factory and the one kernel
  * registry: every graft session comes from [[Bench.buildSession]], and
  * every kernel reaches it through `graft.plans.GraftExtensions`. A
  * hand-built session or a per-call kernel registration in `src/main`
  * fails the suite instead of drifting the benched, verified and
  * spec'd plans apart again.
  */
class SessionDriftSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
      .toList
    finally walk.close()
  }

  private def filesContaining(needle: String): Set[String] =
    sources.collect { case (path, text) if text.contains(needle) => path }.toSet

  test("src/main builds SparkSessions only in the factory") {
    assert(sources.nonEmpty, "no sources found under src/main")
    assert(filesContaining("SparkSession.builder") ==
      Set("scala/graft/Bench.scala"))
  }

  test("no kernel registration outside the registry") {
    assert(filesContaining("GraftFunctions.register(").isEmpty)
  }
}
