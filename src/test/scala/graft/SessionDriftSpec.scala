package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guard for the one session factory, the one kernel registry
  * and the one store protocol: every graft session comes from
  * [[Bench.buildSession]], every kernel reaches it through
  * `graft.plans.GraftExtensions`, and every model store writes, reads
  * and compacts its frames through `sources.StoreMaintenance`. A
  * hand-built session, a per-call kernel registration or a store's own
  * copy of the bundle protocol in `src/main` fails the suite instead of
  * drifting the benched, verified and spec'd plans apart again.
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

  test("the store protocol lives only in StoreMaintenance") {
    val stores = sources.map(_._1)
      .filter(_.startsWith("scala/graft/sources/")).toSet --
      Set("scala/graft/sources/StoreMaintenance.scala",
        "scala/graft/sources/Sinks.scala")
    assert(stores.nonEmpty, "no store sources found under src/main")
    for (needle <- Seq("repartitionByRange", "StoreMaintenance.staging(",
        "StoreMaintenance.recover(", "StoreMaintenance.swap(",
        "getFileSystem", "private def checkFormat"))
      assert((filesContaining(needle) & stores).isEmpty,
        s"$needle outside StoreMaintenance: ${filesContaining(needle) & stores}")
  }
}
