package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, do not stop
}

object SparkSpec {
  /** The production session ([[Bench.buildSession]]), so specs check
    * the plans that are benched; only the warehouse moves to a temp dir. */
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    Bench.buildSession()
  }
}
